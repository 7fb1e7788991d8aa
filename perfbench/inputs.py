"""Benchmark inputs and their oracle.

The program's own load generator (``datagen.write_changelog``) writes the
changelog; this module cuts it into the per-epoch files a streaming
consumer would be handed, and replays those files in plain Python to know,
after every epoch, exactly which rows the table must hold. Everything here
is a pure function of the seed.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

IMAGE_FIELDS = ("repo", "path", "commit", "lang", "content")
# The engine's default topic whitelist: only these events replicate.
REPLICATED_TOPIC = "repos"
# Share of the previous epoch's events re-delivered with each epoch
# (at-least-once delivery after a consumer restart).
REDELIVER_SHARE = 0.1


def content_sha(content: str) -> str:
    return hashlib.sha256(content.encode()).hexdigest()


def image_bytes(img: dict) -> int:
    """Logical size of a row image: the UTF-8 bytes of its fields."""
    return sum(len(str(img[f]).encode()) for f in IMAGE_FIELDS if img.get(f) is not None)


def digest(rows) -> str:
    """Order-independent digest of ``(repo, path, content_sha)`` rows."""
    h = hashlib.sha256()
    for r in sorted(tuple(r) for r in rows):
        h.update("\t".join(r).encode() + b"\n")
    return h.hexdigest()


@dataclass
class EpochPlan:
    """One epoch's input file and what applying it must do to the table."""

    path: str
    events_handed: int  # rows in the file, re-deliveries included
    changed: dict = field(default_factory=dict)  # key -> entry | None (deleted)
    changed_image_bytes: int = 0


@dataclass
class ExpectedState:
    """Live rows of the table, key -> (content_sha, content_chars, image_bytes)."""

    rows: dict = field(default_factory=dict)

    def apply(self, changed: dict) -> None:
        for k, v in changed.items():
            if v is None:
                self.rows.pop(k, None)
            else:
                self.rows[k] = v

    def aggregate(self) -> tuple[int, int]:
        """(live row count, total content characters) — what a full-scan
        ``count(*), sum(length(content))`` over the table must return."""
        return len(self.rows), sum(v[1] for v in self.rows.values())

    def logical_bytes(self) -> int:
        return sum(v[2] for v in self.rows.values())

    def lookup(self, keys) -> set:
        return {(k[0], k[1], self.rows[k][0]) for k in keys if k in self.rows}

    def digest(self) -> str:
        return digest((k[0], k[1], v[0]) for k, v in self.rows.items())


def _write(table: pa.Table, path: str) -> None:
    # Spark reads microsecond timestamps; pyarrow would keep nanoseconds
    pq.write_table(table, path, coerce_timestamps="us", allow_truncated_timestamps=True)


def read_log(changelog_dir: str) -> pa.Table:
    tables = [
        pq.read_table(os.path.join(changelog_dir, f))
        for f in sorted(os.listdir(changelog_dir))
        if f.endswith(".parquet")
    ]
    return pa.concat_tables(tables, promote_options="default")


def _changes(rows: pa.Table, watermark: dict) -> tuple[dict, int]:
    """Replay ``rows`` (any order) against per-partition applied
    watermarks: the last replicated event per key by lsn wins, a delete
    removes the key. Advances ``watermark``; returns (changed, changed
    image bytes)."""
    rows = rows.sort_by([("partition", "ascending"), ("lsn", "ascending")])
    # flattening applies each image's null bitmap to its fields
    cols = rows.select(["partition", "lsn", "op", "source_topic", "before", "after"]
                       ).flatten().to_pydict()
    after = [cols[f"after.{f}"] for f in IMAGE_FIELDS]
    changed: dict = {}
    for i, (p, lsn, op, topic) in enumerate(
        zip(cols["partition"], cols["lsn"], cols["op"], cols["source_topic"])
    ):
        if topic != REPLICATED_TOPIC:
            continue
        if lsn <= watermark.get(p, -1):
            continue  # re-delivery of an applied event
        watermark[p] = lsn
        side = "before" if op == "d" else "after"
        key = (cols[f"{side}.repo"][i], cols[f"{side}.path"][i])
        if op == "d":
            changed[key] = None
        else:
            img = {f: after[j][i] for j, f in enumerate(IMAGE_FIELDS)}
            changed[key] = (content_sha(img["content"]), len(img["content"]), image_bytes(img))
    nbytes = sum(
        v[2] if v is not None else len(k[0].encode()) + len(k[1].encode())
        for k, v in changed.items()
    )
    return changed, nbytes


@dataclass
class EpochLog:
    bootstrap: EpochPlan
    epochs: list[EpochPlan]
    keys: list  # every key the log touches, deleted ones included


def cut_epochs(
    changelog_dir: str, out_dir: str, n_epochs: int, seed: int
) -> EpochLog:
    """Cut a ``versions_per_key=2`` changelog into a bootstrap file (every
    create) and ``n_epochs`` epoch files of the remaining updates and
    deletes. Each partition's events are split in lsn order, so every
    epoch file is a valid next poll of every log partition. Each epoch
    file also re-delivers a seeded ``REDELIVER_SHARE`` of the previous
    file's events, which the engine must drop as already applied."""
    os.makedirs(out_dir, exist_ok=True)
    log = read_log(changelog_dir)
    order = pc.sort_indices(log, [("partition", "ascending"), ("lsn", "ascending")])
    log = log.take(order)
    is_create = pc.equal(log["op"], "c")
    boot = log.filter(is_create)
    rest = log.filter(pc.invert(is_create))

    # per-partition rank -> epoch id, so each epoch takes the same share of
    # every partition's stream
    parts = rest["partition"].to_pylist()
    counts: dict[int, int] = {}
    for p in parts:
        counts[p] = counts.get(p, 0) + 1
    seen: dict[int, int] = {}
    epoch_of = []
    for p in parts:
        r = seen.get(p, 0)
        seen[p] = r + 1
        epoch_of.append(r * n_epochs // counts[p])
    epoch_ids = pa.array(epoch_of)

    rng = random.Random(seed)
    watermark: dict[int, int] = {}
    changed, nbytes = _changes(boot, watermark)
    boot_path = os.path.join(out_dir, "bootstrap.parquet")
    _write(boot, boot_path)
    bootstrap = EpochPlan(boot_path, boot.num_rows, changed, nbytes)
    keys = set(changed)
    prev = boot
    epochs = []
    for e in range(n_epochs):
        cur = rest.filter(pc.equal(epoch_ids, e))
        redeliver = prev.take(
            sorted(rng.sample(range(prev.num_rows), int(prev.num_rows * REDELIVER_SHARE)))
        )
        handed = pa.concat_tables([redeliver, cur])
        changed, nbytes = _changes(handed, watermark)
        path = os.path.join(out_dir, f"epoch-{e:04d}.parquet")
        _write(handed, path)
        epochs.append(EpochPlan(path, handed.num_rows, changed, nbytes))
        keys.update(changed)
        prev = cur
    return EpochLog(bootstrap, epochs, sorted(keys))
