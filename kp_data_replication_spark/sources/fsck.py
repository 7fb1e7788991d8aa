"""Store consistency audit — the Delta FSCK / Iceberg verify-snapshot
analogue for the manifest-pointer table format.

The format's invariants are enforced at write time (atomic pointer swap,
immutable data files, write lock); ``fsck`` re-proves them AFTER the fact
against the actual filesystem, for the operational cases writes can't
protect against: partial restores from backup, manual file deletion, a
copy that dropped files, bit-level tampering with metadata. Reference
analogue: the reference's manual end-state validation procedure
(docs/local-to-es.md:97-106 — consume and compare counts after the fact)
generalized to every invariant the manifest declares.

All checks are metadata-sized: manifest JSON, file existence + ``stat``,
parquet FOOTERS (row counts vs manifest stats). ``deep=True`` adds the
one O(data) invariant — every row actually lives in the bucket its key
hashes to — as a single Spark scan per bucketed read, the same cost class
as one full-table query. Nothing here mutates the store.

Report contract: ``errors`` are broken invariants (the store lies);
``warnings`` are suspicious-but-legal states (crash orphans awaiting
vacuum, consumers pinned far behind). ``ok`` means zero errors.
"""

from __future__ import annotations

import os
from typing import Any

__all__ = ["fsck"]


def _file_size(root: str, rel: str) -> int | None:
    p = os.path.join(root, rel)
    try:
        return os.path.getsize(p)
    except OSError:
        return None


def fsck(store, spark=None, deep: bool = False) -> dict[str, Any]:
    """Audit ``store`` and return
    ``{ok, version, errors, warnings, checked}``.

    Checks (cheap, always run):
      P1  pointer resolves to a parseable manifest whose own ``version``
          matches the pointer
      F1  every data/lineage file each RETAINED manifest references
          exists on disk
      B1  recorded per-bucket bytes equal the on-disk sum (current version)
      S1  manifest zonemap entries refer only to live files, bounds are
          ordered (lo <= hi), and per-file row counts match the parquet
          footers (current version)
      L1  lineage watermarks are non-negative and, across retained
          versions, never move backwards for any (group, partition)
      C1  every registered consumer's pinned version still has a manifest
          (vacuum's min-floor contract held)
      W1  a pending write-audit-publish marker names the version right
          after the head, and that version's manifest exists
      O1  (warning) crash orphans: files under data/ no retained manifest
          references — legal, awaiting vacuum

    ``deep=True`` (requires ``spark``):
      D1  every row of the current version sits in the bucket its key
          hashes to (the routing invariant lookups and MERGE pruning
          rely on)
    """
    import pyarrow.parquet as pq

    errors: list[str] = []
    warnings: list[str] = []
    checked: dict[str, int] = {
        "versions": 0, "files": 0, "footers": 0, "buckets": 0,
    }

    # P1 — pointer / manifest linkage
    head = store.current_version()
    if head == 0:
        return {
            "ok": True, "version": 0, "errors": [],
            "warnings": ["empty store (version 0)"], "checked": checked,
        }
    try:
        cur = store.manifest(head)
    except FileNotFoundError:
        return {
            "ok": False, "version": head,
            "errors": [f"P1: pointer names v{head} but manifests/v{head}.json is missing"],
            "warnings": [], "checked": checked,
        }
    if cur.get("version") != head:
        errors.append(
            f"P1: manifests/v{head}.json declares version {cur.get('version')}"
        )

    # retained manifest set (every version still present on disk)
    mdir = os.path.join(store.root, "manifests")
    retained: dict[int, dict] = {}
    for fn in sorted(os.listdir(mdir)):
        if fn.startswith("v") and fn.endswith(".json"):
            v = int(fn[1:-5])
            m = store.manifest(v)
            if m is not None:
                retained[v] = m
    checked["versions"] = len(retained)

    # F1 — referenced files exist (all retained versions)
    live: set[str] = set()
    for v, m in retained.items():
        rels = [p for fs in m["buckets"].values() for p in fs]
        if m.get("lineage"):
            rels.append(m["lineage"])
        for rel in rels:
            live.add(rel)
            path = os.path.join(store.root, rel)
            if not os.path.exists(path):
                errors.append(f"F1: v{v} references missing file {rel}")
        checked["files"] += len(rels)

    # B1 — recorded bucket bytes == on-disk sum (current version only:
    # bytes ride forward per commit, older manifests recorded then-truth)
    bb = cur.get("bucket_bytes", {})
    for b, fs in cur["buckets"].items():
        checked["buckets"] += 1
        sizes = [_file_size(store.root, f) for f in fs]
        if None in sizes:
            continue  # F1 already reported the missing file
        actual = sum(sizes)
        recorded = int(bb.get(str(b), bb.get(b, -1)))
        if recorded >= 0 and recorded != actual:
            errors.append(
                f"B1: bucket {b} records {recorded} bytes, disk holds {actual}"
            )

    # S1 — zonemap sanity + footer row counts (current version)
    stats = cur.get("stats", {})
    for rel, ent in stats.items():
        if rel not in live:
            errors.append(f"S1: stats entry for non-live file {rel}")
            continue
        path = os.path.join(store.root, rel)
        if not os.path.exists(path):
            continue
        try:
            meta = pq.ParquetFile(path).metadata
        except Exception as exc:  # truncated/overwritten file — report, not crash
            errors.append(f"S1: unreadable parquet footer in {rel}: {exc}")
            continue
        checked["footers"] += 1
        if ent.get("rows") is not None and ent["rows"] != meta.num_rows:
            errors.append(
                f"S1: {rel} stats claim {ent['rows']} rows, footer says "
                f"{meta.num_rows}"
            )
        for col, triple in (ent.get("cols") or {}).items():
            lo, hi = triple[0], triple[1]
            if lo is not None and hi is not None and not (lo <= hi):
                errors.append(f"S1: {rel} column {col} bounds inverted ({lo!r} > {hi!r})")

    # L1 — lineage watermarks monotonic across retained versions
    last: dict[tuple[str, int], int] = {}
    for v in sorted(retained):
        rel = retained[v].get("lineage")
        if not rel or not os.path.exists(os.path.join(store.root, rel)):
            continue
        ldir = os.path.join(store.root, rel)
        import pyarrow.dataset as ds

        for batch in ds.dataset(ldir, format="parquet").to_batches():
            d = batch.to_pydict()
            for g, p, lsn in zip(
                d["consumer_group"], d["partition"], d["applied_lsn"]
            ):
                if lsn is not None and lsn < 0:
                    errors.append(
                        f"L1: v{v} lineage ({g},{p}) has negative lsn {lsn}"
                    )
                key = (g, p)
                if lsn is not None and last.get(key, -1) > lsn:
                    # warning, not error: failover_consumer legitimately
                    # re-seeds a group below its prior mark (as-of
                    # round-down translation); what is NEVER legal is a
                    # silent rewind, which is exactly what surfacing it
                    # here makes visible
                    warnings.append(
                        f"L1: lineage ({g},{p}) moves backwards "
                        f"{last[key]} -> {lsn} at v{v} (legal only for an "
                        "explicit failover re-seed)"
                    )
                if lsn is not None:
                    last[key] = max(last.get(key, -1), lsn)

    # C1 — consumer pins resolvable
    for g, v in sorted(store.consumers().items()):
        v = int(v)
        if v > head:
            errors.append(f"C1: consumer {g} pinned at v{v} beyond head v{head}")
        elif v > 0 and v not in retained:
            errors.append(
                f"C1: consumer {g} pinned at v{v} whose manifest was removed"
            )
        elif head - v > 50:
            warnings.append(
                f"C1: consumer {g} is {head - v} versions behind head"
            )

    # W1 — staged (WAP) marker: publish_staged would refuse a marker that
    # no longer names head+1 (its version was published or overwritten)
    sv = store.staged_version()
    if sv is not None and sv != head + 1:
        errors.append(
            f"W1: staged marker names v{sv}, not v{head + 1} (head is v{head})"
        )
    elif sv is not None and not os.path.exists(
        os.path.join(mdir, f"v{sv}.json")
    ):
        errors.append(f"W1: staged marker names v{sv} whose manifest is missing")

    # O1 — crash orphans (warning only; vacuum's job)
    data_root = os.path.join(store.root, "data")
    n_orphans = 0
    if os.path.isdir(data_root):
        for dirpath, _dirnames, filenames in os.walk(data_root):
            for fn in filenames:
                if not fn.endswith(".parquet"):
                    continue
                rel = os.path.relpath(os.path.join(dirpath, fn), store.root)
                if rel not in live:
                    n_orphans += 1
    if n_orphans:
        warnings.append(
            f"O1: {n_orphans} unreferenced data files await vacuum"
        )

    # D1 — deep: rows live in the bucket their key hashes to
    if deep:
        if spark is None:
            raise ValueError("deep=True requires a SparkSession")
        from pyspark.sql import functions as F

        from .table_store import BUCKET_COL, bucket_expr

        n_bad = 0
        for b, fs in cur["buckets"].items():
            if not fs:
                continue
            paths = [os.path.join(store.root, f) for f in fs]
            df = spark.read.parquet(*paths)
            n_bad += (
                df.withColumn(BUCKET_COL, bucket_expr(cur["n_buckets"]))
                .filter(F.col(BUCKET_COL) != int(b))
                .count()
            )
        if n_bad:
            errors.append(
                f"D1: {n_bad} rows stored outside the bucket their key "
                "hashes to"
            )

    return {
        "ok": not errors,
        "version": head,
        "errors": errors,
        "warnings": warnings,
        "checked": checked,
    }
