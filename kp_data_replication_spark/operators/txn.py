"""Transactional CDC apply — Kafka ``isolation.level=read_committed``,
re-expressed for the micro-batch engine with faithful LSO semantics.

The reference replicates through Kafka consumers/producers
(docs/index.md:17-52); Kafka's transactional producers write record
batches plus COMMIT/ABORT control records, and a ``read_committed``
consumer never delivers (a) records of aborted transactions or (b) ANY
record beyond the partition's **last stable offset** — the offset of the
first still-open transaction. (b) is what preserves per-partition order:
a transaction's records sit at their original offsets, so everything
after them must wait until the transaction resolves, or a later
non-transactional write would be consumed (and here: MERGED, source-wins)
before an older committed one. The Debezium equivalent groups change
events under a transaction id with BEGIN/END boundary events.

Mapping onto the engine's envelope:

  * a transactional event carries ``headers['_txn_id']``;
  * a MARKER event carries ``headers['_txn_marker']`` = ``commit`` |
    ``abort`` plus the id, and no before/after images — the
    control-record analogue, consumed by the gate before the
    malformed-envelope check ever sees it;
  * per partition, the gate delivers the lsn-prefix strictly below the
    partition's LSO (= min lsn across rows of still-OPEN transactions,
    staged or arriving); committed-transaction rows below the LSO flow
    into the NORMAL apply path (DLQ, constraints, SMT, compaction, MERGE)
    inside the same exactly-once commit; aborted rows are dropped;
    everything at/above the LSO — transactional or not — is WITHHELD in
    a staging snapshot until the blocking transaction resolves.

Exactly-once reasoning (crash windows):

  * The applied watermark advances past every lsn the gate consumed —
    delivered rows through the normal stats, withheld rows and markers
    through the gate's watermark fold — so a source redelivery is dropped
    by the watermark filter (``above_watermarks``) before the gate and
    can never double-stage.
  * The withheld pool is a SNAPSHOT directory named by the table version
    at gate time (``snapshot=<v>``): a replay of a crashed epoch sees the
    same pre-attempt version, reads the same older snapshot, and
    rewrites ``snapshot=<v>`` byte-identically (idempotent overwrite).
    Table versions are monotone across checkpoint restarts, so a new
    checkpoint resumes the same in-flight pool (the group's staged state
    outlives any one stream). Snapshots strictly older than the one read
    are garbage-collected after the table commit; a crash between commit
    and GC just leaves stale dirs that the next GC removes.
  * Transaction STATE ({committed|aborted} id -> epoch) is one JSON file
    per consumer group, replaced atomically BEFORE the table commit;
    marker reprocessing on replay is an idempotent set union. A resolved
    id is GC'd once no withheld row references it; a late REdelivery of
    that transaction arrives below the watermark and never reaches the
    gate, so forgetting the id is safe.

Scale shape (100 TB): the withheld pool is bounded by IN-FLIGHT
transaction volume times the partition fan-in behind the LSO — the same
buffering bound a Kafka read_committed consumer lives with; it is parquet,
rewritten O(pool) per epoch only while transactions are open. Transaction
state and the per-partition LSO map are control-plane sized (open
transactions / partitions, never events). Flows with the default
``read_uncommitted`` never construct the gate — zero cost; a
``read_committed`` flow with nothing in flight pays one header-probe
filter per epoch.
"""

from __future__ import annotations

import json
import os
import shutil
from urllib.parse import quote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TXN_ID_HEADER = "_txn_id"
TXN_MARKER_HEADER = "_txn_marker"


class TxnGate:
    """Per-(table, consumer-group) read_committed gate. Stateless object —
    all state lives under ``<root>/_txn/<group>/`` so kill/resume and a
    new engine instance see the same in-flight transactions."""

    def __init__(self, root: str, group: str):
        self.dir = os.path.join(root, "_txn", quote(group, safe=""))
        self.pool = os.path.join(self.dir, "pool")
        self.state_path = os.path.join(self.dir, "state.json")

    # -------------------------- state file --------------------------- #
    def state(self) -> dict:
        try:
            with open(self.state_path) as f:
                return json.load(f)
        except (OSError, ValueError):
            return {"committed": {}, "aborted": {}, "open": {}}

    def _save_state(self, st: dict) -> None:
        os.makedirs(self.dir, exist_ok=True)
        tmp = self.state_path + f".tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(st, f)
        os.replace(tmp, self.state_path)

    # ------------------------ pool snapshots -------------------------- #
    def _snap_dir(self, version: int) -> str:
        return os.path.join(self.pool, f"snapshot={version}")

    def _snap_versions(self) -> list[int]:
        if not os.path.isdir(self.pool):
            return []
        out = []
        for d in os.listdir(self.pool):
            if d.startswith("snapshot="):
                try:
                    out.append(int(d.split("=", 1)[1]))
                except ValueError:
                    continue
        return sorted(out)

    def _read_pool(self, spark: SparkSession, before_version: int):
        """Latest snapshot strictly older than ``before_version`` (replay
        of a crashed attempt must not read the attempt's own write)."""
        from pyspark.errors import AnalysisException

        cands = [v for v in self._snap_versions() if v < before_version]
        if not cands:
            return None
        path = self._snap_dir(max(cands))
        try:
            return spark.read.option("mergeSchema", "true").parquet(path)
        except AnalysisException:
            # an EMPTY snapshot dir: the pool drained that epoch (written
            # as a marker so older, already-released snapshots stop being
            # the latest)
            return None

    def open_txn_ids(self) -> set:
        """Ids of still-open transactions with withheld rows (ops view —
        CLI ``txn`` / the ``cdc_txn_open`` gauge). Reads ONLY the headers
        column of the latest pool snapshot (column-pruned pyarrow,
        bounded by withheld volume), no Spark session needed."""
        vers = self._snap_versions()
        if not vers:
            return set()
        import pyarrow.dataset as pads

        try:
            tbl = pads.dataset(
                self._snap_dir(max(vers)), format="parquet"
            ).to_table(columns=["headers"])
        except Exception:  # noqa: BLE001 - empty drain-marker snapshot
            return set()
        ids: set = set()
        for m in tbl.column("headers").to_pylist():
            if m:
                tid = dict(m).get(TXN_ID_HEADER)
                if tid is not None:
                    ids.add(tid)
        st = self.state()
        return ids - set(st["committed"]) - set(st["aborted"])

    # ----------------------------- gate ------------------------------ #
    def gate(
        self,
        spark: SparkSession,
        fresh: DataFrame,
        epoch: int,
        version: int,
        timeout_epochs: int | None = None,
    ):
        """Split one deduped batch (plus the withheld pool) into
        (deliver-now frame, watermark fold, counters, post-commit cleanup).

        ``version`` is the table version BEFORE this epoch's commit — the
        snapshot key that makes crashed-epoch replays deterministic.

        ``timeout_epochs``: the ``transaction.max.timeout.ms`` coordinator
        action, done by MECHANISM instead of the operator injecting an
        abort marker by hand. A transaction still open after this many
        epochs since its rows were first withheld is ABORTED by the gate
        (its rows vanish, the LSO unblocks, withheld non-transactional
        rows release). A commit marker arriving LATER for a timed-out id
        is FENCED (ignored) — the zombie-producer rule; rows the zombie
        sends after the abort open a fresh attempt that times out again,
        so a hung producer can stall a partition for at most
        ``timeout_epochs`` per retry, never forever. First-seen epochs
        live in the state file (``open`` map), so the clock survives
        kill/resume; a crash replay of the same epoch re-times-out the
        same ids into the same state (idempotent set union). None (the
        default) keeps Kafka's broker-default behavior of waiting."""
        hdr_id = F.col("headers").getItem(TXN_ID_HEADER)
        hdr_marker = F.col("headers").getItem(TXN_MARKER_HEADER)
        is_marker = hdr_marker.isNotNull()

        st = self.state()
        st.setdefault("open", {})
        timed_out = []
        if timeout_epochs is not None:
            for tid, first in list(st["open"].items()):
                if tid in st["committed"] or tid in st["aborted"]:
                    continue
                if epoch - first >= timeout_epochs:
                    st["aborted"][tid] = epoch
                    timed_out.append(tid)
        pool = self._read_pool(spark, version)
        if (
            pool is None
            and not st["committed"]
            and not st["aborted"]
            and not timed_out
        ):
            # common case: nothing in flight — one cheap header probe
            if fresh.filter(hdr_id.isNotNull() | is_marker).isEmpty():
                return fresh, {}, {}, None

        # markers to the driver (bounded by transactions, not rows)
        markers = [
            (r["tid"], r["marker"])
            for r in fresh.filter(is_marker)
            .select(hdr_id.alias("tid"), hdr_marker.alias("marker"))
            .collect()
        ]
        pending_release = pool is not None and (
            st["committed"] or st["aborted"]
        )
        if (
            not markers
            and not timed_out
            and not pending_release
            and fresh.filter(~is_marker).isEmpty()
        ):
            # nothing new and nothing resolved: the blocked pool carries
            # forward UNTOUCHED under its existing snapshot key — no
            # rewrite, no state change (a redelivered already-watermarked
            # batch lands here: zero cost, zero growth). timed_out forces
            # the full pass: an idle stream must still unblock a hung
            # transaction — that's the stall the timeout exists for.
            # pending_release likewise: a crash between the state save and
            # the table commit leaves a resolved id with rows still in the
            # pool — the replay (or the next idle epoch) must re-release
            # them instead of parking them until the next data batch.
            return fresh, {}, {}, None
        n_fenced = 0
        for tid, marker in markers:
            if tid is None:
                raise ValueError(
                    f"transaction marker without {TXN_ID_HEADER!r} header"
                )
            if marker not in ("commit", "abort"):
                raise ValueError(
                    f"unknown {TXN_MARKER_HEADER!r} value {marker!r} "
                    "(expected 'commit' or 'abort')"
                )
            if marker == "commit" and str(tid) in st["aborted"]:
                # the coordinator already aborted this id (timeout): the
                # producer is a zombie — its commit is fenced, not honored
                n_fenced += 1
                continue
            st["committed" if marker == "commit" else "aborted"][str(tid)] = epoch
        # persist BEFORE any apply: a crash replays the epoch into the
        # same state (idempotent set union)
        self._save_state(st)

        committed = sorted(st["committed"])
        aborted = sorted(st["aborted"])

        # the working set: withheld pool ∪ this batch's non-marker rows
        work = fresh.filter(~is_marker)
        if pool is not None:
            work = pool.unionByName(work, allowMissingColumns=True)
        # aborted transactions' rows vanish (read_committed contract)
        if aborted:
            work = work.filter(hdr_id.isNull() | ~hdr_id.isin(aborted))

        # per-partition LSO = min lsn of still-OPEN transactional rows;
        # control-plane sized collect (partitions, not events)
        open_pred = hdr_id.isNotNull()
        if committed:
            open_pred = open_pred & ~hdr_id.isin(committed)
        lso = {
            r["partition"]: r["lso"]
            for r in work.filter(open_pred)
            .groupBy("partition").agg(F.min("lsn").alias("lso"))
            .collect()
        }

        if lso:
            # deliver the strict lsn-prefix below the partition's LSO
            conds = [
                (F.col("partition") == p) & (F.col("lsn") >= v)
                for p, v in lso.items()
            ]
            blocked = conds[0]
            for c in conds[1:]:
                blocked = blocked | c
            deliver = work.filter(~blocked)
            withheld = work.filter(blocked)
        else:
            deliver, withheld = work, None

        n_withheld = 0
        withheld_ids: set = set()
        if withheld is not None:
            # idempotent snapshot rewrite keyed by pre-commit table version
            withheld.write.mode("overwrite").parquet(self._snap_dir(version))
            for r in (
                withheld.groupBy(hdr_id.alias("tid"))
                .agg(F.count(F.lit(1)).alias("n")).collect()
            ):
                n_withheld += r["n"]
                if r["tid"] is not None:
                    withheld_ids.add(r["tid"])
        elif self._snap_versions():
            # pool fully drained: write an EMPTY snapshot so older ones
            # (which still hold the released rows) stop being the latest
            os.makedirs(self._snap_dir(version), exist_ok=True)

        # watermark fold: every lsn the gate consumed from THIS batch is
        # handled — withheld rows sit in the snapshot, markers are done
        gated_new = fresh.filter(is_marker | hdr_id.isNotNull())
        txn_marks = {
            r["partition"]: r["mx"]
            for r in gated_new.groupBy("partition")
            .agg(F.max("lsn").alias("mx")).collect()
            if r["mx"] is not None
        }
        # non-transactional rows withheld behind an LSO also need the fold
        # (they leave the normal stats path); their lsns are in `withheld`
        if withheld is not None:
            for r in (
                withheld.filter(hdr_id.isNull())
                .groupBy("partition").agg(F.max("lsn").alias("mx")).collect()
            ):
                if r["mx"] is None:
                    continue
                p = r["partition"]
                txn_marks[p] = max(txn_marks.get(p, -1), r["mx"])

        # first-seen epoch per still-open id — the timeout clock. Persisted
        # (atomic replace, control-plane sized) so it survives kill/resume;
        # a pre-existing pool restarted under a new checkpoint re-seeds at
        # the current epoch (conservative: the clock restarts, never skips).
        open_changed = False
        for tid in withheld_ids:
            if str(tid) not in st["open"]:
                st["open"][str(tid)] = epoch
                open_changed = True
        if open_changed:
            self._save_state(st)

        counters = {
            "n_withheld": n_withheld,
            "n_open_txns": len(withheld_ids),
            "n_committed_resolved": len(committed),
            "n_aborted_resolved": len(aborted),
            "lso": {int(p): int(v) for p, v in lso.items()},
        }
        if timed_out:
            counters["n_timeout_aborted"] = len(timed_out)
        if n_fenced:
            counters["n_fenced_commits"] = n_fenced

        read_versions = self._snap_versions()

        def cleanup() -> None:
            """Post-table-commit: GC snapshots older than this epoch's and
            drop resolved ids no withheld row still references. Safe to
            retry — re-release after a crash is deduped below the
            watermark."""
            for v in read_versions:
                if v < version:
                    shutil.rmtree(self._snap_dir(v), ignore_errors=True)
            st2 = self.state()
            st2.setdefault("open", {})
            for tid in committed:
                if tid not in withheld_ids:
                    st2["committed"].pop(tid, None)
                    st2["open"].pop(tid, None)
            for tid in aborted:
                st2["aborted"].pop(tid, None)
                st2["open"].pop(tid, None)
            self._save_state(st2)

        return deliver, txn_marks, counters, cleanup
