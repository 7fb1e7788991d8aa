"""The CDC apply engine: changelog tail -> exactly-once MERGE into the target
table (SURVEY.md §2.1 S5/S7/S8, §2.9 T1-T5,T7).

This is the Spark-native MirrorSourceConnector (docs/index.md:52): where MM2
runs one consume->produce task per topic-partition with offsets committed to
internal topics, this engine runs `readStream` over the changelog ->
`foreachBatch` -> compact + MERGE + lineage, committed atomically per epoch
through the TableStore pointer swap (the exactly-once blueprint of
docs/consideration.md:62).

Batch pipeline (fixed plan shape — no driver-side row loops, everything
distributed):

    changelog batch
      │ topic whitelist/blacklist (rlike, codegen)          F1-F3
      │ lineage watermark filter (literal per-partition     J3
      │   map read driver-side — no join, no broadcast)
      │ envelope unpack (rows persisted for the attempt)    F4
      │ last-write-wins per (repo,path): slim winner stubs  A2/W2
      │   (hash agg, map-side partial) + their bucket
      │ ONE stats action over the stubs: dirty buckets,     A1
      │   watermarks, affinity audit, broadcast estimate
      │ join-back + content normalize (Arrow UDF) + dirty-  F7/J2/S6
      │   bucket MERGE in the write job (only buckets
      │   touched by the batch are read & rewritten)
      └ atomic commit: data + lineage + epoch               S7/S8/T3/T4

Two Spark actions per apply: the stats aggregate and the merge write.

Restart/resume (T1/T2): Structured Streaming's checkpoint replays the last
uncommitted batch with the SAME epoch id; the store fences on
(writer identity, epoch) — the writer is the checkpoint itself — so
re-delivery is a no-op — at-least-once delivery (docs/consideration.md:52-58)
becomes exactly-once, and an unrelated writer sequence (a batch replay on
the same target) can neither fence nor be fenced by this stream.
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.envelope import normalize_content, unpack_envelope
from ..operators.compact import lww_join_winners, lww_winners
from ..operators.constraints import (
    ConstraintViolationError,
    check_envelope,
    stamp_violated_header,
)
from ..operators.dedup_cdc import above_watermarks
from ..operators.filters import DEFAULT_BLACKLIST, select_topics
from ..operators.smt import SmtError, apply_smt_chain, compile_smt_chain
from ..schema import DEFAULT_GROUP, MOR_DELETED_COL, MOR_V_COL
from ..operators.merge import (
    LWW_DELETED_COL,
    LWW_SRC_COL,
    LWW_TS_COL,
    merge_upsert,
)
from ..sources.table_store import (
    BUCKET_COL,
    ConcurrentWriteError,
    TableStore,
    bucket_expr,
)


@dataclass
class EngineConfig:
    whitelist: str | None = "^repos$"
    blacklist: str | None = DEFAULT_BLACKLIST
    # checkpoint lineage is keyed on (consumer_group, partition) — one
    # group per replication flow, mirroring the reference's checkpoint
    # topic keying (docs/consideration.md:37-48); two flows targeting the
    # same table track independent applied-offset watermarks
    consumer_group: str = DEFAULT_GROUP
    # NOTE: bucketing comes from the TableStore manifest (n_buckets is a
    # property of the TABLE, not the engine) — configure it on TableStore
    normalize: bool = True
    metrics: bool = True
    # explicit parallelism for the wide stages; None -> session default
    shuffle_partitions: int | None = None
    # autoBroadcastJoinThreshold while applying a batch: the winner set of
    # a typical micro-batch is tens of MB — worth broadcasting well past
    # Spark's 10MB default. Set None to leave the session value untouched.
    # Also the compaction's broadcast budget: the batch's one stats action
    # over the slim phase-1 winner stubs also sums their count/key-bytes,
    # and the join-back broadcasts only if the estimate fits — a giant batch
    # degrades to a shuffle join instead of OOMing the driver.
    broadcast_threshold: str | None = "256m"
    # hot-BUCKET write salting (reference skew discussion,
    # docs/mm2-provisioning.md:116-124): on the non-clustered write path
    # (one reduce task per dirty bucket) a bucket holding more than this
    # many changed keys gets its write split across key-hash salt slices —
    # no straggler task, identical rows. Hot KEYS need no mitigation:
    # compaction collapses them map-side (partial aggregation) and the
    # phase-2 join keys include lsn, which spreads a hot key's events.
    write_salt_target_keys: int = 2_000_000
    # config hot-reload (docs/index.md:112-114 — `oc apply` rolls MM2
    # config without stopping replication): when set, the engine re-reads
    # this JSON file at the START of every epoch and applies overrides for
    # RELOADABLE fields (see RELOADABLE_FIELDS) to that epoch — a running
    # stream picks up whitelist/throttle/DLQ changes on its next
    # micro-batch, no restart. Identity-bearing fields (consumer_group,
    # conflict_policy, cluster_id) are refused with a warning: changing
    # them mid-stream would corrupt lineage/stamp semantics.
    config_file: str | None = None
    # retention.ms (provisioning.md:188), by mechanism: rows whose
    # retention-timestamp column (epoch MILLISECONDS, like the Kafka
    # config) fell behind the window are expired every
    # retention_every_epochs by a maintenance commit whose version diff
    # shows them as ordinary deletes, so every changefeed consumer
    # (cascades, indexes, agg/join views) retracts them exactly
    # (operators/retention.py). Candidate files come from manifest
    # zonemaps: a pass over a time-clustered table is O(expired), not
    # O(table).
    retention_ms: int | None = None
    retention_ts_col: str = "updated_at"
    retention_every_epochs: int = 1
    # automatic bucket-count growth (MM2 Manager partition-count
    # propagation analogue, docs/perf-tests.md:15): when set, every commit
    # probes the manifest's per-bucket byte totals and DOUBLES n_buckets
    # (via TableStore.rebucket — one full bucket-hash shuffle) until the
    # average bucket fits the budget again. Opt-in: the rewrite is
    # O(table), so the budget should be sized for rare O(log growth)
    # rescales (e.g. 1 GiB per bucket at production scale).
    auto_rebucket_target_bytes: int | None = None
    auto_rebucket_max_buckets: int = 4096
    # conflict resolution at MERGE time: "source-wins" (default — CDC
    # semantics: the incoming batch is the newer truth) or "lww" —
    # CRDT-style last-write-wins by total-order conflict stamp
    # (_lww_ts=origin event time, _lww_src=origin cluster id), the
    # active/active extension for bidirectional topologies where
    # CONCURRENT writes to the same key would otherwise flip-flop per
    # cascade round (docs/consideration.md:29-35). Stamps are stamped at
    # first ingest (from ts_ms + cluster_id) and carried through every
    # cascade as ordinary data columns.
    conflict_policy: str = "source-wins"
    cluster_id: str = ""
    # ACL sync (sync.topic.acls.enabled=true, docs/security.md:171-188):
    # when set to another TableStore's root, each epoch additionally
    # replicates that store's persisted grants into the target store
    # through the MM2 KIP-382 rules (literal topic bindings only, the same
    # topic whitelist/blacklist as the data path, ALLOW WRITE never
    # propagated, ALLOW ALL downgraded to READ, resource renamed
    # acl_sync_alias.topic). Driver-side O(grants) metadata per epoch —
    # MM2's periodic sync re-expressed as an epoch-time step. Additive:
    # revokes do not propagate (faithful to MM2).
    acl_sync_source: str = ""
    acl_sync_alias: str = "source"
    # target-table write strategy: "cow" (default — copy-on-write: each
    # batch MERGEs against its dirty buckets and rewrites them whole) or
    # "mor" (merge-on-read — Iceberg v2 equality-delete / Delta
    # deletion-vector analogue): the batch's compacted rows are APPENDED
    # as a per-bucket delta layer (upserts as full images, deletes as
    # tombstone rows), with NO base read and NO merge join on the write
    # path. Write cost per epoch drops from O(dirty-bucket bytes) to
    # O(batch) — at 100 TB a 1 GB micro-batch touching 500 of 4096 buckets
    # stops re-reading and re-writing ~12 TB of base files per commit.
    # Reads resolve last-layer-wins per key until compaction folds the
    # layers (see mor_fold_max_layers). Identity-bearing (NOT
    # hot-reloadable): flipping strategies mid-stream is safe for STATE
    # (a CoW commit folds layers) but would corrupt the write-amplification
    # accounting a benchmark run depends on. Mutually exclusive with
    # conflict_policy="lww" — LWW resolution stamps and MoR layer stamps
    # are two total orders; composing them needs a stamp-aware fold.
    table_mode: str = "cow"
    # fold a bucket's merge-on-read layers back into plain base files when
    # it accretes this many (rewrite_buckets over just the offenders — one
    # bounded job). The read-side window tax is proportional to layer
    # count, so this bounds BOTH read cost and file count; 0 = never
    # auto-fold (operator-scheduled maintenance only).
    mor_fold_max_layers: int = 8
    # dead-letter queue (Kafka Connect errors.tolerance=all + DLQ topic,
    # which the reference's connector stack exposes): malformed envelopes —
    # no key in either image, unknown op, null lsn — are quarantined to
    # parquet under <dlq_dir>/epoch=N instead of poisoning the merge (a
    # null key would otherwise form a mega-group in the compaction and a
    # bogus row in the target). None (default) = trust the producer:
    # no validation pass, zero extra jobs per epoch — note that WITHOUT a
    # DLQ, null-lsn envelopes are dropped by the watermark dedup (its
    # `lsn > watermark` predicate is NULL for them), not merged. Null-lsn
    # CAPTURE is at-least-once: a producer-level redelivery re-quarantines
    # the same unsequenceable rows under a new epoch directory (same-epoch
    # replays overwrite idempotently); replay_dlq collapses the duplicates
    # by payload, so DLQ growth is bounded by redelivery rate, state by
    # neither.
    dlq_dir: str | None = None
    # flow-level CHECK constraints ({name -> SQL boolean expr over the
    # row's data columns}, operators/constraints.py — the Delta ADD
    # CONSTRAINT / semantic errors.tolerance analogue). Each epoch these
    # are unioned with the TARGET TABLE's persisted constraints
    # (TableStore.add_constraint — table metadata binds every writer;
    # flow config wins a name collision). Violating UPSERT images — NULL
    # passes, FALSE violates, deletes exempt — quarantine to the DLQ with
    # the failing rule names in headers['_violated']; with no dlq_dir the
    # batch FAILS before any state is written (strict Delta default).
    # Zero cost when neither source defines a rule.
    check_constraints: dict | None = None
    # schema-change policy at the target (Kafka Connect sink
    # auto.evolve analogue; the reference's contract is docs/
    # consideration.md:13-18 — topic config changes propagate source ->
    # target automatically, which is "evolve"):
    #   "evolve"  (default) — additive union + type widening
    #             (merge.widen_fields); a non-widenable change still
    #             raises (breaking, not evolution).
    #   "project" — auto.evolve=false: UNKNOWN batch columns are dropped
    #             (the sink writes the fields the table knows), the
    #             target schema never changes; a TYPE change still
    #             raises — silently narrowing data is corruption, not
    #             projection.
    #   "freeze"  — production schema freeze: ANY schema difference
    #             (new column or type change) fails the batch before any
    #             state is written; the operator evolves the table
    #             deliberately (run one batch under "evolve") or fixes
    #             the producer.
    schema_policy: str = "evolve"
    # Single Message Transform chain (operators/smt.py — the Kafka Connect
    # `transforms=` list MM2 flows configure; Debezium convention: unwrap
    # first, then field-level SMTs — the engine's envelope unpack IS the
    # unwrap, so the chain runs over unpacked per-record rows BEFORE
    # last-write-wins compaction, exactly Connect's per-record point: a
    # Filter that drops the newest record makes the previous one the
    # survivor). A list of {"type": <Connect class name>, ...params} dicts;
    # compiled per batch into pure Column expressions that fuse into the
    # ingest projection (one map-side Project — no extra jobs, no UDFs).
    # Structure is validated at stream START (fail at PUT like Connect,
    # not per-record); protected identity columns are refused at compile.
    smt_chain: list | None = None
    # Kafka consumer isolation level (operators/txn.py). "read_committed"
    # delivers a transaction's events to the merge only after its commit
    # marker (headers['_txn_marker']) arrives — same epoch or any later
    # one (events stage under <root>/_txn/<group>/ in between); aborted
    # transactions are dropped. Default "read_uncommitted" = every event
    # applies as it arrives (the gate is never constructed — zero cost).
    # NOT hot-reloadable: toggling it off mid-stream would strand staged
    # in-flight transactions silently.
    txn_isolation: str = "read_uncommitted"
    # transaction.max.timeout.ms, by mechanism: a transaction still open
    # after this many epochs since its rows were first withheld is aborted
    # by the gate itself (rows dropped, LSO unblocked, late commit markers
    # fenced) — the coordinator action the operator previously had to do
    # by hand with an injected abort marker. None = wait forever (the
    # pre-round-4 behavior; head-of-line blocking until resolution).
    txn_timeout_epochs: int | None = None


# fields a hot-reload may change per epoch; identity-bearing fields
# (consumer_group, conflict_policy, cluster_id, config_file itself) are
# deliberately absent — changing them mid-stream corrupts lineage/stamps
RELOADABLE_FIELDS = {
    "whitelist", "blacklist", "normalize", "metrics",
    "shuffle_partitions", "broadcast_threshold", "write_salt_target_keys",
    "dlq_dir", "check_constraints", "schema_policy", "smt_chain",
    "txn_timeout_epochs",
    "retention_ms", "retention_ts_col", "retention_every_epochs",
}


class SchemaPolicyError(ValueError):
    """A batch's row schema differs from the stored schema in a way the
    configured ``schema_policy`` refuses. Raised BEFORE any state is
    written; the batch is intact for a retry under a different policy."""


@dataclass
class CdcApplyEngine:
    store: TableStore
    config: EngineConfig = field(default_factory=EngineConfig)

    # ------------------------------------------------------------------ #
    def _effective_config(self) -> EngineConfig:
        """This epoch's config: the static config plus RELOADABLE overrides
        from ``config_file`` (the `oc apply` hot-roll analogue,
        docs/index.md:112-114). A missing/unreadable file falls back to the
        static config (a half-written file must not stall replication);
        non-reloadable or unknown keys are warned about and ignored."""
        path = self.config.config_file
        if not path:
            return self.config
        import json
        from dataclasses import replace

        try:
            with open(path) as f:
                raw = json.load(f)
        except (OSError, ValueError):
            return self.config
        overrides = {k: v for k, v in raw.items() if k in RELOADABLE_FIELDS}
        rejected = set(raw) - set(overrides)
        if rejected:
            import warnings

            warnings.warn(
                f"hot-reload ignored non-reloadable/unknown keys: "
                f"{sorted(rejected)}",
                stacklevel=2,
            )
        return replace(self.config, **overrides) if overrides else self.config

    # ------------------------------------------------------------------ #
    def apply_batch(
        self, batch: DataFrame, epoch: int, writer_id: str = "default"
    ) -> dict:
        """Apply one micro-batch exactly once. Returns a summary dict.

        ``writer_id`` scopes the epoch-fencing sequence (Delta
        txnAppId/txnVersion pattern): epochs only fence against THIS
        writer's own committed epochs, so a batch replay and a streaming
        checkpoint targeting the same table can never silently no-op each
        other's never-applied batches — cross-writer re-deliveries fall
        through to the lineage-watermark event dedup, which is the actual
        exactly-once guard.

        Concurrent-writer safety: the MERGE is computed against the table
        version current at batch start and committed with
        ``expected_version`` — if ANOTHER writer (a second flow, a cascade,
        a maintenance job) advanced the table in between, the commit raises
        :class:`ConcurrentWriteError` instead of silently dropping that
        writer's rows, and this method recomputes the whole merge against
        fresh state (bounded retries; every step before the commit is
        side-effect-free on the table, so a retry is a clean re-execution)."""
        last: ConcurrentWriteError | None = None
        for _ in range(3):
            try:
                return self._apply_batch_attempt(batch, epoch, writer_id)
            except ConcurrentWriteError as e:
                last = e  # recompute against the advanced version
        raise last

    def _apply_batch_attempt(
        self, batch: DataFrame, epoch: int, writer_id: str = "default"
    ) -> dict:
        import time as _time

        t0 = _time.time()
        phases: dict[str, float] = {}
        spark = batch.sparkSession
        if epoch <= self.store.writer_epoch(writer_id):
            # fenced: this writer already committed this epoch (re-delivery)
            return {"epoch": epoch, "status": "fenced"}
        # everything below reads table state AS OF this version; commit
        # verifies it is still current (optimistic concurrency)
        base_version = self.store.current_version()
        # hot-reload point: reloadable overrides apply to THIS epoch
        config = self._effective_config()
        if config.table_mode not in ("cow", "mor"):
            raise ValueError(f"unknown table_mode {config.table_mode!r}")
        if config.table_mode == "mor" and config.conflict_policy == "lww":
            raise ValueError(
                "table_mode='mor' is mutually exclusive with "
                "conflict_policy='lww': LWW stamps and MoR layer stamps "
                "are two total orders (see EngineConfig.table_mode)"
            )
        if config.shuffle_partitions:
            spark.conf.set(
                "spark.sql.shuffle.partitions", str(config.shuffle_partitions)
            )
        if config.broadcast_threshold:
            spark.conf.set(
                "spark.sql.autoBroadcastJoinThreshold",
                config.broadcast_threshold,
            )

        events = select_topics(batch, config.whitelist, config.blacklist)
        # lineage is one row per (consumer_group, log partition): read/
        # advance/write it driver-side (pyarrow) — no Spark jobs on the
        # epoch's serial path. Only THIS flow's group gates the dedup.
        group = config.consumer_group
        all_lineage_rows = self.store.read_lineage_rows()
        lineage_rows = [
            r for r in all_lineage_rows
            if (r.get("consumer_group") or DEFAULT_GROUP) == group
        ]
        other_group_rows = [
            r for r in all_lineage_rows
            if (r.get("consumer_group") or DEFAULT_GROUP) != group
        ]
        applied_before = {r["partition"]: r["applied_lsn"] for r in lineage_rows}
        unseq = None
        if config.dlq_dir:
            # null-lsn envelopes are unsequenceable: the watermark dedup's
            # `lsn > watermark` predicate is NULL for them, so they would be
            # silently dropped before any post-dedup malformed split saw
            # them. Quarantine them from the raw (whitelisted) batch instead
            # — they need no lsn dedup (nothing can re-deliver a specific
            # null position; epoch-replay re-capture overwrites the same
            # idempotent epoch=N directory).
            unseq = events.filter(F.col("lsn").isNull())
            events = events.filter(F.col("lsn").isNotNull())
        fresh = events.filter(above_watermarks(applied_before))

        txn_marks: dict[int, int] = {}
        txn_counters: dict = {}
        txn_cleanup = None
        if config.txn_isolation == "read_committed":
            # Kafka isolation.level=read_committed (operators/txn.py):
            # marker rows are consumed here (they carry null images and
            # must never reach the malformed split), uncommitted
            # transaction events are staged, committed/released ones flow
            # on through the NORMAL path — DLQ, constraints, SMT,
            # compaction — inside this epoch's exactly-once commit.
            from ..operators.txn import TxnGate

            fresh, txn_marks, txn_counters, txn_cleanup = TxnGate(
                self.store.root, group
            ).gate(
                spark, fresh, epoch, base_version,
                timeout_epochs=config.txn_timeout_epochs,
            )
        elif config.txn_isolation != "read_uncommitted":
            raise ValueError(
                f"unknown txn_isolation {config.txn_isolation!r} "
                "(expected 'read_uncommitted' or 'read_committed')"
            )

        n_dlq = 0
        # CHECK constraints: table-persisted rules bind EVERY writer (the
        # point of putting them in table metadata); flow config may add to
        # them and wins a name collision. Both run at the same exactly-once
        # point as the malformed split — after the watermark dedup, so a
        # re-delivered violating row is dropped by its lsn, never
        # re-quarantined.
        constraints = dict(self.store.constraints())
        if config.check_constraints:
            constraints.update(config.check_constraints)
        if config.dlq_dir:
            # the sequenceable split runs AFTER the watermark dedup, so
            # exactly-once covers the quarantine too: a re-delivered
            # malformed row is dropped by its lsn, never re-captured
            bad = _malformed_envelope_pred()
            quarantined = fresh.filter(bad).unionByName(unseq)
            fresh = fresh.filter(~bad)
            if constraints:
                # semantic rejects quarantine beside the structural ones
                # (errors.tolerance=all), failing rule names recorded in
                # headers['_violated'] for repair + replay
                fresh = check_envelope(fresh, constraints)
                viol = F.size("_violations") > 0
                quarantined = quarantined.unionByName(
                    stamp_violated_header(fresh.filter(viol)).drop(
                        "_violations"
                    )
                )
                fresh = fresh.filter(~viol).drop("_violations")
            dlq_stats = (
                quarantined.groupBy("partition")
                .agg(F.max("lsn").alias("max_lsn"), F.count(F.lit(1)).alias("n"))
                .collect()
            )
            n_dlq = sum(r["n"] for r in dlq_stats)
            if n_dlq:
                # non-transactional quarantine append (monitoring-grade, like
                # metrics): rows are preserved byte-faithfully for repair +
                # replay; the lineage watermark advances past their lsns, so
                # repair means re-submitting them as NEW events (the Kafka
                # Connect DLQ contract — skip, capture, move on)
                quarantined.write.mode("overwrite").parquet(
                    os.path.join(config.dlq_dir, f"epoch={epoch}")
                )
        elif constraints:
            # strict mode (Delta's default): no DLQ -> any violation fails
            # the batch BEFORE a single state byte is written. One extra
            # aggregation job per epoch, paid only by constraint-bearing
            # flows.
            counts = {
                r["rule"]: r["n"]
                for r in check_envelope(fresh, constraints)
                .select(F.explode("_violations").alias("rule"))
                .groupBy("rule")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            if counts:
                raise ConstraintViolationError(counts)

        # normalization runs AFTER compaction: only surviving rows pay the
        # Arrow round-trip (strictly fewer rows, identical result — the
        # winner per key is chosen by lsn, not content)
        rows = unpack_envelope(fresh, normalize=False)
        if config.smt_chain:
            # per-record, pre-compaction (Connect semantics; see
            # EngineConfig.smt_chain). The chain may not touch the merge
            # keys or bookkeeping columns (compile-time guard in smt.py);
            # under LWW it must also leave the conflict stamps alone —
            # a rewritten/removed stamp would fabricate a total order and
            # diverge replicas silently, so the fence is static (a chain
            # that NAMES a stamp column is refused even on a direct-ingest
            # batch whose rows don't carry stamps yet).
            if config.conflict_policy == "lww":
                from ..operators.smt import chain_touches

                bad = chain_touches(
                    config.smt_chain,
                    (LWW_TS_COL, LWW_SRC_COL, LWW_DELETED_COL),
                )
                if bad:
                    raise SmtError(
                        f"smt_chain touches LWW conflict-stamp column(s) "
                        f"{sorted(bad)}; rewriting the total order would "
                        "diverge replicas"
                    )
            rows = apply_smt_chain(rows, config.smt_chain)
        if config.conflict_policy == "lww":
            # stamp (or carry) the total-order conflict stamp: a cascaded
            # image already holds its ORIGIN stamp as data columns (the
            # changefeed replays them); a direct-ingest event is stamped
            # here with its own event time + this cluster's id. Tombstones
            # (null after image -> null carried stamp) stamp from event time.
            ts_stamp = F.unix_millis(F.col("ts_ms"))
            if LWW_TS_COL in rows.columns:
                rows = rows.withColumn(
                    LWW_TS_COL, F.coalesce(F.col(LWW_TS_COL), ts_stamp)
                ).withColumn(
                    LWW_SRC_COL,
                    F.coalesce(F.col(LWW_SRC_COL), F.lit(config.cluster_id)),
                )
            else:
                rows = rows.withColumn(LWW_TS_COL, ts_stamp).withColumn(
                    LWW_SRC_COL, F.lit(config.cluster_id)
                )
            # persisted-tombstone marker: a delete's image (nulls + its own
            # stamp) is written as a row, not dropped — see merge_upsert.
            # Cascaded tombstone images may already carry the marker.
            deleted = F.col("op") == "d"
            if LWW_DELETED_COL in rows.columns:
                deleted = deleted | F.coalesce(
                    F.col(LWW_DELETED_COL), F.lit(False)
                )
            rows = rows.withColumn(LWW_DELETED_COL, deleted)

        # fold the per-key byte total into the compaction aggregate: the
        # metrics pass then never re-reads the (wide) content column — its
        # raw-batch scan touches only slim columns (partition/lsn/ts_ms).
        # _pmin/_pmax audit the key->partition affinity contract the
        # watermark dedup depends on (a key spanning partitions could have
        # its non-winning partition's max lsn compacted away, under-
        # advancing that watermark): min==max per key <=> contract holds.
        extra = {
            "_pmin": F.min("partition"),
            "_pmax": F.max("partition"),
        }
        order_col = "lsn"
        if config.conflict_policy == "lww":
            # under LWW the batch's representative per key must be the
            # STAMP-max, not the lsn-max — a same-batch pair where the
            # later-lsn write carries the older stamp would otherwise ship
            # the wrong image to the merge (order dependence; the CRDT
            # commutativity test exercises exactly this). lsn remains the
            # within-stamp tiebreak, and the TRUE per-key max lsn is folded
            # separately so the applied watermark still advances exactly.
            rows = rows.withColumn(
                "_lww_order",
                F.struct(F.col(LWW_TS_COL), F.col(LWW_SRC_COL), F.col("lsn")),
            )
            order_col = "_lww_order"
            extra["_max_lsn"] = F.max("lsn")
        has_bytes = "content" in rows.columns
        if has_bytes:
            extra["_bytes_fresh"] = F.sum(F.length("content"))
        # the batch is evaluated once: a replica's input is a lazy
        # changefeed diff (a join of two bucket reads) that both the stats
        # job and the join-back inside the write would otherwise recompute
        rows = rows.persist()
        # slim phase-1 winner stubs, one per key, tagged with their bucket
        stubs = lww_winners(
            rows, order_col=order_col, count_col="_n_fresh",
            extra_aggs=extra,
        )
        winners_cached = stubs.withColumn(
            BUCKET_COL, bucket_expr(self.store.n_buckets)
        ).persist()
        try:
            # ONE aggregate over the slim stubs yields, per (bucket,
            # partition): dirty buckets, changed-key count, the applied
            # watermarks, the affinity audit and the broadcast estimate's
            # key bytes. The
            # wide join-back runs once, inside the merge-write job. A key
            # obeying affinity has _pmin == _pmax; one that does not raises
            # below, so grouping on _pmax is grouping on its partition.
            stat_aggs = [
                F.count(F.lit(1)).alias("n_keys"),
                # under LWW ordering the winner's own lsn may not be the
                # key's max — the folded _max_lsn keeps the watermark exact
                F.max(
                    F.col("_max_lsn") if order_col != "lsn" else F.col("lsn")
                ).alias("max_lsn"),
                F.sum("_n_fresh").alias("n_fresh"),
                F.sum(
                    F.when(F.col("_pmax") > F.col("_pmin"), 1).otherwise(0)
                ).alias("n_affinity_violations"),
                F.sum(
                    F.octet_length(F.concat_ws("", F.col("repo"), F.col("path")))
                ).alias("key_bytes"),
            ]
            if has_bytes:
                stat_aggs.append(F.sum("_bytes_fresh").alias("bytes_fresh"))
            stats = (
                winners_cached.groupBy(
                    BUCKET_COL, F.col("_pmax").alias("partition")
                )
                .agg(*stat_aggs)
                .collect()
            )
            n_violations = sum(r["n_affinity_violations"] for r in stats)
            if n_violations:
                raise ValueError(
                    f"{n_violations} key(s) have events in more than one log "
                    "partition this batch — the key->partition affinity "
                    "contract (Kafka key-hash routing, "
                    "SendProductToKafka.py:48) is violated; per-partition "
                    "applied watermarks would under-advance and re-delivered "
                    "older images could overwrite newer target rows."
                )
            dirty = sorted({r[BUCKET_COL] for r in stats})
            n_changed = sum(r["n_keys"] for r in stats)
            # broadcast-side estimate: raw key bytes + per-row JVM/agg-col
            # overhead, times 4 for the broadcast hash relation's expansion;
            # a winner set over budget degrades to a shuffle join-back
            est = 4 * (
                sum(r["key_bytes"] or 0 for r in stats)
                + n_changed * (16 * len(stubs.columns) + 48)
            )
            budget = _parse_size_bytes(config.broadcast_threshold) or (256 << 20)
            compact_path = "broadcast" if est <= budget else "shuffle"
            compacted = lww_join_winners(
                rows, winners_cached.drop(BUCKET_COL), order_col=order_col,
                broadcast=compact_path == "broadcast",
            )
            # normalization (an Arrow NFC pass) cannot change the winner —
            # it is chosen by lsn — nor the stats above, so it runs once,
            # inside the merge-write job, overlapped with the write
            batch_source = compacted
            if config.normalize and "content" in compacted.columns:
                batch_source = compacted.withColumn(
                    "content", normalize_content(F.col("content"))
                )
            marks: dict[int, dict] = {}
            for r in stats:
                m = marks.setdefault(
                    r["partition"], {"applied_lsn": -1, "n_applied": 0, "bytes_in": 0}
                )
                m["applied_lsn"] = max(m["applied_lsn"], r["max_lsn"])
                m["n_applied"] += r["n_fresh"]
                if has_bytes:
                    m["bytes_in"] += r["bytes_fresh"] or 0
            if n_dlq:
                # the watermark must clear quarantined lsns too, or a
                # partition whose TAIL events were malformed re-captures
                # them on every redelivery (they are handled — in the DLQ —
                # not pending)
                for r in dlq_stats:
                    if r["max_lsn"] is None:
                        # partition quarantined only null-lsn rows — nothing
                        # to advance past
                        continue
                    m = marks.setdefault(
                        r["partition"],
                        {"applied_lsn": -1, "n_applied": 0, "bytes_in": 0},
                    )
                    m["applied_lsn"] = max(m["applied_lsn"], r["max_lsn"])
            for p, mx in txn_marks.items():
                # staged/marker lsns are HANDLED (in staging / consumed),
                # not pending: advance past them so a source redelivery
                # can never double-stage (operators/txn.py crash windows)
                if mx is None:
                    continue
                m = marks.setdefault(
                    p, {"applied_lsn": -1, "n_applied": 0, "bytes_in": 0}
                )
                m["applied_lsn"] = max(m["applied_lsn"], mx)
            phases["compact"] = round(_time.time() - t0, 3)
            t0 = _time.time()

            # metrics are non-transactional monitoring appends: run the job
            # CONCURRENTLY with the merge+commit (Spark actions are thread-
            # safe per context) — its driver latency then hides behind the
            # merge instead of extending the epoch's serial tail
            metrics_thread = None
            metrics_err: list[BaseException] = []
            if config.metrics:
                import threading

                def _metrics_job():
                    try:
                        self._write_metrics(events, marks, epoch, applied_before)
                    except BaseException as e:  # noqa: BLE001
                        metrics_err.append(e)

                metrics_thread = threading.Thread(
                    target=_metrics_job, name=f"metrics-e{epoch}", daemon=True
                )
                metrics_thread.start()

            row_schema = self._union_row_schema(
                compacted, config.schema_policy
            )
            if dirty:
                batch_side = batch_source.drop(
                    BUCKET_COL, "_n_fresh", "_bytes_fresh", "_pmin", "_pmax",
                    "_lww_order", "_max_lsn",
                )
                if config.schema_policy == "project":
                    # auto.evolve=false: write only the fields the table
                    # knows — unknown batch columns are dropped, the
                    # target schema never changes
                    known = {f.name for f in row_schema.fields} | {
                        "op", "partition", "lsn", "ts_ms"
                    }
                    extra = [
                        c for c in batch_side.columns if c not in known
                    ]
                    if extra:
                        batch_side = batch_side.drop(*extra)
                mor_delta = (
                    config.table_mode == "mor"
                    and bool(self.store._bucket_files(dirty))
                )
                if mor_delta:
                    # merge-on-read delta layer: the batch's compacted rows
                    # ARE the commit — no base read, no merge join. Deletes
                    # persist as tombstone rows (keys from the before image,
                    # data columns null) until compaction folds the layers.
                    merged = batch_side.withColumn(
                        MOR_DELETED_COL, F.col("op") == "d"
                    ).drop("op", "partition", "lsn", "ts_ms")
                    present = set(merged.columns)
                    for fld in row_schema.fields:
                        if fld.name not in present:
                            merged = merged.withColumn(
                                fld.name, F.lit(None).cast(fld.dataType)
                            )
                elif self.store._bucket_files(dirty):
                    # include_deleted: persisted LWW tombstones must join so
                    # their stamps fence re-delivered older writes
                    target_dirty = self.store.read_state(
                        spark, buckets=dirty, include_deleted=True
                    )
                    merged = merge_upsert(
                        target_dirty,
                        batch_side,
                        lww=config.conflict_policy == "lww",
                    )
                else:
                    # every dirty bucket is empty on the target (bootstrap /
                    # first touch): MERGE degenerates to INSERT-where-not-
                    # tombstone — skip the join stage entirely; null-pad any
                    # stored column this pre-evolution batch lacks. Under lww
                    # the tombstone IMAGE persists (nulls + stamp + marker).
                    if config.conflict_policy == "lww":
                        merged = batch_side.drop(
                            "op", "partition", "lsn", "ts_ms"
                        )
                    else:
                        merged = batch_side.filter(F.col("op") != "d").drop(
                            "op", "partition", "lsn", "ts_ms"
                        )
                    present = set(merged.columns)
                    for fld in row_schema.fields:
                        if fld.name not in present:
                            merged = merged.withColumn(
                                fld.name, F.lit(None).cast(fld.dataType)
                            )
                # cast to the (possibly widened) union schema so every file
                # written this epoch carries the manifest's column types;
                # cast_up handles structs that gained nested fields
                from ..operators.merge import cast_up

                mtypes = {f.name: f.dataType for f in merged.schema.fields}
                mor_extras = (
                    [
                        F.col(MOR_DELETED_COL),
                        # stamped with THIS commit's version; the
                        # expected_version check makes base_version+1 exact
                        F.lit(base_version + 1).cast("long").alias(MOR_V_COL),
                    ]
                    if mor_delta
                    else []
                )
                merged = merged.select(
                    *[cast_up(F.col(f.name), mtypes[f.name], f.dataType)
                      .alias(f.name)
                      for f in row_schema.fields],
                    *mor_extras,
                ).withColumn(BUCKET_COL, bucket_expr(self.store.n_buckets))
            else:
                mor_delta = False
                merged = None

            new_lineage = self._advance_lineage_rows(
                lineage_rows, marks, epoch, group
            ) + other_group_rows

            # The compaction groupBy hash-partitions rows on (repo, path)
            # with Spark's murmur3 — the SAME function bucket_expr uses — so
            # whenever shuffle.partitions is a multiple of n_buckets, every
            # reduce partition maps into exactly one bucket and the
            # pre-write repartition (a full extra shuffle of the merged
            # output) is a no-op we can skip.
            try:
                n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
            except Exception:  # noqa: BLE001
                n_shuffle = 0
            clustered = n_shuffle > 0 and n_shuffle % self.store.n_buckets == 0
            # hot-bucket probe (free — from the stats already collected):
            # on the one-task-per-bucket write path, salt a bucket whose
            # changed-key count would make its write task a straggler
            write_salt = 1
            if merged is not None and not clustered:
                per_bucket: dict[int, int] = {}
                for r in stats:
                    per_bucket[r[BUCKET_COL]] = (
                        per_bucket.get(r[BUCKET_COL], 0) + r["n_keys"]
                    )
                hottest = max(per_bucket.values(), default=0)
                if hottest > config.write_salt_target_keys:
                    write_salt = min(
                        16, -(-hottest // config.write_salt_target_keys)
                    )
            version = self.store.commit(
                merged, dirty, new_lineage, epoch, row_schema,
                clustered=clustered, writer_id=writer_id,
                write_salt=write_salt,
                expected_version=base_version, mor=mor_delta,
            )
            phases["merge_commit"] = round(_time.time() - t0, 3)
            t0 = _time.time()
            summary = {
                "epoch": epoch,
                "status": "committed",
                "version": version,
                "keys_changed": n_changed,
                "dirty_buckets": len(dirty),
                "n_dlq": n_dlq,
                "compact_path": compact_path,
                "write_salt": write_salt,
                "mor_delta": mor_delta,
            }
            if txn_cleanup is not None:
                # AFTER the table commit: drop released/aborted staging and
                # GC resolved ids; a crash here retries next epoch with the
                # re-release deduped below the watermark
                txn_cleanup()
            if txn_counters:
                summary["txn"] = txn_counters
            if mor_delta and config.mor_fold_max_layers:
                # layer-count fold: bound the read-side resolution window
                # and the per-bucket file count. Pure manifest metadata to
                # decide; the fold itself is one bounded rewrite job over
                # just the offending buckets.
                mor_map = (self.store.current_manifest() or {}).get("mor") or {}
                over = sorted(
                    int(b) for b, n in mor_map.items()
                    if n >= config.mor_fold_max_layers
                )
                if over:
                    out = self.store.rewrite_buckets(
                        spark, min_files=0, buckets=over
                    )
                    summary["mor_folded"] = out["rewritten_buckets"]
                    phases["mor_fold"] = round(_time.time() - t0, 3)
                    t0 = _time.time()
            if config.auto_rebucket_target_bytes:
                # commit-time volume probe (MM2's Manager propagates
                # partition-count increases automatically,
                # docs/perf-tests.md:15 — this is the bucket analogue):
                # pure manifest metadata (bucket_bytes recorded at commit),
                # no filesystem walk. Doubling until the average bucket
                # fits the budget gives O(log growth) rescales over the
                # table's life; the rewrite itself is one bucket-hash
                # shuffle, and every manifest carries its own layout so
                # readers/changefeeds cross the boundary seamlessly.
                n_b = self.store.n_buckets
                avg = self.store.live_bytes() / max(n_b, 1)
                if avg > config.auto_rebucket_target_bytes:
                    new_n = n_b
                    total = avg * n_b
                    while (
                        total / new_n > config.auto_rebucket_target_bytes
                        and new_n < config.auto_rebucket_max_buckets
                    ):
                        new_n *= 2
                    if new_n != n_b:
                        out = self.store.rebucket(spark, new_n)
                        summary["rebucketed_to"] = out["n_buckets"]
                        phases["rebucket"] = round(_time.time() - t0, 3)
                        t0 = _time.time()
            if config.acl_sync_source:
                from ..operators.acl_sync import sync_grants

                acl_out = sync_grants(
                    TableStore(config.acl_sync_source),
                    self.store,
                    config.acl_sync_alias,
                    whitelist=config.whitelist,
                    blacklist=config.blacklist,
                )
                summary["acls_applied"] = acl_out["n_applied"]
            if metrics_thread is not None:
                metrics_thread.join()
                phases["metrics_wait"] = round(_time.time() - t0, 3)
                if metrics_err:  # monitoring is best-effort; state committed
                    import warnings

                    warnings.warn(
                        f"metrics write failed for epoch {epoch}: {metrics_err[0]!r}",
                        stacklevel=2,
                    )
            summary["phases"] = phases
            return summary
        finally:
            winners_cached.unpersist()
            rows.unpersist()

    # ------------------------------------------------------------------ #
    @staticmethod
    def _advance_lineage_rows(
        lineage_rows: list[dict],
        marks: dict[int, dict],
        epoch: int,
        group: str = DEFAULT_GROUP,
    ) -> list[dict]:
        """Monotone watermark merge, driver-side (the lineage table is one
        row per (consumer_group, log partition)). Watermarks never regress —
        a re-delivered older range cannot move applied_lsn backwards
        (exactly-once fencing, docs/consideration.md:62). ``lineage_rows``
        must already be filtered to ``group``."""
        from datetime import datetime, timezone

        now = datetime.now(tz=timezone.utc).replace(tzinfo=None)
        out = {
            r["partition"]: {
                "consumer_group": group,
                "partition": r["partition"],
                "applied_lsn": r["applied_lsn"],
                "epoch": epoch,
                "n_applied": r.get("n_applied") or 0,
                "updated_ts": r.get("updated_ts") or now,
            }
            for r in lineage_rows
        }
        for p, m in marks.items():
            cur = out.setdefault(
                p,
                {"consumer_group": group, "partition": p, "applied_lsn": -1,
                 "epoch": epoch, "n_applied": 0, "updated_ts": now},
            )
            cur["applied_lsn"] = max(cur["applied_lsn"], m["applied_lsn"])
            cur["n_applied"] += m["n_applied"]
            cur["epoch"] = epoch
            cur["updated_ts"] = now
        return sorted(out.values(), key=lambda r: r["partition"])

    # ------------------------------------------------------------------ #
    def _union_row_schema(
        self, compacted: DataFrame, policy: str = "evolve"
    ) -> T.StructType:
        """The row schema this batch commits under, per ``schema_policy``.

        "evolve" (default): additive union of the stored schema and the
        batch's row schema (S6 — target DDL follows source,
        docs/consideration.md:13-18), with TYPE WIDENING for columns whose
        source type grew (int -> long, float -> double;
        merge.widen_fields). Widening is metadata-only: the manifest
        schema takes the wider type and Spark's parquet reader upcasts the
        untouched old files' pages on read — no rewrite.

        "project"/"freeze": the STORED schema, verified compatible —
        freeze refuses any difference, project tolerates (and the caller
        drops) unknown columns; both refuse a type change."""
        from ..operators.merge import widen_fields

        meta = {"op", "partition", "lsn", "ts_ms", BUCKET_COL,
                "_n_fresh", "_bytes_fresh", "_pmin", "_pmax",
                "_lww_order", "_max_lsn"}
        batch_fields = [
            f for f in compacted.schema.fields if f.name not in meta
        ]
        stored = self.store.schema()
        if stored is None:
            # first commit defines the table under every policy
            return T.StructType(batch_fields)
        if policy == "evolve":
            return widen_fields(stored, batch_fields)
        if policy not in ("project", "freeze"):
            raise ValueError(f"unknown schema_policy {policy!r}")
        by_name = {f.name: f.dataType for f in stored.fields}
        changed = {
            f.name: (by_name[f.name].simpleString(), f.dataType.simpleString())
            for f in batch_fields
            if f.name in by_name and f.dataType != by_name[f.name]
        }
        if changed:
            raise SchemaPolicyError(
                f"schema_policy={policy!r} refuses type change(s) "
                f"{changed}; narrowing/rewriting data silently would be "
                "corruption — evolve deliberately or fix the producer"
            )
        new = sorted(f.name for f in batch_fields if f.name not in by_name)
        if new and policy == "freeze":
            raise SchemaPolicyError(
                f"schema_policy='freeze' refuses new column(s) {new}; run "
                "one batch under schema_policy='evolve' to grow the table "
                "deliberately, or 'project' to drop unknown fields"
            )
        return stored

    def _write_metrics(
        self,
        events: DataFrame,
        marks: dict[int, dict],
        epoch: int,
        applied_before: dict,
    ) -> None:
        """Per-partition per-epoch replication metrics (SURVEY.md §2.4 A6-A7,
        §2.9 T6): records, duplicates masked, bytes, lag inputs. Mirrors the
        MM2 JMX metric set record-count/record-age-ms/replication-latency-ms
        (mirror-maker-2/mm2-jmx-exporter.yaml:28-43). Non-transactional
        append — monitoring data, not engine state. ``marks`` comes from the
        stats action over the winner stubs, so this adds exactly one raw-batch
        scan (for the duplicate/byte totals that dedup necessarily
        discards).

        Scale note: the raw-batch scan here reads ONLY slim columns
        (partition/lsn/ts_ms — a few bytes per event after parquet column
        pruning). ``bytes_in`` (the wide content column) is folded into the
        compaction aggregate upstream and arrives via ``marks``; it counts
        bytes of APPLIED events — already-applied re-deliveries are excluded,
        which matches the replicated-bytes meaning of the MM2 byte-rate
        metric.

        ONE distributed job runs here — the slim per-partition aggregate
        over the raw batch (count/max_lsn/ts-range; parquet column pruning
        makes it a few bytes per event). Its ~32-row result is collected
        and everything else — idle-heartbeat padding, the joins against
        ``marks``/``applied_before``, the parquet append — happens
        driver-side via pyarrow. The previous all-Spark formulation (three
        ``createDataFrame`` round-trips, two broadcast joins, a write job)
        cost 6-8 s of serial driver latency per epoch, which FIFO-queued
        behind the merge and dominated small epochs; this path is ~0.7 s
        and genuinely hides behind the merge. Event times travel as epoch
        micros (not collected datetimes) so no driver-timezone conversion
        can skew them; the parquet schema annotates UTC, which Spark reads
        back as TIMESTAMP."""
        from datetime import datetime, timezone

        # the slim projection reads a few MB after parquet column pruning;
        # AQE coalesces the near-empty post-scan partitions
        agg_rows = (
            events.select("partition", "lsn", "ts_ms")
            .groupBy("partition")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.max("lsn").alias("max_lsn"),
                F.min(F.unix_micros("ts_ms")).alias("min_ts_us"),
                F.max(F.unix_micros("ts_ms")).alias("max_ts_us"),
            )
            .collect()
        )
        seen = {int(r["partition"]): r for r in agg_rows}

        def _ts(us: int | None) -> datetime | None:
            if us is None:
                return None
            return datetime.fromtimestamp(us / 1_000_000, tz=timezone.utc)

        # ts3 (target apply wall clock); with producer-set max_ts (ts2)
        # this is replication-latency-ms per partition
        apply_ts = datetime.now(tz=timezone.utc)
        out = []
        # HEARTBEAT semantics (S10, docs/perf-tests.md:173-187, MM2's
        # heartbeats topic): every KNOWN partition emits a row each epoch
        # even when the batch carried no events for it — downstream latency/
        # liveness monitors distinguish "idle but alive" from "stalled"
        for p in sorted(set(seen) | {int(k) for k in applied_before}):
            r = seen.get(p)
            m = marks.get(p) or {}
            n_events = int(r["n_events"]) if r is not None else 0
            n_applied = int(m.get("n_applied") or 0)
            before = applied_before.get(p)
            out.append(
                {
                    "epoch": int(epoch),
                    "partition": p,
                    "n_events": n_events,
                    "n_applied": n_applied,
                    "n_duplicates": n_events - n_applied,
                    "bytes_in": int(m.get("bytes_in") or 0),
                    "max_lsn": int(r["max_lsn"]) if r is not None else None,
                    "applied_lsn_before": int(before) if before is not None else None,
                    "min_ts": _ts(r["min_ts_us"]) if r is not None else None,
                    "max_ts": _ts(r["max_ts_us"]) if r is not None else None,
                    "apply_ts": apply_ts,
                }
            )

        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        schema = pa.schema(
            [
                ("epoch", pa.int64()),
                ("partition", pa.int32()),
                ("n_events", pa.int64()),
                ("n_applied", pa.int64()),
                ("n_duplicates", pa.int64()),
                ("bytes_in", pa.int64()),
                ("max_lsn", pa.int64()),
                ("applied_lsn_before", pa.int64()),
                ("min_ts", pa.timestamp("us", tz="UTC")),
                ("max_ts", pa.timestamp("us", tz="UTC")),
                ("apply_ts", pa.timestamp("us", tz="UTC")),
            ]
        )
        mdir = os.path.join(self.store.root, "metrics")
        os.makedirs(mdir, exist_ok=True)
        pq.write_table(
            pa.Table.from_pylist(out, schema=schema),
            os.path.join(mdir, f"epoch-{epoch}-{uuid.uuid4().hex[:8]}.parquet"),
        )

    # ------------------------------------------------------------------ #
    def bootstrap_snapshot(
        self,
        snapshot: DataFrame,
        watermarks: dict[int, int],
        epoch: int = 0,
        writer_id: str = "snapshot",
    ) -> dict:
        """Initial-snapshot load (Debezium snapshot mode -> streaming
        handoff): bulk-load a consistent table snapshot as the first
        committed version and initialize the lineage watermarks to the
        snapshot's log position, so the subsequent tail applies ONLY events
        past the snapshot point — no replay of history that is already in
        the snapshot, no gap.

        ``snapshot``: the row image at the snapshot point (key + data
        columns, no envelope). ``watermarks``: {log partition -> last lsn
        REFLECTED in the snapshot}; events with lsn <= watermark dedup away
        exactly like re-deliveries. One distributed job: bucket + write;
        the lineage rows are driver-side (one per partition).

        Scale shape: this is the one deliberately table-sized write the
        engine ever does (every later epoch is bounded by batch size); it
        is a single scan -> bucket-hash shuffle -> partitioned write of the
        snapshot, no join, no Python.
        """
        if epoch <= self.store.writer_epoch(writer_id):
            return {"epoch": epoch, "status": "fenced"}
        row_schema = T.StructType(
            [f for f in snapshot.schema.fields if f.name != BUCKET_COL]
        )
        data = snapshot.withColumn(BUCKET_COL, bucket_expr(self.store.n_buckets))
        all_buckets = list(range(self.store.n_buckets))
        from datetime import datetime, timezone

        now = datetime.now(tz=timezone.utc).replace(tzinfo=None)
        lineage = [
            {
                "consumer_group": self.config.consumer_group,
                "partition": int(p),
                "applied_lsn": int(lsn),
                "epoch": epoch,
                "n_applied": 0,
                "updated_ts": now,
            }
            for p, lsn in sorted(watermarks.items())
        ]
        version = self.store.commit(
            data, all_buckets, lineage, epoch, row_schema, writer_id=writer_id
        )
        return {"epoch": epoch, "status": "committed", "version": version}

    # ------------------------------------------------------------------ #
    def replay_dlq(
        self,
        spark: SparkSession,
        dlq_dir: str,
        writer_id: str = "dlq-replay",
        new_dlq_dir: str | None = None,
    ) -> dict:
        """Re-submit (repaired) quarantined envelopes as NEW events — the
        second half of the errors.tolerance=all contract (capture, repair,
        move on): the operator fixes the parquet under ``dlq_dir`` (or a
        copy), then this re-sequences every row PAST the current applied
        watermarks and routes it by its (possibly repaired) key, so the
        normal exactly-once apply path accepts it.

        Re-sequencing is mandatory: the quarantined lsns were deliberately
        cleared by the watermark at capture time (else every redelivery
        would re-capture them), so replaying them verbatim would dedup to
        nothing. Re-routing (partition = key-hash mod the known partition
        count) is also mandatory: a repair may have CHANGED the key, and
        the original partition would then violate the key->partition
        affinity contract.

        Rows still malformed after "repair" quarantine again into
        ``new_dlq_dir`` (pass one to keep the loop going); with no
        ``new_dlq_dir`` an explicit validation pass fails the batch before
        any state is touched — the right default for a repair step that
        claims to be done (a keyless row would otherwise slip past the
        affinity check and merge as a (null,null)-keyed bogus row).

        Re-submission is AT-LEAST-ONCE by design (each run takes fresh
        lsns, like re-producing repaired records to Kafka); replaying the
        same repair twice converges to the same state (full-image upserts
        are value-idempotent), it is not fenced.
        """
        from pyspark.sql import Window as W

        df = spark.read.option("mergeSchema", "true").parquet(dlq_dir)
        # capture is at-least-once for NULL-LSN rows: they are split from
        # the raw batch BEFORE the watermark dedup (nothing can sequence
        # them), so a producer-level redelivery in a later epoch quarantines
        # the same rows under a new epoch=M directory. Replay is where the
        # duplicates collapse: identical payloads are one event. (headers
        # excluded — map columns aren't groupable; two captures of the same
        # event carry identical headers anyway.)
        df = df.dropDuplicates(
            [c for c in ("partition", "lsn", "op", "before", "after",
                         "ts_ms", "source_topic") if c in df.columns]
        )
        group = self.config.consumer_group
        lineage = [
            r for r in self.store.read_lineage_rows()
            if (r.get("consumer_group") or DEFAULT_GROUP) == group
        ]
        parts = sorted({int(r["partition"]) for r in lineage})
        n_parts = (max(parts) + 1) if parts else 1
        wm_map = F.create_map(
            *[x for r in lineage for x in (
                F.lit(int(r["partition"])), F.lit(int(r["applied_lsn"]))
            )]
        ) if lineage else F.create_map()
        routed = df.withColumn(
            "partition",
            F.pmod(
                F.hash(
                    F.coalesce(F.col("after.repo"), F.col("before.repo")),
                    F.coalesce(F.col("after.path"), F.col("before.path")),
                ),
                F.lit(n_parts),
            ).cast("int"),
        )
        # deterministic fresh sequence per (new) partition, past the
        # watermark: original lsn (nulls last) then key as the order
        order = W.partitionBy("partition").orderBy(
            F.col("lsn").asc_nulls_last(),
            F.coalesce(F.col("after.repo"), F.col("before.repo")),
            F.coalesce(F.col("after.path"), F.col("before.path")),
        )
        resequenced = routed.withColumn(
            "lsn",
            F.coalesce(wm_map[F.col("partition")], F.lit(-1))
            + F.row_number().over(order),
        )
        if new_dlq_dir is None:
            # the "repair is done" contract must be ENFORCED, not assumed: a
            # still-keyless row would otherwise route to pmod(hash(null,null))
            # — a single partition, so the affinity check passes — and INSERT
            # a (null,null)-keyed bogus row through the full-outer merge (the
            # exact poisoning the DLQ exists to prevent). Fail the batch
            # before any state is touched. (lsn was just re-assigned, so only
            # the key/op clauses can fire here.)
            n_bad = resequenced.filter(_malformed_envelope_pred()).count()
            if n_bad:
                raise ValueError(
                    f"replay_dlq: {n_bad} row(s) in {dlq_dir} are still "
                    "malformed after repair; fix them or pass new_dlq_dir "
                    "to re-quarantine instead"
                )
        from dataclasses import replace as _dc_replace

        engine = type(self)(
            self.store, _dc_replace(self.config, dlq_dir=new_dlq_dir)
        )
        return engine.apply_batch(
            resequenced, self.store.writer_epoch(writer_id) + 1,
            writer_id=writer_id,
        )

    # ------------------------------------------------------------------ #
    def replay_batch(
        self,
        spark: SparkSession,
        changelog_path: str,
        read_schema: T.StructType | None = None,
    ) -> dict:
        """Full batch replay (`--from-beginning`, S4): the whole changelog as
        one epoch, under the dedicated "replay" writer sequence — its epochs
        never fence (nor are fenced by) a streaming checkpoint's batch ids.

        ``read_schema``: pass the known envelope schema to skip the
        mergeSchema footer sweep (one footer read per file, serial driver
        latency on every replay)."""
        import time as _time

        t0 = _time.time()
        if read_schema is not None:
            df = spark.read.schema(read_schema).parquet(changelog_path)
        else:
            df = spark.read.option("mergeSchema", "true").parquet(changelog_path)
        read_sec = round(_time.time() - t0, 3)
        out = self.apply_batch(
            df, self.store.writer_epoch("replay") + 1, writer_id="replay"
        )
        if isinstance(out.get("phases"), dict):
            out["phases"]["read_plan"] = read_sec
        return out

    def bootstrap_from_snapshot(
        self,
        snapshot: DataFrame,
        watermarks: dict[int, int],
        writer_id: str = "bootstrap",
    ) -> dict:
        """Seed an EMPTY target from a consistent source snapshot, then hand
        off to the changelog tail — the Debezium ``snapshot.mode=initial``
        step of replication bring-up (MirrorSourceConnector replicates a
        topic's EXISTING records before tailing new ones, docs/index.md:17-23;
        Debezium emits snapshot rows as op='r' reads stamped with the log
        position the snapshot was taken at — here they enter as op='c', the
        engine's insert class).

        ``snapshot``: one row per LIVE key, in the target row schema, plus a
        ``partition`` column (the log partition the key's changes route to —
        the snapshot producer knows the routing, exactly as Debezium stamps
        source partition metadata on snapshot records). Deleted keys are
        simply absent.

        ``watermarks``: {partition -> last lsn INCLUDED in the snapshot} for
        EVERY log partition — including partitions whose keys are all
        deleted or that never produced. The handoff contract is "the tail
        applies strictly above these", and it must hold for empty partitions
        by MECHANISM: without their watermark, re-pointing the stream at the
        full changelog would re-apply their prefix (convergent — full-image
        upserts + tombstones are value-idempotent — but O(history) wasted
        merges instead of O(tail)).

        Mechanics: snapshot rows run the NORMAL exactly-once apply path
        (op='c' upserts at lsn = their partition's watermark — DLQ split,
        constraints, SMT, compaction, bucketed MERGE all see them), then a
        second LINEAGE-ONLY commit raises every declared partition to its
        watermark (one atomic version bump, no data write). After that, a
        stream or replay pointed at the full changelog dedups the
        pre-snapshot prefix via the standard lineage watermark and pays
        only O(tail); the oracle twin of this algebra is the
        ``cdc_snapshot_handoff`` query (snapshot ∪ tail under LWW == full
        replay).

        Refuses a non-empty target: bootstrap-over-state is a full-resync
        decision (drop the target first, docs/consideration.md:52-58 —
        re-sync is replay-from-zero), not something to merge silently.
        Under ``conflict_policy='lww'`` the snapshot must carry a ``ts_ms``
        column (the rows' ORIGIN stamps): stamping existing state with
        bootstrap wall-clock time would beat genuinely newer remote writes.
        """
        if self.store.current_version() > 0:
            # allow RESUMING a bootstrap that crashed between its two
            # commits: the only committed writer is this one, and the
            # epoch fencing below makes both commits idempotent
            writers = (self.store.current_manifest() or {}).get("writers") or {}
            if set(writers) != {writer_id}:
                raise ValueError(
                    "bootstrap_from_snapshot requires an EMPTY target table "
                    f"(found v{self.store.current_version()}); drop the "
                    "target or catch it up with replay/stream instead"
                )
        if not watermarks:
            raise ValueError("watermarks must declare every log partition")
        config = self._effective_config()
        has_ts = "ts_ms" in snapshot.columns
        if config.conflict_policy == "lww" and not has_ts:
            raise ValueError(
                "conflict_policy='lww' bootstrap needs per-row origin "
                "stamps: include a ts_ms column in the snapshot"
            )
        data_cols = [
            c for c in snapshot.columns if c not in ("partition", "ts_ms")
        ]
        row_schema = T.StructType(
            [
                T.StructField(c, snapshot.schema[c].dataType, True)
                for c in data_cols
            ]
        )
        part = F.col("partition").cast("int")
        # literal lookup map: one entry per log partition (bounded — the
        # reference runs tens of partitions, docs/perf-tests.md:15)
        wm = F.create_map(
            *[F.lit(x) for p, w in sorted(watermarks.items()) for x in (p, w)]
        )
        env = snapshot.select(
            part.alias("partition"),
            wm[part].cast("long").alias("lsn"),
            F.lit("c").alias("op"),
            F.lit(None).cast(row_schema).alias("before"),
            F.struct(*[F.col(c) for c in data_cols]).alias("after"),
            (F.col("ts_ms") if has_ts else F.lit(None)).cast("timestamp")
            .alias("ts_ms"),
            F.create_map(F.lit("_snapshot"), F.lit("true")).alias("headers"),
            F.lit("snapshot").alias("source_topic"),
        )
        out = self.apply_batch(env, epoch=0, writer_id=writer_id)
        # lineage-only commit: raise EVERY declared partition (incl. ones
        # with no live snapshot rows) to its watermark, monotonically
        from datetime import datetime, timezone

        group = config.consumer_group
        now = datetime.now(tz=timezone.utc).replace(tzinfo=None)
        all_rows = self.store.read_lineage_rows()
        mine = {
            r["partition"]: r
            for r in all_rows
            if (r.get("consumer_group") or DEFAULT_GROUP) == group
        }
        others = [
            r for r in all_rows
            if (r.get("consumer_group") or DEFAULT_GROUP) != group
        ]
        for p, w in sorted(watermarks.items()):
            cur = mine.get(p)
            mine[p] = {
                "consumer_group": group,
                "partition": p,
                "applied_lsn": max(int(w), cur["applied_lsn"] if cur else -1),
                "epoch": 1,
                "n_applied": (cur or {}).get("n_applied") or 0,
                "updated_ts": (cur or {}).get("updated_ts") or now,
            }
        version = self.store.commit(
            None,
            [],
            sorted(mine.values(), key=lambda r: r["partition"]) + others,
            epoch=1,
            row_schema=self.store.schema() or row_schema,
            writer_id=writer_id,
        )
        out["bootstrap_version"] = version
        out["watermarks"] = dict(sorted(watermarks.items()))
        return out

    def start_stream(
        self,
        spark: SparkSession,
        changelog_path: str,
        checkpoint_dir: str,
        read_schema: T.StructType,
        max_files_per_trigger: int = 1,
        max_bytes_per_trigger: str | None = None,
        available_now: bool = True,
        source_format: str = "parquet",
        derived: Sequence[Callable[[SparkSession, TableStore], object]] = (),
    ):
        """Continuous tail with restart-resume (T1): file-source analogue of
        the MM2 consume loop. Rate throttling (T7, docs/perf-tests.md:166
        `--throughput`): ``maxFilesPerTrigger`` caps files per micro-batch;
        ``max_bytes_per_trigger`` (bytes, e.g. "33554432") caps batch VOLUME — the
        file-source analogue of a record-count throttle, since records/byte
        is roughly constant for a given envelope (a bytes cap admits files
        until the cap is crossed, so a batch is bounded by cap + one file).
        With ``available_now`` the query drains all pending input then
        stops — the replay-to-caught-up mode used by tests and bench.

        ``derived``: changefeed consumers kept caught up in the same epoch
        loop, each called as ``fn(spark, store)`` in list order after the
        table commit — e.g. ``[index.update, clusters.update]`` or
        ``[lambda s, t: view.update(s, t, dim)]``. Each store fences on its
        own last-applied source version, so a crash between the commit and
        an update is healed on resume: the re-delivered batch no-ops at the
        table and the store catches up to the head."""
        if self.config.smt_chain:
            # fail at PUT, like Connect config validation: a structurally
            # bad chain (unknown type, protected column) stops the stream
            # HERE, not mid-epoch with rows in flight
            compile_smt_chain(self.config.smt_chain)
        src = spark.readStream.schema(read_schema)
        if max_bytes_per_trigger is not None:
            src = src.option("maxBytesPerTrigger", max_bytes_per_trigger)
        else:
            src = src.option("maxFilesPerTrigger", str(max_files_per_trigger))
        if source_format == "parquet":
            src = src.parquet(changelog_path)
        elif source_format == "json":
            # JSON-lines changelog files — the reference's wire shape
            # (records are JSON values, mirror-maker-2/
            # SendProductToKafka.py:43-54; Kafka Connect's JsonConverter is
            # the stock serialization). Same file-batch trigger semantics;
            # the explicit read_schema types every field (no inference
            # scan), so a malformed document yields nulls that the DLQ
            # malformed split quarantines instead of poisoning the merge.
            src = src.json(changelog_path)
        else:
            raise ValueError(
                f"unknown source_format {source_format!r} "
                "(expected 'parquet' or 'json')"
            )
        # the checkpoint IS the stream's identity: batch ids are meaningful
        # only within one checkpoint's sequence, and the id survives
        # restarts (same checkpoint -> same writer -> fencing works across
        # resume), while a different checkpoint or a batch replay can never
        # fence this stream's never-applied batches
        writer_id = f"stream:{os.path.abspath(checkpoint_dir)}"

        def _apply(df: DataFrame, eid: int) -> None:
            self.apply_batch(df, eid, writer_id=writer_id)
            for update in derived:
                update(df.sparkSession, self.store)
            cfg = self.config  # hot-reload may swap the object per epoch
            if (
                cfg.retention_ms is not None
                and eid % max(1, cfg.retention_every_epochs) == 0
            ):
                import time as _time

                from ..operators.retention import expire_rows

                cutoff = int(_time.time() * 1000) - cfg.retention_ms
                # changefeed-visible deletes, zonemap-pruned; fenced per
                # rewritten version, so a replayed epoch re-noops
                expire_rows(
                    df.sparkSession, self.store,
                    [(cfg.retention_ts_col, "<", cutoff)],
                )

        writer = (
            src.writeStream.foreachBatch(_apply)
            .option("checkpointLocation", checkpoint_dir)
            .queryName("cdc-apply")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime="5 seconds")
        return writer.start()


_SIZE_SUFFIX = {"": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _parse_size_bytes(s: str | int | None) -> int | None:
    """Parse a Spark-style size string ("256m", "512MB", "1gb", "10485760",
    "-1") to bytes. An unparseable string raises ValueError — silently
    falling back would size the compaction budget differently from the
    broadcast threshold Spark itself accepted."""
    if s is None or isinstance(s, int):
        return s
    m = re.fullmatch(r"(-?\d+(?:\.\d+)?)([kmgt]?)b?", s.strip().lower())
    if m is None:
        raise ValueError(f"unparseable size {s!r} (expected e.g. '256m', '1gb')")
    return int(float(m.group(1)) * _SIZE_SUFFIX[m.group(2)])


def _malformed_envelope_pred() -> F.Column:
    """An envelope the MERGE contract cannot apply: no key in either image
    (unpack would coalesce to null and the compaction would build a null-key
    mega-group), an op outside c|u|d, or a null lsn (unsequenceable — the
    watermark dedup cannot place it). In the engine the null-lsn class is
    split from the RAW batch before the watermark dedup (which would
    silently drop it); the clause here keeps the predicate complete for
    standalone validation use."""
    key_null = (
        F.coalesce(F.col("after.repo"), F.col("before.repo")).isNull()
        | F.coalesce(F.col("after.path"), F.col("before.path")).isNull()
    )
    return key_null | ~F.col("op").isin("c", "u", "d") | F.col("lsn").isNull()


def final_state(spark: SparkSession, store: TableStore) -> DataFrame:
    """Current replicated table state with the sha256 invariant column."""
    df = store.read_state(spark)
    if "content" in df.columns:
        df = df.withColumn("content_sha", F.sha2("content", 256))
    return df
