"""SCD Type-2 history view maintained from the changefeed.

The reference's replication flow exists so consumers can keep derived
state near the mirrored data (docs/index.md:32-52); the canonical CDC
consumer pattern the Debezium/Kafka-Connect ecosystem builds on top of a
changelog topic is the SLOWLY CHANGING DIMENSION TYPE 2 sink: every key
keeps one row PER VERSION OF ITS IMAGE, stamped ``[_valid_from,
_valid_to)`` in commit versions, with the current image's ``_valid_to``
NULL. That turns the replicated table into a queryable timeline — "what
did this row look like when version v committed?" becomes an interval
filter instead of a state reconstruction.

Relationship to the engine's other temporal reads:

  * ``TableStore.read_state(version=v)`` answers as-of questions by
    re-reading the OLD files — O(table slice), and only for versions
    vacuum still retains.
  * ``changefeed.key_history`` reconstructs one key's transitions by
    walking manifests — a point audit, priced per version.
  * The SCD2 view answers the same questions from ONE indexed table that
    survives vacuum of the source (history is copied out, not referenced)
    and is bucketed by key hash, so per-key timelines and as-of reads are
    bucket-pruned scans with zero joins.

Exactness: ``update()`` walks the source versions one at a time through
:func:`changefeed.table_changes_cdf` (the exact, LOGICAL state diff —
LWW tombstones surface as plain deletes, physical rewrites and
maintenance versions emit nothing), so intermediate images inside a
multi-version catch-up are preserved, not collapsed: catching up 3
versions in one call produces byte-identical history to three per-epoch
calls.

Scale shape (100 TB source / 10^10 rows):
  * Per-epoch cost is O(changed rows in the range), never O(history):
    each per-version diff is manifest-bucket pruned on the SOURCE; the
    view MERGE reads and rewrites only the history buckets the batch's
    keys hash into; the within-batch sequencing (lead/min over the
    batch's events per key) shuffles the batch, not the table.
  * History grows with total change volume, like any CDC audit sink —
    :meth:`prune` drops closed intervals below a version horizon (the
    retention trade every SCD2 warehouse makes); open intervals are
    never pruned, so ``current()`` stays exact forever.
  * The view rides the engine's exactly-once machinery: writer-fenced
    commits keyed to the source version (a replayed epoch no-ops), and
    the consumer registry pins source retention while the view lags.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema import KEY_COLS
from ..sources.table_store import BUCKET_COL, TableStore, bucket_expr
from .changefeed import CHANGE_TYPE_COL, VERSION_COL, table_changes_cdf

VALID_FROM = "_valid_from"
VALID_TO = "_valid_to"


class Scd2View:
    """Persisted SCD2 timeline of a source :class:`TableStore`,
    maintained per-epoch from the exact per-version changefeed.

    One row per (key, image-version): key cols + the source's data cols
    (the image as of ``_valid_from``) + ``_valid_from`` / ``_valid_to``
    (commit versions; ``_valid_to`` NULL = current). Bucketed by the
    key hash so a key's whole timeline is co-located.
    """

    def __init__(self, root: str, n_buckets: int = 8,
                 key_cols: list[str] | None = None):
        self.root = root
        self.key_cols = list(key_cols or KEY_COLS)
        self.hist = TableStore(root, n_buckets=n_buckets)

    # ------------------------------------------------------------------ #
    def update(self, spark: SparkSession, src: TableStore) -> dict:
        """Advance the timeline to the source's current version.
        Idempotent (writer-fenced); cost O(changed rows in the range)."""
        writer = f"scd2:{os.path.abspath(src.root)}"
        last = max(self.hist.writer_epoch(writer), 0)
        head = src.current_version()
        if head <= last:
            return {"status": "noop", "from": last, "to": head}
        consumer = f"scd2:{os.path.abspath(self.root)}"
        if last > 0:
            # retention auto-pin: the per-version diffs need (last, head]
            # AND v=last itself to survive vacuum until we advance
            src.record_consumer(consumer, last)

        # exact per-version transitions: one logical CDF diff per real
        # version (maintenance versions skipped with zero jobs), so the
        # timeline keeps every intermediate image of a multi-version range
        frames: list[DataFrame] = []
        for v in range(last + 1, head + 1):
            m = src.manifest(v)
            if m is None or m.get("row_preserving") or m.get("changefeed_skip"):
                continue
            frames.append(
                table_changes_cdf(spark, src, v - 1, v)
                .filter(F.col(CHANGE_TYPE_COL) != "update_preimage")
            )
        if not frames:
            self._advance_cursor(spark, head, writer)
            src.record_consumer(consumer, head)
            return {"status": "committed", "from": last, "to": head,
                    "n_events": 0, "dirty_buckets": 0}
        ev = frames[0]
        for fr in frames[1:]:
            ev = ev.unionByName(fr, allowMissingColumns=True)
        ev = ev.cache()
        try:
            n_b = self.hist.n_buckets
            vb = bucket_expr(n_b, self.key_cols)
            stats = ev.groupBy(vb.alias("b")).agg(
                F.count(F.lit(1)).alias("n")).collect()
            if not stats:
                self._advance_cursor(spark, head, writer)
                src.record_consumer(consumer, head)
                return {"status": "committed", "from": last, "to": head,
                        "n_events": 0, "dirty_buckets": 0}
            dirty = sorted(r["b"] for r in stats)
            n_events = sum(r["n"] for r in stats)

            data_cols = [
                c for c in ev.columns
                if c not in (*self.key_cols, CHANGE_TYPE_COL, VERSION_COL)
            ]
            # within-batch sequencing: each event's interval closes at the
            # key's NEXT event version (update or delete alike); the key's
            # FIRST event closes the pre-existing open interval. Window is
            # over the batch's events only — batch-bounded shuffle.
            w = Window.partitionBy(*self.key_cols).orderBy(VERSION_COL)
            seq = ev.select(
                *self.key_cols, *data_cols, CHANGE_TYPE_COL,
                F.col(VERSION_COL).alias(VALID_FROM),
                F.lead(VERSION_COL).over(w).alias(VALID_TO),
            )
            new_rows = seq.filter(
                F.col(CHANGE_TYPE_COL) != "delete"
            ).drop(CHANGE_TYPE_COL)

            closers = ev.groupBy(*self.key_cols).agg(
                F.min(VERSION_COL).alias("_close_v"))
            old = (
                self.hist.read_state(spark, buckets=dirty)
                if self.hist._bucket_files(dirty)
                else None
            )
            if old is None:
                merged = new_rows
            else:
                # broadcast: closers is batch-key-bounded. Only OPEN
                # intervals of batch keys move; every other row (other
                # keys in the bucket, already-closed intervals) is carried
                # through byte-identical.
                joined = old.join(F.broadcast(closers), self.key_cols, "left")
                closed = joined.withColumn(
                    VALID_TO,
                    F.when(
                        F.col(VALID_TO).isNull() & F.col("_close_v").isNotNull(),
                        F.col("_close_v"),
                    ).otherwise(F.col(VALID_TO)),
                ).drop("_close_v")
                merged = closed.unionByName(new_rows, allowMissingColumns=True)

            self.hist.commit(
                merged.withColumn(BUCKET_COL, bucket_expr(n_b, self.key_cols)),
                dirty,
                [],
                head,
                T.StructType(merged.schema.fields),
                writer_id=writer,
            )
            src.record_consumer(consumer, head)
            return {"status": "committed", "from": last, "to": head,
                    "n_events": n_events, "dirty_buckets": len(dirty)}
        finally:
            ev.unpersist()

    def _advance_cursor(self, spark: SparkSession, head: int,
                        writer: str) -> None:
        """Fenced no-data commit: nothing but maintenance in range, but the
        cursor must still move so the next diff starts past it."""
        schema = self.hist.schema() or T.StructType(
            [T.StructField(k, T.StringType()) for k in self.key_cols]
            + [T.StructField(VALID_FROM, T.LongType()),
               T.StructField(VALID_TO, T.LongType())]
        )
        self.hist.commit(None, [], [], head, schema, writer_id=writer)

    # ------------------------------------------------------------------ #
    def history(self, spark: SparkSession) -> DataFrame:
        """The full timeline: key cols + image cols + interval stamps."""
        return self.hist.read_state(spark)

    def current(self, spark: SparkSession) -> DataFrame:
        """Open intervals only — logically equal to the source's current
        state (minus any columns added after a row last changed)."""
        return self.history(spark).filter(F.col(VALID_TO).isNull())

    def as_of(self, spark: SparkSession, version: int) -> DataFrame:
        """The source state AS OF ``version``, answered from the timeline
        alone (no source manifests, works after source vacuum): interval
        rows with ``_valid_from <= version < _valid_to``."""
        return (
            self.history(spark)
            .filter(
                (F.col(VALID_FROM) <= F.lit(version))
                & (F.col(VALID_TO).isNull()
                   | (F.col(VALID_TO) > F.lit(version)))
            )
            .drop(VALID_FROM, VALID_TO)
        )

    # ------------------------------------------------------------------ #
    def prune(self, spark: SparkSession, before_version: int) -> dict:
        """Drop CLOSED intervals with ``_valid_to <= before_version`` (the
        SCD2 retention trade: as-of reads below the horizon degrade; open
        intervals — and with them ``current()`` — stay exact). One
        maintenance commit rewriting only buckets that lose rows."""
        writer = "scd2:prune"
        hist = self.history(spark)
        doomed = F.col(VALID_TO).isNotNull() & (
            F.col(VALID_TO) <= F.lit(before_version))
        n_b = self.hist.n_buckets
        dirty = sorted(
            r["b"]
            for r in hist.filter(doomed)
            .groupBy(bucket_expr(n_b, self.key_cols).alias("b"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        if not dirty:
            return {"status": "noop", "pruned_buckets": 0}
        kept = (
            self.hist.read_state(spark, buckets=dirty)
            .filter(~doomed)
            .withColumn(BUCKET_COL, bucket_expr(n_b, self.key_cols))
        )
        self.hist.commit(
            kept, dirty, [], self.hist.current_version() + 1,
            self.hist.schema(), writer_id=writer,
        )
        return {"status": "committed", "pruned_buckets": len(dirty)}


def enrich_asof(
    facts: DataFrame,
    history: DataFrame,
    key_cols: list[str],
    version_col: str,
    dim_cols: list[str] | None = None,
) -> DataFrame:
    """Temporal table join (Flink's ``FOR SYSTEM_TIME AS OF`` /
    Debezium-downstream fact enrichment): give every fact row the
    dimension image whose ``[_valid_from, _valid_to)`` interval contains
    the fact's ``version_col`` stamp — NULL dims when the key wasn't live
    at that version (before first insert, or inside a delete gap).

    Scale shape — the one-shuffle LOCF construction, NOT an interval
    join: a naive ``f.version >= d.from AND (d.to IS NULL OR f.version <
    d.to)`` predicate gives Spark no equi-bound on the interval side, so
    it plans a broadcast-nested-loop / cartesian over history — O(facts x
    intervals) at 10^10 facts. Instead, interval STARTS and facts union,
    hash-partition once on the key, and sort within key by (version,
    dim-before-fact); one ``last(..., ignorenulls)`` window carries the
    latest dim image forward onto each fact row, and the carried
    ``_valid_to`` decides whether the interval still covers it. One
    exchange, one sort, zero joins — the same shape as the W3 as-of
    lookup frame (operators/asof.py), reused against SCD2 intervals.

    Interval-boundary semantics: a dim row opening at version v sorts
    BEFORE a fact stamped v (intervals are closed-open), so a fact at the
    exact commit version of an update sees the NEW image — matching
    ``Scd2View.as_of``.
    """
    if dim_cols is None:
        dim_cols = [
            c for c in history.columns
            if c not in (*key_cols, VALID_FROM, VALID_TO, BUCKET_COL)
        ]
    fact_cols = [
        c for c in facts.columns if c not in (*key_cols, version_col)
    ]
    img = F.struct(
        *[F.col(c).alias(c) for c in dim_cols],
        F.col(VALID_TO).alias("_to"),
    )
    d_side = history.select(
        *key_cols,
        F.col(VALID_FROM).alias("_v"),
        F.lit(0).alias("_kind"),
        img.alias("_img"),
        *[F.lit(None).cast(facts.schema[c].dataType).alias(c)
          for c in fact_cols],
    )
    f_side = facts.select(
        *key_cols,
        F.col(version_col).cast("long").alias("_v"),
        F.lit(1).alias("_kind"),
        F.lit(None).cast(d_side.schema["_img"].dataType).alias("_img"),
        *fact_cols,
    )
    w = (
        Window.partitionBy(*key_cols)
        .orderBy("_v", "_kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = d_side.unionByName(f_side).withColumn(
        "_carried", F.last("_img", ignorenulls=True).over(w)
    )
    covered = F.col("_carried").isNotNull() & (
        F.col("_carried._to").isNull()
        | (F.col("_v") < F.col("_carried._to"))
    )
    out = carried.filter(F.col("_kind") == 1).select(
        *key_cols,
        F.col("_v").alias(version_col),
        *fact_cols,
        *[
            F.when(covered, F.col(f"_carried.{c}")).alias(c)
            for c in dim_cols
        ],
    )
    return out
