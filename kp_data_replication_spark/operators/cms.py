"""Mergeable count-min sketches + changefeed-maintained frequency view —
approximate per-key frequency and heavy-hitter detection at O(D x W)
state per group, with EXACT retraction under CDC deletes.

Why this exists next to the HLL sketch (operators/sketches.py): HLL
answers "how many DISTINCT values" and can union but never subtract, so
its incremental view counts values EVER observed. Count-min answers "how
OFTEN does each value occur" and is a LINEAR sketch — every update is a
signed counter add, so the full-CDF changefeed (insert +1, delete -1,
update = retract pre-image + add post-image; operators/changefeed.py
``table_changes_cdf``) maintains a sketch that equals the batch recompute
over the CURRENT table state exactly, deletes included. That is the
frequency-side twin the reference's monitoring stack implies: MM2's hot
partitions and the Grafana per-topic rate panels
(monitoring/prometheus-rules.yaml, docs/perf-tests.md:15) are
heavy-hitter questions over the replicated key stream, and the engine's
own skew machinery (operators/skew.py ``salted_repartition``, the hot-
bucket write probe in streaming/apply.py) needs exactly this: WHICH keys
are hot, learned in O(batch) per epoch without a table rescan.

Determinism / oracle-exactness: the D row hashes are four disjoint 8-bit
slices of ONE md5 of the value's string form — ``('0x'||substring(
md5(v), 2d+1, 2))::BIGINT`` in DuckDB, ``conv(substring(md5(v),
2d+1, 2), 16, 10)`` in Spark — so the register table AND the min-over-
rows estimate hash-match the SQL oracle exactly, collisions and all.

Guarantees (classic CM, Cormode & Muthukrishnan): with non-negative true
frequencies, ``estimate(k) >= freq(k)`` always (collisions only inflate),
and ``estimate(k) <= freq(k) + eps * N`` with probability 1 - delta for
W = e/eps, D = ln(1/delta). Under matched retraction (every -1 cancels a
prior +1, which the CDC feed guarantees by construction) counters stay
sums of live contributions, so both bounds keep holding over the live
state.

Scale shape (10^10 events / 100 TB):
  * Register projection is map-side pure JVM (one md5 + four substrings
    per row); the shuffle carries at most (groups x D x W) counter rows
    per epoch — bounded by the sketch size, never by the event count.
  * Estimation broadcasts the SKETCH (tiny, O(groups x 1024) rows), not
    the candidate keys, so scoring 10^9 candidates is one map-side
    broadcast join + a partial-agg min.
  * Heavy-hitter candidate enumeration here is the exact form (distinct
    keys — one shuffle); at true scale feed the estimator from the
    local-HH lemma instead (any key with global count >= T has count
    >= T/P in some partition, so per-partition pre-aggregation bounds
    candidates) — the estimator itself is candidate-source agnostic.
  * The incremental view MERGEs into only the sketch buckets the touched
    groups hash to; zero-count registers are dropped so state stays
    minimal under churn.

Reference parity: the replicated-topic monitoring surface this feeds is
docs/monitoring.md / monitoring/prometheus-rules.yaml (rate + lag
panels); the skew answer it powers is the explicit salted-repartition
requirement at 10^10-event scale.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.table_store import BUCKET_COL, TableStore, bucket_expr
from .changefeed import CHANGE_TYPE_COL, table_changes_cdf

CMS_D = 4                 # hash rows (independent 8-bit md5 slices)
CMS_W = 256               # counters per row (one full 8-bit slice)


def _index_cols(hash_col: str | F.Column) -> list[F.Column]:
    """The D register indexes: disjoint 8-bit slices of one md5 hex."""
    h = F.col(hash_col) if isinstance(hash_col, str) else hash_col
    return [
        F.conv(F.substring(h, 2 * d + 1, 2), 16, 10).cast("int")
        for d in range(CMS_D)
    ]


def cms_registers(
    df: DataFrame,
    group_cols: list[str],
    value_expr: str,
    weight_expr: str = "1",
) -> DataFrame:
    """Per-group count-min register table: (group..., d, w, cnt).

    One md5 per row map-side, a bounded xD posexplode, then a partial-agg
    sum — the shuffle carries registers (<= groups x D x W rows), not
    events. ``weight_expr`` is the signed contribution (+1 for plain
    counting; the incremental view passes the CDF sign)."""
    v = F.expr(value_expr).cast("string")
    base = df.filter(v.isNotNull()).select(
        *group_cols,
        F.md5(v).alias("_h"),
        F.expr(weight_expr).cast("long").alias("_wt"),
    )
    rows = base.select(
        *group_cols,
        F.posexplode(F.array(*_index_cols("_h"))).alias("d", "w"),
        "_wt",
    )
    return (
        rows.groupBy(*group_cols, "d", "w")
        .agg(F.sum("_wt").cast("long").alias("cnt"))
        .filter(F.col("cnt") != 0)
    )


def merge_cms_registers(parts: list[DataFrame], group_cols: list[str]) -> DataFrame:
    """Elementwise counter sum — count-min is linear, so merge = add
    (and a signed delta merges the same way, which is retraction)."""
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return (
        u.groupBy(*group_cols, "d", "w")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
        .filter(F.col("cnt") != 0)
    )


def cms_estimate(
    reg_df: DataFrame,
    keys_df: DataFrame,
    group_cols: list[str],
    value_col: str,
    est_col: str = "est",
) -> DataFrame:
    """Point-query candidate keys against a sketch: min over the D row
    counters. The sketch side is broadcast (O(groups x D x W) rows); the
    candidate side streams map-side — scoring 10^9 keys is shuffle-free
    up to the final per-key min, which partial-aggregates."""
    v = F.col(value_col).cast("string")
    k = keys_df.select(*group_cols, value_col, F.md5(v).alias("_h")).select(
        *group_cols,
        value_col,
        F.posexplode(F.array(*_index_cols("_h"))).alias("d", "w"),
    )
    j = k.join(F.broadcast(reg_df), [*group_cols, "d", "w"], "left")
    return j.groupBy(*group_cols, value_col).agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias(est_col)
    )


def cms_heavy_hitters(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    min_count: int,
) -> DataFrame:
    """Keys whose estimated frequency reaches ``min_count``, with the
    estimate: (group..., value, est). Never misses a true heavy hitter
    (one-sided error: est >= freq always); collisions can only add false
    positives, whose rate the W x D bound controls. Candidates here are
    the exact distinct keys; see the module docstring for the local-HH
    candidate source at 10^10 scale."""
    regs = cms_registers(df, group_cols, f"`{value_col}`")
    cand = df.filter(F.col(value_col).isNotNull()).select(
        *group_cols, value_col
    ).distinct()
    est = cms_estimate(regs, cand, group_cols, value_col)
    return est.filter(F.col("est") >= min_count)


class IncrementalCmsSketch:
    """Persisted per-group count-min register table over a source
    TableStore, maintained per-epoch from the FULL-CDF changefeed.

    Because count-min is linear, this view tracks the source's CURRENT
    LIVE STATE exactly-as-if-recomputed: inserts add, deletes subtract,
    updates retract the pre-image and add the post-image (net zero when
    the sketch value didn't change). ``read()`` therefore equals
    ``cms_registers(current state)`` at every update() boundary — the
    property tests/test_cms.py asserts per epoch and the
    ``cms_sketch_incremental`` driver query proves against DuckDB over
    the final state. Contrast IncrementalHllSketch's distinct-EVER
    semantics (sketches.py module docstring).

    Exactly-once mirrors the other incremental indexes: writer-fenced
    epochs keyed to the source version (idempotent replay), consumer-
    registry retention pin on the source, dirty-bucket-only MERGEs with
    the sketch bucketed by the group hash so a group's registers are
    co-located."""

    def __init__(
        self,
        root: str,
        group_cols: list[str],
        value_expr: str,
        n_buckets: int = 8,
    ):
        self.root = root
        self.group_cols = list(group_cols)
        self.value_expr = value_expr
        self.store = TableStore(root, n_buckets=n_buckets)

    # ------------------------------------------------------------------ #
    def update(self, spark: SparkSession, src: TableStore) -> dict:
        """Advance the sketch to the source head — O(changed rows) map-
        side projection, shuffle bounded by touched groups x D x W,
        MERGE into only the dirty sketch buckets, zero-count registers
        dropped. Idempotent (writer-fenced); replay is a noop."""
        writer = f"cms-sketch:{os.path.abspath(src.root)}"
        last = max(self.store.writer_epoch(writer), 0)
        head = src.current_version()
        if head <= last:
            return {"status": "noop", "from": last, "to": head}
        consumer = f"cms-sketch:{os.path.abspath(self.root)}"
        if last > 0:
            src.record_consumer(consumer, last)

        # full-CDF feed: retraction needs both images
        cdf = table_changes_cdf(spark, src, last, head)
        sign = F.when(
            F.col(CHANGE_TYPE_COL).isin("insert", "update_postimage"),
            F.lit(1),
        ).otherwise(F.lit(-1))
        delta = cms_registers(
            cdf.withColumn("_sign", sign),
            self.group_cols,
            self.value_expr,
            weight_expr="_sign",
        ).cache()
        try:
            n_b = self.store.n_buckets
            gb = bucket_expr(n_b, self.group_cols)
            stats = (
                delta.groupBy(gb.alias("b"))
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            )
            if not stats:
                self.store.commit(None, [], [], head, self._schema(spark),
                                  writer_id=writer)
                src.record_consumer(consumer, head)
                return {"status": "committed", "from": last, "to": head,
                        "n_register_updates": 0, "dirty_buckets": 0}
            dirty = sorted(r["b"] for r in stats)
            n_upd = sum(r["n"] for r in stats)
            old = (
                self.store.read_state(spark, buckets=dirty)
                if self.store._bucket_files(dirty)
                else None
            )
            if old is None:
                merged = delta
            else:
                o, dl = old.alias("o"), delta.alias("dl")
                on = [
                    F.col(f"o.{c}").eqNullSafe(F.col(f"dl.{c}"))
                    for c in (*self.group_cols, "d", "w")
                ]
                cond = on[0]
                for c in on[1:]:
                    cond = cond & c
                merged = o.join(dl, cond, "full_outer").select(
                    *[
                        F.coalesce(F.col(f"o.{g}"), F.col(f"dl.{g}")).alias(g)
                        for g in (*self.group_cols, "d", "w")
                    ],
                    (
                        F.coalesce(F.col("o.cnt"), F.lit(0))
                        + F.coalesce(F.col("dl.cnt"), F.lit(0))
                    ).cast("long").alias("cnt"),
                )
            merged = merged.filter(F.col("cnt") != 0).withColumn(
                BUCKET_COL, bucket_expr(n_b, self.group_cols)
            )
            self.store.commit(
                merged, dirty, [], head,
                T.StructType(
                    [f for f in merged.schema.fields if f.name != BUCKET_COL]
                ),
                writer_id=writer,
            )
            src.record_consumer(consumer, head)
            return {
                "status": "committed",
                "from": last,
                "to": head,
                "n_register_updates": n_upd,
                "dirty_buckets": len(dirty),
            }
        finally:
            delta.unpersist()

    # ------------------------------------------------------------------ #
    def _schema(self, spark: SparkSession) -> T.StructType:
        existing = self.store.schema()
        if existing is not None:
            return existing
        return T.StructType(
            [T.StructField(g, T.StringType()) for g in self.group_cols]
            + [T.StructField("d", T.IntegerType()),
               T.StructField("w", T.IntegerType()),
               T.StructField("cnt", T.LongType())]
        )

    def read(self, spark: SparkSession) -> DataFrame:
        """The register table: (group..., d, w, cnt) — equals the batch
        recompute over the source's current live state."""
        return self.store.read_state(spark).select(
            *self.group_cols, "d", "w", "cnt"
        )

    def estimate(self, spark: SparkSession, keys_df: DataFrame,
                 value_col: str) -> DataFrame:
        """Point-query candidates against the persisted sketch."""
        return cms_estimate(
            self.read(spark), keys_df, self.group_cols, value_col
        )


def py_cms_estimate(values: list[str], query: str) -> int:
    """Pure-python twin for tests: exact same md5 slicing."""
    import hashlib

    regs: dict[tuple[int, int], int] = {}
    for v in values:
        h = hashlib.md5(v.encode()).hexdigest()
        for d in range(CMS_D):
            w = int(h[2 * d:2 * d + 2], 16)
            regs[(d, w)] = regs.get((d, w), 0) + 1
    hq = hashlib.md5(query.encode()).hexdigest()
    return min(
        regs.get((d, int(hq[2 * d:2 * d + 2], 16)), 0) for d in range(CMS_D)
    )
