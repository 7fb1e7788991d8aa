"""Mergeable HyperLogLog register sketches + changefeed-maintained sketch
view — approximate distinct counting at O(m) state per group.

The exact-IVM aggregate view (:mod:`.agg_view`) keeps ``count_distinct``
exact under retraction with a per-(group, value) multiset sidecar — state
O(distinct values per group). At 10^10 events with ~10^9 distinct users
that sidecar IS the data; the classic scale answer (Druid/ClickHouse/
BigQuery APPROX_COUNT_DISTINCT, Flink's HLL accumulators) is a mergeable
HyperLogLog sketch: 2^b registers per group, each holding the max
leading-zero rank observed, unioned by elementwise max. This module is
that path, with the two properties the rest of the engine demands:

* **Deterministic and oracle-exact.** The hash is md5 of the value's
  string form — register index = first 8 hash bits, rank = leading zeros
  of the next 52 bits + 1 — all expressible in DuckDB (``('0x'||substr)::
  BIGINT``, ``bin()``), so register tables hash-match exactly. The raw
  estimate is one float division of exact integers (sum of 2^(53-rank) is
  an ORDER-INDEPENDENT bigint sum — no float re-association drift), so it
  is deterministic too. Only the small-range linear-counting correction
  uses ``ln`` (accuracy asserted in tests; kept out of the oracle path).
* **Insert-only by mechanism, documented.** HLL can union but never
  subtract (agg_view's docstring makes the same point from the other
  side). The incremental view therefore counts DISTINCT VALUES EVER
  OBSERVED at an update() boundary: inserts and update-postimages fold
  in; deletes are ignored, never retracted. That is the semantics Kafka-
  topic distinct counting has (a consumer of the reference's replicated
  topics, docs/index.md:32-52, sees every produced value regardless of
  later compaction) — use agg_view's exact count_distinct when you need
  retraction.

Scale shape: the register projection is map-side (md5 + substring, pure
JVM); the shuffle carries at most (groups x 256) rows per epoch, not
events; the view MERGE rewrites only the buckets the touched groups hash
into. Sketch state is O(groups x 256 x 4 bytes) — constant per group no
matter how many distinct values flow through.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.table_store import BUCKET_COL, TableStore, bucket_expr
from .changefeed import CHANGE_TYPE_COL, table_changes

HLL_B = 8
HLL_M = 1 << HLL_B            # 256 registers
HLL_VBITS = 52                # rank domain 1..53 (fits the exact-double range)
HLL_ALPHA = 0.7213 / (1 + 1.079 / HLL_M)
# the whole estimate numerator folded into ONE python double so both
# engines compute round(K / S, 4) with a single float operation
HLL_EST_K = HLL_ALPHA * HLL_M * HLL_M * float(1 << (HLL_VBITS + 1))


def hll_reg_expr(col: F.Column) -> F.Column:
    """Register index: first 8 bits of md5(value as string) — [0, 256)."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 2), 16, 10).cast("int")


def hll_rank_expr(col: F.Column) -> F.Column:
    """Rank: leading zeros of the next 52 hash bits, plus one (1..53).

    bit_length(v) == length(bin(v)) for v > 0; the all-zero tail (p ~
    2^-52) pins the max rank 53."""
    v = F.conv(F.substring(F.md5(col.cast("string")), 3, 13), 16, 10).cast("long")
    return (
        F.when(v == 0, F.lit(HLL_VBITS + 1))
        .otherwise(F.lit(HLL_VBITS + 1) - F.length(F.bin(v)))
        .cast("int")
    )


def hll_registers(
    df: DataFrame, group_cols: list[str], value_col: str
) -> DataFrame:
    """Per-group register table: (group..., reg, max_rank). One map-side
    projection + one grouped max — the shuffle carries at most
    groups x 256 rows regardless of input size. Nulls are skipped (ANSI
    COUNT(DISTINCT) semantics)."""
    c = F.col(value_col)
    return (
        df.filter(c.isNotNull())
        .select(*group_cols, hll_reg_expr(c).alias("reg"), hll_rank_expr(c).alias("rank"))
        .groupBy(*group_cols, "reg")
        .agg(F.max("rank").alias("max_rank"))
    )


def merge_hll_registers(
    parts: list[DataFrame], group_cols: list[str]
) -> DataFrame:
    """Union sketches by elementwise register max — THE mergeable-sketch
    property: partial sketches from any partitioning of the data combine
    losslessly (what makes per-partition / per-day sketch rollups exact
    w.r.t. the sketch)."""
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.groupBy(*group_cols, "reg").agg(F.max("max_rank").alias("max_rank"))


def _estimate_terms(reg_df: DataFrame, group_cols: list[str]) -> DataFrame:
    pow2 = F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_VBITS + 1} - max_rank)")
    return reg_df.groupBy(*group_cols).agg(
        F.sum(pow2).alias("_s_present"),
        F.count(F.lit(1)).alias("n_registers"),
    )


def hll_estimate_raw(reg_df: DataFrame, group_cols: list[str]) -> DataFrame:
    """Deterministic raw HLL estimate per group: round(K / S, 4) where S is
    the EXACT integer sum(2^(53-rank)) over all 256 registers (absent
    registers contribute 2^53). No ln, no float re-association — this is
    the oracle-checkable form."""
    t = _estimate_terms(reg_df, group_cols)
    s = F.col("_s_present") + (F.lit(HLL_M) - F.col("n_registers")) * F.lit(
        1 << (HLL_VBITS + 1)
    ).cast("long")
    return t.select(
        *group_cols,
        F.col("n_registers").cast("long").alias("n_registers"),
        F.round(F.lit(HLL_EST_K) / s.cast("double"), 4).alias("distinct_est_raw"),
    )


def hll_estimate(reg_df: DataFrame, group_cols: list[str]) -> DataFrame:
    """Corrected HLL estimate (the one to USE): linear counting when the
    sketch is sparse (empty registers and raw <= 2.5m) — the standard
    Flajolet small-range correction. Uses ln, so accuracy is asserted in
    tests rather than a cross-engine hash."""
    t = _estimate_terms(reg_df, group_cols)
    s = F.col("_s_present") + (F.lit(HLL_M) - F.col("n_registers")) * F.lit(
        1 << (HLL_VBITS + 1)
    ).cast("long")
    raw = F.lit(HLL_EST_K) / s.cast("double")
    empty = F.lit(HLL_M) - F.col("n_registers")
    lc = F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / empty.cast("double"))
    est = F.when((empty > 0) & (raw <= 2.5 * HLL_M), lc).otherwise(raw)
    return t.select(*group_cols, est.alias("distinct_est"))


class IncrementalHllSketch:
    """Persisted per-group HLL register table over a source TableStore,
    maintained per-epoch from the changefeed.

    Distinct-seen semantics (see module docstring): every value carried by
    an insert or update-postimage at an update() call folds in by register
    max; deletes never retract. Row: (group..., reg, max_rank), bucketed
    by the GROUP hash so a group's whole sketch is co-located (estimate
    reads and merges touch one bucket per group). Exactly-once mirrors the
    other incremental indexes: the sketch store's writer map records the
    last source version applied; the sketch registers as a changefeed
    consumer on the source so vacuum retains what it still needs.
    """

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
        """Advance the sketch to the source's current version — O(changed
        rows) map-side projection, shuffle bounded by touched groups x 256,
        MERGE into only the dirty sketch buckets. Idempotent (writer-fenced
        per store); replaying a version range is a noop."""
        writer = f"hll-sketch:{os.path.abspath(src.root)}"
        last = max(self.store.writer_epoch(writer), 0)
        head = src.current_version()
        if head <= last:
            return {"status": "noop", "from": last, "to": head}
        consumer = f"hll-sketch:{os.path.abspath(self.root)}"
        if last > 0:
            src.record_consumer(consumer, last)

        ch = table_changes(spark, src, last, head)
        seen = ch.filter(F.col(CHANGE_TYPE_COL) != "delete").select(
            *self.group_cols, F.expr(self.value_expr).alias("_v")
        )
        delta = hll_registers(seen, self.group_cols, "_v").cache()
        try:
            n_b = self.store.n_buckets
            gb = bucket_expr(n_b, self.group_cols)
            stats = delta.groupBy(gb.alias("b")).agg(F.count(F.lit(1)).alias("n")).collect()
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
                o, d = old.alias("o"), delta.alias("d")
                on = [
                    F.col(f"o.{c}").eqNullSafe(F.col(f"d.{c}"))
                    for c in (*self.group_cols, "reg")
                ]
                cond = on[0]
                for c in on[1:]:
                    cond = cond & c
                merged = o.join(d, cond, "full_outer").select(
                    *[
                        F.coalesce(F.col(f"o.{g}"), F.col(f"d.{g}")).alias(g)
                        for g in (*self.group_cols, "reg")
                    ],
                    F.greatest(
                        F.coalesce(F.col("o.max_rank"), F.lit(0)),
                        F.coalesce(F.col("d.max_rank"), F.lit(0)),
                    ).cast("int").alias("max_rank"),
                )
            merged = merged.withColumn(BUCKET_COL, bucket_expr(n_b, self.group_cols))
            self.store.commit(
                merged, dirty, [], head,
                T.StructType([f for f in merged.schema.fields if f.name != BUCKET_COL]),
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
            + [T.StructField("reg", T.IntegerType()),
               T.StructField("max_rank", T.IntegerType())]
        )

    def read(self, spark: SparkSession) -> DataFrame:
        """The register table: (group..., reg, max_rank)."""
        return self.store.read_state(spark).select(
            *self.group_cols, "reg", "max_rank"
        )

    def estimate(self, spark: SparkSession) -> DataFrame:
        """Corrected distinct estimate per group (distinct-seen)."""
        return hll_estimate(self.read(spark), self.group_cols)


def _py_hll_rank(value: str) -> tuple[int, int]:
    """Driver-side twin of hll_reg_expr/hll_rank_expr (for tests): the
    identical md5-derived (register, rank)."""
    import hashlib

    h = hashlib.md5(value.encode()).hexdigest()
    reg = int(h[:2], 16)
    v = int(h[2:15], 16)
    rank = (HLL_VBITS + 1) if v == 0 else (HLL_VBITS + 1 - v.bit_length())
    return reg, rank


def py_hll_estimate(values: list[str]) -> float:
    """Pure-python corrected estimate over a value list (test oracle)."""
    regs: dict[int, int] = {}
    for val in values:
        r, k = _py_hll_rank(val)
        regs[r] = max(regs.get(r, 0), k)
    s = sum(1 << (HLL_VBITS + 1 - k) for k in regs.values())
    s += (HLL_M - len(regs)) * (1 << (HLL_VBITS + 1))
    raw = HLL_EST_K / s
    empty = HLL_M - len(regs)
    if empty > 0 and raw <= 2.5 * HLL_M:
        return HLL_M * math.log(HLL_M / empty)
    return raw
