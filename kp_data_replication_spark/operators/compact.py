"""In-batch last-write-wins compaction (SURVEY.md §2.4 A2, §2.5 W2).

A replicated compacted topic converges to the newest record per key; the
per-partition ordering contract (docs/consideration.md:20) makes "newest" =
highest lsn. Before MERGE, each micro-batch is compacted to one change per
key — the newest event wins, so a key updated 50× in one batch costs one
upsert, and the MERGE join sees unique keys on the source side.

Plan shape (scale rationale): ``groupBy(keys).agg(max_by(struct, lsn))`` is a
hash aggregate with map-side partial aggregation — strictly better at 100 TB
than the window-function formulation (row_number over partitionBy keys),
which must sort every shuffle partition. The aggregate's output is hash-
partitioned on the key columns, which is exactly the partitioning the MERGE
join needs next, so Catalyst inserts no second exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..schema import KEY_COLS


def last_write_wins(
    df: DataFrame,
    key_cols: list[str] | None = None,
    order_col: str = "lsn",
    count_col: str | None = None,
    extra_aggs: dict[str, F.Column] | None = None,
) -> DataFrame:
    """Newest event per key: one row per (repo, path) with all original columns.

    Ties on ``order_col`` only occur for at-least-once duplicate deliveries,
    which carry identical payloads (docs/consideration.md:52-58), so any
    winner is correct.

    ``count_col``: also emit the number of events folded into each key —
    this lets the engine derive per-partition applied watermarks and counts
    from the compacted output alone, with NO second scan of the raw batch
    (the per-partition max lsn necessarily survives compaction: the event
    holding it is the newest for its own key).

    ``extra_aggs``: additional per-key-group aggregates (name -> aggregate
    Column over the pre-compaction rows), computed in the SAME map-side
    partial aggregate — the hook that lets the engine fold byte/timestamp
    metrics into this one scan instead of re-scanning the raw batch.
    """
    key_cols = key_cols or KEY_COLS
    payload = [c for c in df.columns if c not in key_cols]
    aggs = [F.max_by(F.struct(*payload), F.col(order_col)).alias("_newest")]
    if count_col:
        aggs.append(F.count(F.lit(1)).alias(count_col))
    for name, col in (extra_aggs or {}).items():
        aggs.append(col.alias(name))
    agg = df.groupBy(*key_cols).agg(*aggs)
    out_cols = [F.col(f"_newest.{c}").alias(c) for c in payload]
    if count_col:
        out_cols.append(F.col(count_col))
    out_cols.extend(F.col(n) for n in (extra_aggs or {}))
    return agg.select(*key_cols, *out_cols)


def lww_winners(
    df: DataFrame,
    key_cols: list[str] | None = None,
    order_col: str = "lsn",
    count_col: str | None = None,
    extra_aggs: dict[str, F.Column] | None = None,
) -> DataFrame:
    """Phase 1 of the two-phase compaction: slim winner stubs — one row per
    key with (key cols, max(order), per-key stats), never the wide payload.
    The shuffle carries a few dozen bytes per key. The engine persists
    these stubs and aggregates them once for its batch stats, which also
    yields the actual winner-set size — so it CHOOSES the phase-2 join
    strategy from that size instead of trusting configuration."""
    key_cols = key_cols or KEY_COLS
    aggs = [F.max(order_col).alias(order_col)]
    if count_col:
        aggs.append(F.count(F.lit(1)).alias(count_col))
    for name, col in (extra_aggs or {}).items():
        aggs.append(col.alias(name))
    return df.groupBy(*key_cols).agg(*aggs)


def lww_join_winners(
    df: DataFrame,
    winners: DataFrame,
    key_cols: list[str] | None = None,
    order_col: str = "lsn",
    broadcast: bool = True,
) -> DataFrame:
    """Phase 2: join the winner stubs back to the raw rows on (key, order).

    ``broadcast=True`` hints the winners side explicitly (leaving it to AQE
    would still plan and write the full-width rows-side shuffle before
    converting); ``broadcast=False`` is the degrade path for batches whose
    winner set exceeds the driver's broadcast budget — a plain shuffle join
    moving the same bytes a direct wide aggregate would, with no driver
    OOM risk. Duplicate deliveries of a winner event survive the join as
    identical copies; ``dropDuplicates(keys)`` collapses them (duplicates
    carry identical payloads, docs/consideration.md:52-58)."""
    key_cols = key_cols or KEY_COLS
    side = F.broadcast(winners) if broadcast else winners
    joined = df.join(side, on=[*key_cols, order_col], how="inner")
    return joined.dropDuplicates(key_cols)


def last_write_wins_window(
    df: DataFrame, key_cols: list[str] | None = None, order_col: str = "lsn"
) -> DataFrame:
    """Window-function twin of :func:`last_write_wins` (kept for tests /
    plan comparison; the aggregate form is the production path)."""
    key_cols = key_cols or KEY_COLS
    w = W.partitionBy(*key_cols).orderBy(F.col(order_col).desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
