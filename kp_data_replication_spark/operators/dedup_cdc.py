"""At-least-once -> exactly-once dedup + offset-sequence audit
(SURVEY.md §2.3 J3, §2.4 A1, §2.5 W1).

The reference documents the duplicate window explicitly: "Duplicates can
happen when a consumer task stops before committing its offset ... A restart
will load records from the last committed offset which can generate
duplicates" (docs/consideration.md:52-58). The rebuild masks it with
per-partition applied-offset watermarks (the checkpoints.internal analogue,
docs/index.md:23, docs/consideration.md:37-48): an event is fresh iff its
lsn exceeds the partition's applied high-water mark.

Scale note: the lineage table has one row per log partition (thousands at
most) — always broadcast; the dedup join is a map-side filter with no
shuffle of the event stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def filter_applied(events: DataFrame, lineage: DataFrame) -> DataFrame:
    """J3: drop events already applied (lsn <= applied_lsn of partition).

    Broadcast left join against the tiny lineage table, then a codegen'd
    filter — the event stream itself is never shuffled.
    """
    watermarks = F.broadcast(lineage.select("partition", "applied_lsn"))
    return (
        events.join(watermarks, "partition", "left")
        .filter(F.col("lsn") > F.coalesce(F.col("applied_lsn"), F.lit(-1)))
        .drop("applied_lsn")
    )


def applied_watermarks(events: DataFrame) -> DataFrame:
    """A1: per-partition max offset + count — the checkpoint record content
    ("last committed offset in the source topic/partitions",
    docs/consideration.md:39-42)."""
    return events.groupBy("partition").agg(
        F.max("lsn").alias("applied_lsn"),
        F.count(F.lit(1)).alias("n_applied"),
    )


def gap_audit(events: DataFrame, expected_step: int = 1) -> DataFrame:
    """W1: offset-sequence divergence detection.

    Offsets increase monotonically within a partition; source/target
    numbering divergence is a documented condition ("write ... for offset 20
    at the source is a 17 on the target", docs/consideration.md:46). Emits
    one row per gap: (partition, prev_lsn, lsn, gap).
    """
    w = W.partitionBy("partition").orderBy("lsn")
    return (
        events.select("partition", "lsn")
        .withColumn("prev_lsn", F.lag("lsn").over(w))
        .filter(
            F.col("prev_lsn").isNotNull()
            & (F.col("lsn") - F.col("prev_lsn") != expected_step)
        )
        .select(
            "partition",
            "prev_lsn",
            "lsn",
            (F.col("lsn") - F.col("prev_lsn")).alias("gap"),
        )
    )
