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
most). The apply path already holds it driver-side, so it filters with a
literal per-partition map (:func:`above_watermarks`) and plans no join;
:func:`filter_applied` is the DataFrame form for lineage that lives in a
table — a broadcast join, also with no shuffle of the event stream.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
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


def above_watermarks(applied: Mapping[int, int | None]) -> Column:
    """J3 as a predicate: ``lsn > coalesce(applied[partition], -1)``.

    ``applied`` maps log partition -> applied lsn, read driver-side. The
    map is a literal, so filtering with it plans no join and runs no
    broadcast job. Same rows as :func:`filter_applied`: a partition with
    no watermark (or a null one) passes every lsn >= 0, and a null-lsn
    row is dropped (the comparison is NULL)."""
    entries = [
        x
        for p, lsn in sorted(applied.items())
        for x in (F.lit(p).cast("int"), F.lit(lsn).cast("long"))
    ]
    if not entries:
        return F.col("lsn") > F.lit(-1)
    watermark = F.create_map(*entries)[F.col("partition")]
    return F.col("lsn") > F.coalesce(watermark, F.lit(-1))


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
