"""Incremental winnowing clone index maintained from the changefeed — the
partial-clone twin of the MinHash/LSH dedup index.

The batch winnowing operator (operators/winnow.py) fingerprints a corpus
in one pass; a code corpus under CDC ingest (the reference's replicated
repo topics, README.md:68) changes continuously, and re-fingerprinting
10^9 files because one micro-batch landed is the O(corpus)-per-epoch cost
this index removes. It persists each file's SELECTED winnowing
fingerprints once (sorted distinct md5 digests — the ~2/(w+1)-density
selection, not every k-gram), advances O(changed files) per epoch from
the changefeed, and mines partial-clone candidates by joining changed
files' fingerprints against the persisted index — never a corpus
self-join.

Inherits the dedup-index skeleton wholesale (manifest-pruned changefeed
read, dirty-bucket MERGE on the index store, writer-fenced resume,
retention auto-pin): only the per-document FEATURE differs.
Fingerprints are per-document local state, so insert/update/delete map to
replace/replace/retract exactly like band signatures do.

Pair semantics: ``all_pairs``/``pairs_for`` count DISTINCT shared
fingerprints per (file, file) pair — the winnowing guarantee transfers
(two files sharing any run of >= w + k - 1 chars share >= 1 selected
fingerprint, so every such clone pair surfaces). The `clone_index_pairs`
driver query proves incremental maintenance == full recompute against a
DuckDB winnowing oracle over the final corpus state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .dedup_incremental import _KEY_SEP, IncrementalDedupIndex
from .winnow import winnow_fingerprints

CLONE_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("fps", T.ArrayType(T.StringType())),
    ]
)


class IncrementalCloneIndex(IncrementalDedupIndex):
    """Persisted per-file winnowing fingerprint index, maintained per-epoch
    from the changefeed. Index row: (repo, path, fps) with fps the sorted
    distinct selected fingerprints (md5 hex)."""

    FEATURE_COL = "fps"
    WRITER_PREFIX = "clone-index"
    INDEX_SCHEMA = CLONE_SCHEMA

    def __init__(self, root: str, n_buckets: int = 8, k: int = 16, w: int = 8):
        super().__init__(root, n_buckets=n_buckets)
        self.k = k
        self.w = w

    # ------------------------------------------------------------------ #
    def _changed_features(self, upserts: DataFrame, text_col: str) -> DataFrame:
        docs = upserts.select(
            F.concat_ws(_KEY_SEP, F.col("repo"), F.col("path")).alias("doc_id"),
            F.col(text_col).alias("text"),
        )
        packed = (
            winnow_fingerprints(docs, k=self.k, w=self.w)
            .groupBy("doc")
            .agg(F.array_sort(F.collect_set("fp")).alias("fps"))
        )
        # LEFT join from the upsert keys: a file updated to shorter than
        # w + k - 1 chars selects nothing, but its index entry must still
        # be REPLACED with an empty fingerprint set, not left stale
        keys = upserts.select(
            "repo", "path",
            F.concat_ws(_KEY_SEP, F.col("repo"), F.col("path")).alias("doc"),
        )
        return keys.join(packed, "doc", "left").select(
            "repo", "path",
            F.coalesce(
                F.col("fps"), F.array().cast(T.ArrayType(T.StringType()))
            ).alias("fps"),
        )

    # ------------------------------------------------------------------ #
    def _exploded(self, df: DataFrame, side: str) -> DataFrame:
        # the parent's pair miners join on (band, bucket) and count
        # DISTINCT band values per pair; for winnowing the fingerprint IS
        # both the join key and the identity to count, so emit it as both
        fp = F.explode("fps").alias("bucket")
        return df.select(
            F.col("repo").alias(f"repo{side}"),
            F.col("path").alias(f"path{side}"),
            fp,
        ).withColumn("band", F.col("bucket"))

    def match_view(
        self, spark: SparkSession, min_shared: int = 2, max_df: int = 256
    ) -> DataFrame:
        """Corpus-wide clone candidates from the persisted index with the
        production document-frequency cap (boilerplate fingerprints —
        license headers, generated preambles — are the d^2 hot keys; the
        parity miners stay uncapped because their oracle is uncapped).

        Output (repo1, path1, repo2, path2, n_shared), key-ordered."""
        sets = self.store.read_state(spark).select(
            "repo", "path", F.explode("fps").alias("fp")
        )
        rare = (
            sets.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("fp")
        )
        capped = sets.join(rare, "fp")
        x = capped.select(
            F.col("repo").alias("repo1"), F.col("path").alias("path1"), "fp"
        )
        y = capped.select(
            F.col("repo").alias("repo2"), F.col("path").alias("path2"), "fp"
        )
        return (
            x.join(y, "fp")
            .filter(F.struct("repo1", "path1") < F.struct("repo2", "path2"))
            .groupBy("repo1", "path1", "repo2", "path2")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared)
        )
