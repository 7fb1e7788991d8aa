"""Incremental benchmark-decontamination index maintained from the
changefeed — the exact-n-gram twin of the MinHash/LSH dedup index.

The batch decontamination op (operators/dedup_docs.py ``decontaminate``)
is shaped for "one benchmark, scan the corpus": the probe side broadcasts
and the corpus text streams through a shingle join once. The workflow a
training-data pipeline actually runs is the other way around — the corpus
is long-lived and continuously ingested, while NEW evaluation benchmarks
arrive monthly and every one of them must be checked against the full
corpus. Re-tokenizing 100 TB of text per benchmark release is the cost
this index removes: it persists each document's distinct word-n-gram
fingerprint ONCE (as xxhash64 longs — columnar, dictionary-free, ~10-50x
cheaper to scan than re-running trim/split/slice/concat over raw text),
maintains it O(changed docs) per epoch from the changefeed, and answers a
new benchmark with one broadcast equi-join against the fingerprint
column.

Scale shape (100 TB corpus / 10^9 docs):
  * ``update`` inherits the dedup-index skeleton: manifest-pruned
    changefeed read, re-shingling touches changed docs only, the MERGE
    rewrites only the index buckets the changed keys hash into. Deletes
    retract the doc's fingerprint row (decontamination must not flag
    against already-removed corpus text).
  * ``contaminated`` scans the INDEX (hash arrays), never corpus text:
    probe shingles (benchmark suites — thousands of docs) hash with the
    same function, broadcast, and meet the exploded index in a map-side
    join; the per-doc aggregation carries (doc, hit) pairs only. The scan
    is O(index), the honest lower bound for exact-overlap decontamination
    without a shingle-keyed inverted index (whose per-epoch maintenance
    would touch every index partition — each doc's shingles hash
    uniformly across the key space — and at 10^9 docs costs more than it
    saves; the columnar fingerprint scan is the better trade and is what
    Dolma-style bloom decontamination approximates lossily).
  * Hash note: overlap counts are over xxhash64(shingle) — a cross-doc
    64-bit collision could count a false shingle hit; at 10^10 distinct
    shingles the expected number of colliding PAIRS corpus-wide is ~2.7
    (birthday bound), and a false POSITIVE flag needs one to land in a
    probe set — decontamination flags err on the safe side anyway.

Exactly-once / resume: identical to the parent (writer-fenced per source
version, retention auto-pin via the consumer registry) — a crashed update
resumes where it left off.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .dedup_docs import _word_shingles
from .dedup_incremental import _KEY_SEP, IncrementalDedupIndex

DECONTAM_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("sh", T.ArrayType(T.LongType())),
    ]
)


def _shingle_hashes(df: DataFrame, id_col: str, text_col: str,
                    n: int) -> DataFrame:
    """(doc, shingle-hash) rows: the shared tokenizer's distinct word
    n-grams, hashed to xxhash64 longs. Both the index build and the probe
    side go through THIS function, so the join key is identical by
    construction."""
    return _word_shingles(df, id_col, text_col, n).select(
        "doc", F.xxhash64("shingle").alias("h")
    )


class IncrementalDecontamIndex(IncrementalDedupIndex):
    """Persisted per-document exact-shingle fingerprint index, maintained
    per-epoch from the changefeed. Index row: (repo, path, sh) where sh is
    the sorted array of distinct xxhash64 word-n-gram hashes."""

    FEATURE_COL = "sh"
    WRITER_PREFIX = "decontam-index"
    INDEX_SCHEMA = DECONTAM_SCHEMA

    def __init__(self, root: str, n_buckets: int = 8, shingle_n: int = 3):
        super().__init__(root, n_buckets=n_buckets, shingle_n=shingle_n)

    # ------------------------------------------------------------------ #
    def _changed_features(self, upserts: DataFrame, text_col: str) -> DataFrame:
        docs = upserts.select(
            F.concat_ws(_KEY_SEP, F.col("repo"), F.col("path")).alias("doc_id"),
            F.col(text_col).alias("text"),
        )
        packed = (
            _shingle_hashes(docs, "doc_id", "text", self.shingle_n)
            .groupBy("doc")
            .agg(F.array_sort(F.collect_set("h")).alias("sh"))
        )
        # LEFT join from the upsert keys: a doc updated to empty/too-short
        # text has no shingles, but its index entry must still be REPLACED
        # with an empty fingerprint, not left stale
        keys = upserts.select(
            "repo", "path",
            F.concat_ws(_KEY_SEP, F.col("repo"), F.col("path")).alias("doc"),
        )
        return keys.join(packed, "doc", "left").select(
            "repo", "path",
            F.coalesce(
                F.col("sh"), F.array().cast(T.ArrayType(T.LongType()))
            ).alias("sh"),
        )

    # LSH pair mining is the parent's job, not this index's
    def pairs_for(self, *a, **kw):  # pragma: no cover - guard
        raise NotImplementedError("decontam index has no band pairs")

    all_pairs = pairs_for

    # ------------------------------------------------------------------ #
    def contaminated(
        self,
        spark: SparkSession,
        probes: DataFrame,
        probe_id_col: str = "doc_id",
        probe_text_col: str = "text",
    ) -> DataFrame:
        """Corpus documents sharing any word n-gram with ``probes`` (a new
        benchmark), answered from the persisted index — corpus text is
        never read or re-tokenized. Output (repo, path, n_hit_ngrams,
        n_probes), matching the batch ``decontaminate`` contract; anti-join
        the corpus against it for the clean set."""
        p = _shingle_hashes(
            probes, probe_id_col, probe_text_col, self.shingle_n
        ).withColumnRenamed("doc", "probe")
        idx = self.store.read_state(spark).select(
            "repo", "path", F.explode("sh").alias("h")
        )
        return (
            idx.join(F.broadcast(p), "h")
            .groupBy("repo", "path")
            .agg(
                F.countDistinct("h").alias("n_hit_ngrams"),
                F.countDistinct("probe").alias("n_probes"),
            )
        )
