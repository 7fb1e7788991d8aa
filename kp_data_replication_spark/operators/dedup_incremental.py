"""Incremental MinHash/LSH dedup index maintained from a table's changefeed
(round-2 VERDICT top item — the composition of the engine's two halves).

At 100 TB you never re-shingle 10^9 documents because one micro-batch
landed: the full-recompute near-dup suite (operators/dedup_docs.py) costs
O(corpus) per run, while a training-data pipeline needs near-dup candidates
CONTINUOUSLY as the corpus tails in (the reference's tailing semantics,
docs/index.md:52). This module keeps a PERSISTED per-document LSH band
index in its own :class:`~..sources.table_store.TableStore` and advances it
from :func:`~.changefeed.table_changes` output:

  * insert/update -> re-shingle ONLY the changed documents, MERGE their new
    band buckets into the index (copy-on-write on the index's dirty hash
    buckets — the same bounded-MERGE shape as the CDC engine);
  * delete -> retract the document's index row (tombstone through the same
    MERGE);
  * candidate pairs for an epoch = the changed documents' bands joined
    against the PERSISTED index — O(batch x collision) work, never a
    corpus self-join.

Cost per epoch is O(changed data): the changefeed read is manifest-bucket
pruned, shingling touches changed docs only, and the index MERGE rewrites
only the index buckets those keys hash into. Equality with full recompute
is oracle-proven: the `dedup_incremental_lsh_pairs` driver query replays a
3-epoch insert/update/delete fixture through this index and must hash-match
DuckDB's LSH pairs over the FINAL corpus state (queries.py).

Resume/exactly-once: the index store's writer-fencing map records the last
source version applied (writer id ``dedup-index:<src root>``, the Delta
txnAppId pattern — same bookkeeping as ``cascade_catchup``), so a crashed
update resumes where it left off; the index also registers itself as a
changefeed CONSUMER on the source, so source vacuum retains the versions it
still needs (retention auto-pin).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema import KEY_COLS
from ..sources.table_store import BUCKET_COL, TableStore, bucket_expr
from .changefeed import CHANGE_TYPE_COL, table_changes
from .dedup_docs import LSH_BANDS, band_buckets
from .merge import merge_upsert

# composite-key separator for the (repo, path) -> single doc id mapping the
# shingle kernel needs; \x01 never occurs in repo/path names
_KEY_SEP = "\x01"

INDEX_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("bands", T.ArrayType(T.StringType())),
    ]
)


class IncrementalDedupIndex:
    """Persisted LSH band index over a source TableStore's documents,
    maintained per-epoch from the changefeed. Index row: (repo, path,
    bands) where bands[b] is the md5 band bucket for band b.

    The update skeleton (changefeed read -> re-featurize changed docs only
    -> dirty-bucket MERGE -> fenced commit + retention pin) is generic
    over the per-document FEATURE: subclasses override ``FEATURE_COL`` /
    ``INDEX_SCHEMA`` / ``WRITER_PREFIX`` and ``_changed_features`` to
    maintain a different per-doc derivation with the exact same O(batch)
    cost model and exactly-once contract (the decontamination shingle
    index, operators/decontam_index.py, is one)."""

    FEATURE_COL = "bands"
    WRITER_PREFIX = "dedup-index"
    INDEX_SCHEMA = INDEX_SCHEMA

    def __init__(self, root: str, n_buckets: int = 8, shingle_n: int = 3,
                 bands: int = LSH_BANDS):
        self.store = TableStore(root, n_buckets=n_buckets)
        self.shingle_n = shingle_n
        self.bands = bands

    # ------------------------------------------------------------------ #
    def _changed_features(self, upserts: DataFrame, text_col: str) -> DataFrame:
        """(repo, path, bands array) for changed documents — re-shingles
        ONLY these rows."""
        docs = upserts.select(
            F.concat_ws(_KEY_SEP, F.col("repo"), F.col("path")).alias("doc_id"),
            F.col(text_col).alias("text"),
        )
        banded = band_buckets(docs, n=self.shingle_n, bands=self.bands)
        packed = (
            banded.groupBy("doc")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("band"), F.col("bucket")))
                    ),
                    lambda s: s["bucket"],
                ).alias("bands")
            )
        )
        # LEFT join from the upsert keys: a doc updated to empty/too-short
        # text has NO shingles -> no band rows, but its index entry must
        # still be REPLACED (with an empty band set), not left stale
        keys = upserts.select(
            "repo", "path",
            F.concat_ws(_KEY_SEP, F.col("repo"), F.col("path")).alias("doc"),
        )
        return keys.join(packed, "doc", "left").select(
            "repo",
            "path",
            F.coalesce(
                F.col("bands"), F.array().cast(T.ArrayType(T.StringType()))
            ).alias("bands"),
        )

    # back-compat name (tools/plan_report.py drives it directly)
    def _changed_bands(self, upserts: DataFrame, text_col: str) -> DataFrame:
        return IncrementalDedupIndex._changed_features(self, upserts, text_col)

    # ------------------------------------------------------------------ #
    def update(
        self,
        spark: SparkSession,
        src: TableStore,
        text_col: str = "content",
        emit_pairs: bool = False,
    ) -> dict:
        """Advance the index to the source's current version.

        One call per (or across several) source commits; cost O(changed
        docs). Returns a summary; with ``emit_pairs`` also the NEW candidate
        pairs this advance introduced (changed docs vs the updated index) as
        ``pairs`` — the per-epoch stream a downstream dedup job consumes.
        The pairs DataFrame is lazy: consuming it re-derives the changed
        docs' bands once more (the cache backing this update is released
        when it returns) — still O(batch), just a second shingle pass over
        the changed rows only.
        """
        writer = f"{self.WRITER_PREFIX}:{os.path.abspath(src.root)}"
        last = max(self.store.writer_epoch(writer), 0)
        head = src.current_version()
        if head <= last:
            return {"status": "noop", "from": last, "to": head}
        # retention auto-pin BEFORE reading: the versions >= last must
        # survive a concurrent-ish vacuum
        consumer = f"{self.WRITER_PREFIX}:{os.path.abspath(self.store.root)}"
        if last > 0:
            src.record_consumer(consumer, last)

        ch = table_changes(spark, src, last, head)
        is_del = F.col(CHANGE_TYPE_COL) == "delete"
        upserts = ch.filter(~is_del).select("repo", "path", text_col)
        deletes = ch.filter(is_del).select("repo", "path")

        feat = self.INDEX_SCHEMA[self.FEATURE_COL]
        new_bands = self._changed_features(upserts, text_col)
        batch = new_bands.withColumn("op", F.lit("u")).unionByName(
            deletes.select(
                "repo", "path",
                F.lit(None).cast(feat.dataType).alias(feat.name),
                F.lit("d").alias("op"),
            )
        ).cache()
        try:
            # ONE job yields both the dirty INDEX buckets (buckets the
            # changed keys hash into) and the changed-row count
            n_b = self.store.n_buckets
            stats = (
                batch.groupBy(bucket_expr(n_b).alias("b"))
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            )
            dirty = sorted(r["b"] for r in stats)
            n_changed = sum(r["n"] for r in stats)
            if self.store._bucket_files(dirty):
                target = self.store.read_state(spark, buckets=dirty)
                merged = merge_upsert(target, batch)
            else:
                merged = batch.filter(F.col("op") != "d").drop("op")
            merged = merged.select(
                *[F.col(f.name).cast(f.dataType)
                  for f in self.INDEX_SCHEMA.fields]
            ).withColumn(BUCKET_COL, bucket_expr(n_b))
            version = self.store.commit(
                merged, dirty, [], head, self.INDEX_SCHEMA, writer_id=writer
            )
            out = {
                "status": "committed",
                "from": last,
                "to": head,
                "index_version": version,
                "n_changed": n_changed,
                "dirty_index_buckets": len(dirty),
            }
            if emit_pairs:
                out["pairs"] = self.pairs_for(spark, new_bands)
            src.record_consumer(consumer, head)
            return out
        finally:
            batch.unpersist()

    # ------------------------------------------------------------------ #
    def _exploded(self, df: DataFrame, side: str) -> DataFrame:
        return df.select(
            F.col("repo").alias(f"repo{side}"),
            F.col("path").alias(f"path{side}"),
            F.posexplode("bands").alias("band", "bucket"),
        )

    def pairs_for(self, spark: SparkSession, changed: DataFrame) -> DataFrame:
        """Candidate pairs introduced by ``changed`` docs (repo, path,
        bands): their bands joined against the PERSISTED index — O(batch),
        not a corpus self-join. Pairs are key-ordered and distinct; the
        changed-x-changed duplicates collapse in the aggregate."""
        idx = self._exploded(self.store.read_state(spark), "2")
        chg = self._exploded(changed, "1")
        raw = chg.join(idx, ["band", "bucket"]).filter(
            (F.col("repo1") != F.col("repo2")) | (F.col("path1") != F.col("path2"))
        )
        # canonical ordering so (a,b) and (b,a) (changed-changed case) merge
        flip = F.struct("repo1", "path1") > F.struct("repo2", "path2")
        return (
            raw.select(
                "band",
                F.when(flip, F.col("repo2")).otherwise(F.col("repo1")).alias("repo1"),
                F.when(flip, F.col("path2")).otherwise(F.col("path1")).alias("path1"),
                F.when(flip, F.col("repo1")).otherwise(F.col("repo2")).alias("repo2"),
                F.when(flip, F.col("path1")).otherwise(F.col("path2")).alias("path2"),
            )
            .distinct()  # a pair may collide via changed- AND index-side rows
            .groupBy("repo1", "path1", "repo2", "path2")
            .agg(F.count(F.lit(1)).alias("n_shared_bands"))
        )

    def all_pairs(self, spark: SparkSession) -> DataFrame:
        """Candidate pairs of the ENTIRE persisted index (band self-join
        over slim signature rows — no re-shingling; used for parity checks
        and full-corpus sweeps). Must equal minhash_lsh_pairs over the
        source's current state — oracle-checked by the driver."""
        x = self._exploded(self.store.read_state(spark), "1")
        y = self._exploded(self.store.read_state(spark), "2")
        return (
            x.join(y, ["band", "bucket"])
            .filter(
                F.struct("repo1", "path1") < F.struct("repo2", "path2")
            )
            .groupBy("repo1", "path1", "repo2", "path2")
            .agg(F.count(F.lit(1)).alias("n_shared_bands"))
        )
