"""Incremental IVF (ANN) index maintained from a table's changefeed — the
embedding twin of :mod:`.dedup_incremental` and the completion of the
LLM-suite's similarity story (round-3 verdict item 5).

`similarity.cosine_topk_ivf` promises "at real scale ... the cell
assignment is one broadcast join + argmax, done ONCE at ingest and
persisted" — this module IS that persisted assignment. At 10^9 vectors you
never re-quantize the corpus because one micro-batch landed:

  * the CENTROIDS are frozen model state, captured once at index creation
    (from :func:`~.similarity.train_ivf_centroids` in production, or a
    deterministic sample for oracle-exact tests) and stored with the index
    — re-deriving them per epoch would silently re-shuffle every cell;
  * insert/update -> assign ONLY the changed vectors to their nearest cell
    (broadcast codebook + argmax — the identical expression the batch
    recompute uses, so scores and tiebreaks are bit-equal) and MERGE the
    slim (key, cell, embedding, norm) rows into the index's dirty buckets;
  * delete -> retract the vector's row through the same MERGE;
  * queries probe the PERSISTED assignment: n_probe nearest cells per
    query, candidates bounded by cell occupancy — never a corpus scan.

Exactly-once/resume mirrors the dedup index: the index store's writer map
records the last source version applied (``ann-index:<src root>``), and
the index registers as a changefeed consumer on the source so vacuum
retains what it still needs. Oracle: the `ann_cosine_topk_ivf_incremental`
driver query replays a multi-epoch insert/update/delete fixture through
this index and must hash-match DuckDB's full IVF recompute over the FINAL
corpus state.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.table_store import BUCKET_COL, TableStore, bucket_expr
from .changefeed import CHANGE_TYPE_COL, table_changes
from .merge import merge_upsert
from .similarity import dot_expr, norm_expr

INDEX_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("cell", T.IntegerType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
        T.StructField("vnorm", T.DoubleType()),
    ]
)


class IncrementalAnnIndex:
    """Persisted per-vector IVF cell assignment over a source TableStore,
    maintained per-epoch from the changefeed. Index row: (repo, path,
    cell, embedding, vnorm) — the inverted list entry, vector included so
    probes never re-read the source table."""

    def __init__(self, root: str, n_buckets: int = 8):
        self.store = TableStore(root, n_buckets=n_buckets)
        self.root = root

    # ------------------------------------------------------------------ #
    @property
    def _centroids_path(self) -> str:
        return os.path.join(self.root, "_centroids.json")

    def set_centroids(self, centroids: DataFrame) -> int:
        """Freeze the codebook (once): (cell int, _centroid array) rows —
        from train_ivf_centroids or any deterministic sample. Collected
        driver-side (n_cells x dim — bounded by the codebook, never the
        corpus) and stored with the index; immutable thereafter (changing
        the quantizer invalidates every persisted assignment — rebuild the
        index instead)."""
        if os.path.exists(self._centroids_path):
            raise ValueError(
                "centroids already frozen for this index; build a new index "
                "to change the quantizer"
            )
        rows = centroids.select("cell", "_centroid").collect()
        cents = sorted(
            (int(r["cell"]), [float(x) for x in r["_centroid"]]) for r in rows
        )
        os.makedirs(self.root, exist_ok=True)
        tmp = self._centroids_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cents, f)
        os.replace(tmp, self._centroids_path)
        return len(cents)

    def centroids(self, spark: SparkSession) -> DataFrame:
        """The frozen codebook as a (cell, _centroid, _cenn) DataFrame —
        broadcast-sized by construction."""
        with open(self._centroids_path) as f:
            cents = json.load(f)
        return spark.createDataFrame(
            [(int(c), v) for c, v in cents], "cell int, _centroid array<double>"
        ).select("cell", "_centroid", norm_expr(F.col("_centroid")).alias("_cenn"))

    # ------------------------------------------------------------------ #
    def _assign(self, vecs: DataFrame, cents: DataFrame, vec_col: str) -> DataFrame:
        """(repo, path, cell, embedding, vnorm) for changed vectors — the
        SAME broadcast-argmax expression as cosine_topk_ivf's batch
        assignment (max_by over struct(sim, cell): ties break toward the
        larger cell id), so incremental and batch assignments are equal."""
        v = vecs.select(
            "repo", "path",
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
        ).select(
            "repo", "path", "_v", norm_expr(F.col("_v")).alias("_vn")
        )
        return (
            v.crossJoin(F.broadcast(cents))
            .withColumn(
                "_sim",
                dot_expr(F.col("_v"), F.col("_centroid"))
                / (F.col("_vn") * F.col("_cenn")),
            )
            .groupBy("repo", "path", "_v", "_vn")
            .agg(
                F.max_by("cell", F.struct(F.col("_sim"), F.col("cell"))).alias("cell")
            )
            .select(
                "repo", "path", "cell",
                F.col("_v").alias("embedding"),
                F.col("_vn").alias("vnorm"),
            )
        )

    # ------------------------------------------------------------------ #
    def update(
        self,
        spark: SparkSession,
        src: TableStore,
        vec_col: str = "embedding",
    ) -> dict:
        """Advance the index to the source's current version — O(changed
        vectors): manifest-pruned changefeed read, broadcast-codebook
        assignment of only the changed rows, MERGE into only the dirty
        index buckets."""
        if not os.path.exists(self._centroids_path):
            raise ValueError(
                "no frozen centroids: call set_centroids() before update()"
            )
        writer = f"ann-index:{os.path.abspath(src.root)}"
        last = max(self.store.writer_epoch(writer), 0)
        head = src.current_version()
        if head <= last:
            return {"status": "noop", "from": last, "to": head}
        consumer = f"ann-index:{os.path.abspath(self.store.root)}"
        if last > 0:
            src.record_consumer(consumer, last)

        ch = table_changes(spark, src, last, head)
        is_del = F.col(CHANGE_TYPE_COL) == "delete"
        upserts = ch.filter(~is_del).select("repo", "path", vec_col)
        deletes = ch.filter(is_del).select("repo", "path")

        cents = self.centroids(spark)
        assigned = self._assign(upserts, cents, vec_col)
        batch = assigned.withColumn("op", F.lit("u")).unionByName(
            deletes.select(
                "repo", "path",
                F.lit(None).cast("int").alias("cell"),
                F.lit(None).cast("array<double>").alias("embedding"),
                F.lit(None).cast("double").alias("vnorm"),
                F.lit("d").alias("op"),
            )
        ).cache()
        try:
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
                *[F.col(f.name).cast(f.dataType) for f in INDEX_SCHEMA.fields]
            ).withColumn(BUCKET_COL, bucket_expr(n_b))
            version = self.store.commit(
                merged, dirty, [], head, INDEX_SCHEMA, writer_id=writer
            )
            src.record_consumer(consumer, head)
            return {
                "status": "committed",
                "from": last,
                "to": head,
                "index_version": version,
                "n_changed": n_changed,
                "dirty_index_buckets": len(dirty),
            }
        finally:
            batch.unpersist()

    # ------------------------------------------------------------------ #
    def topk(
        self,
        spark: SparkSession,
        queries: DataFrame,
        k: int = 5,
        n_probe: int = 4,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        query_id_expr: F.Column | None = None,
    ) -> DataFrame:
        """Approximate top-k against the PERSISTED assignment — the probe
        half of cosine_topk_ivf with the corpus scan + assignment replaced
        by an index read. Self-matches are excluded by key (the index key
        is (repo, path); queries match via ``path``). Output schema matches
        cosine_topk_ivf: (query_id, neighbor_id, cos_sim, rank)."""
        cents = self.centroids(spark)
        idx = self.store.read_state(spark).select(
            F.col("path").alias("_npath"),
            F.col("cell"),
            F.col("embedding").alias("_cvec"),
            F.col("vnorm").alias("_cn"),
        )
        wq = W.partitionBy("query_id").orderBy(F.col("_sim").desc(), F.col("cell"))
        q_probes = (
            queries.select(
                F.col(id_col).alias("query_id"),
                F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_qvec"),
            )
            .select("query_id", "_qvec", norm_expr(F.col("_qvec")).alias("_qn"))
            .crossJoin(F.broadcast(cents))
            .withColumn(
                "_sim",
                dot_expr(F.col("_qvec"), F.col("_centroid"))
                / (F.col("_qn") * F.col("_cenn")),
            )
            .withColumn("_pr", F.row_number().over(wq))
            .filter(F.col("_pr") <= n_probe)
            .select("query_id", "_qvec", "_qn", "cell")
        )
        scored = (
            idx.join(F.broadcast(q_probes), "cell")
            .filter(F.col("_npath") != F.col("query_id").cast("string"))
            .withColumn(
                "cos",
                dot_expr(F.col("_qvec"), F.col("_cvec"))
                / (F.col("_qn") * F.col("_cn")),
            )
        )
        w = W.partitionBy("query_id").orderBy(
            F.col("cos").desc(), F.col("_npath").cast("long").asc()
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(
                "query_id",
                F.col("_npath").cast("long").alias("neighbor_id"),
                F.round("cos", 4).alias("cos_sim"),
                "rank",
            )
        )
