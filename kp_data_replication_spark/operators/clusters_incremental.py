"""Incremental duplicate-CLUSTER maintenance from a table's changefeed —
the final derived artifact the engine keeps continuously fresh.

Round 3/4 made every other derived artifact incremental: the state table
(CDC apply), aggregate views (exact IVM), the MinHash/LSH band index and
its candidate pairs (operators/dedup_incremental.py), and the IVF ANN
assignment (operators/ann_incremental.py). Duplicate CLUSTERS —
the connected components a curation pipeline actually consumes
(operators/clustering.py) — were still a full-corpus recompute per run.
At 100 TB that is the wrong shape: one micro-batch touching 0.001% of
documents forces an O(corpus) shingle + band self-join + iterative CC.

This module keeps a PERSISTED label table ``(repo, path, cluster)`` in its
own :class:`~..sources.table_store.TableStore`, equal at every version to
``connected_components(lsh_pairs(current corpus))``, and advances it per
epoch by re-clustering ONLY the affected components:

  affected = the old components of (changed docs ∪ their current band
             partners), plus the changed docs themselves.

Closure argument (why labels outside ``affected`` stay valid): take any
current edge (x, y) with x affected.
  * Edge existed at the previous version and both ends are unchanged:
    x, y shared an old component, so pulling x's old label pulls y.
  * Edge is new this epoch: a band edge appears only when an endpoint's
    bands changed, so one end is a changed doc and the other is found by
    the changed-bands-vs-index partner probe — both are seeds.
  * Edge was REMOVED this epoch (update/delete): the changed endpoint is a
    seed and the old co-members arrive via its old label — exactly the
    docs a component SPLIT must re-label.
Every edge incident to the affected set is therefore inside it, so
re-running CC on the induced subgraph and merging labels (delete rows for
affected docs that end up edge-less) reproduces the full recompute —
oracle-proven by the ``dedup_clusters_incremental`` driver query, which
replays a 3-epoch insert/update/delete fixture and must hash-match
DuckDB's recursive-CTE components over the FINAL corpus state.

Cost per epoch is O(affected subgraph): the changefeed read is
manifest-pruned, the partner probe joins the changed docs' (slim,
already-persisted) band rows against the index — the same bounded shape as
``IncrementalDedupIndex.pairs_for`` — and the CC rounds run on component-
sized inputs, not the corpus. Dedup graphs are small dense cliques, so the
affected subgraph is a few cluster-sizes of rows even when a bridge doc
merges or splits components.

Resume/exactly-once: the label store fences on the SOURCE version with its
own writer id (Delta txnAppId pattern), and registers as a changefeed
consumer on the source so vacuum retains the versions it still needs —
the same bookkeeping as the band index, so a crash between the index
commit and the cluster commit replays cleanly (the index advance is a
fenced noop; the cluster advance re-reads the same change range).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.table_store import BUCKET_COL, TableStore, bucket_expr
from .changefeed import table_changes
from .clustering import connected_components
from .dedup_incremental import _KEY_SEP, IncrementalDedupIndex
from .merge import merge_upsert

CLUSTERS_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("cluster", T.StringType()),
    ]
)

def _node() -> F.Column:
    # built lazily — Column construction needs an active SparkContext
    return F.concat_ws(_KEY_SEP, F.col("repo"), F.col("path"))


def _exploded(df: DataFrame, side: str) -> DataFrame:
    return df.select(
        F.col("repo").alias(f"repo{side}"),
        F.col("path").alias(f"path{side}"),
        F.posexplode("bands").alias("band", "bucket"),
    )


def _band_edges(indexed: DataFrame) -> DataFrame:
    """Key-ordered distinct LSH edges among ``indexed`` (repo, path, bands)
    rows — the induced subgraph of the band-collision graph."""
    x, y = _exploded(indexed, "1"), _exploded(indexed, "2")
    return (
        x.join(y, ["band", "bucket"])
        .filter(F.struct("repo1", "path1") < F.struct("repo2", "path2"))
        .select(
            F.concat_ws(_KEY_SEP, "repo1", "path1").alias("doc1"),
            F.concat_ws(_KEY_SEP, "repo2", "path2").alias("doc2"),
        )
        .distinct()
    )


class IncrementalClusterIndex:
    """Persisted duplicate-cluster labels over a source TableStore's
    documents, maintained per-epoch from the changefeed on top of an
    :class:`IncrementalDedupIndex`. Label row: (repo, path, cluster) where
    ``cluster`` is the minimum composite node id in the component; docs in
    no near-dup pair carry no row (their own singleton, as in
    :func:`~.clustering.connected_components`)."""

    def __init__(self, root: str, index: IncrementalDedupIndex,
                 n_buckets: int = 8, local_cc_max_edges: int = 200_000):
        self.store = TableStore(root, n_buckets=n_buckets)
        self.index = index
        # scale-adaptive re-label (the asof.py auto sparse/dense pattern):
        # an affected subgraph at or under this many edges is collected and
        # resolved by driver-side union-find — one job instead of the ~10
        # serial localCheckpoint jobs iterative CC costs, which dominate at
        # component scale (a normal epoch touches a few cliques). Larger
        # subgraphs (a pathological mega-component) take the distributed
        # pointer-jumping path unchanged. The collect is BOUNDED by this
        # threshold — never corpus-sized.
        self.local_cc_max_edges = local_cc_max_edges

    # ------------------------------------------------------------------ #
    def _labels(self, spark: SparkSession) -> DataFrame:
        """Label state with a stable schema even before the first commit
        (an empty store's read_state knows only the key columns)."""
        if self.store.current_manifest() is None:
            return spark.createDataFrame([], CLUSTERS_SCHEMA)
        return self.store.read_state(spark)

    # ------------------------------------------------------------------ #
    def update(self, spark: SparkSession, src: TableStore,
               text_col: str = "content") -> dict:
        """Advance the labels (and the underlying band index) to the
        source's current version. Cost O(affected components)."""
        writer = f"cluster-index:{os.path.abspath(src.root)}"
        last = max(self.store.writer_epoch(writer), 0)
        head = src.current_version()
        if head <= last:
            return {"status": "noop", "from": last, "to": head}
        consumer = f"cluster-index:{os.path.abspath(self.store.root)}"
        if last > 0:
            src.record_consumer(consumer, last)

        # the band index must cover [.., head] before partners are probed;
        # fenced noop when a shared index already advanced this range
        self.index.update(spark, src, text_col=text_col)

        idx_state = self.index.store.read_state(spark)
        cached = []
        try:
            if self.store.current_manifest() is None:
                # BOOTSTRAP: no labels exist, so every indexed doc is
                # affected by definition — skip the changefeed read and the
                # partner probe entirely (probing the whole corpus against
                # itself would just rebuild the full pair set a second time)
                affected = idx_state.select("repo", "path").cache()
                cached.append(affected)
            else:
                # 1. changed keys (upserts AND deletes)
                chg = (
                    table_changes(spark, src, last, head)
                    .select("repo", "path")
                    .distinct()
                )

                # 2. current band partners of the changed docs (deleted docs
                #    have no index row and contribute nothing here — their
                #    old co-members arrive via the old-label closure below)
                chg_bands = idx_state.join(chg, ["repo", "path"])
                partners = (
                    _exploded(chg_bands, "1")
                    .join(_exploded(idx_state, "2"), ["band", "bucket"])
                    .select(
                        F.col("repo2").alias("repo"), F.col("path2").alias("path")
                    )
                )
                seeds = chg.unionByName(partners).distinct().cache()
                cached.append(seeds)

                # 3. affected = whole old components of every seed
                labels = self._labels(spark)
                aff_labels = (
                    labels.join(seeds, ["repo", "path"]).select("cluster").distinct()
                )
                affected = (
                    labels.join(aff_labels, "cluster")
                    .select("repo", "path")
                    .unionByName(seeds)
                    .distinct()
                    .cache()
                )
                cached.append(affected)

            # 4. re-cluster the induced subgraph only — driver-side
            #    union-find when it is component-sized, distributed
            #    pointer jumping when it is not
            edges = _band_edges(idx_state.join(affected, ["repo", "path"]))
            new_rows = self._components(spark, edges)

            # 5. MERGE: upsert re-labeled docs, delete rows for affected
            #    docs that ended up edge-less (deleted docs, new singletons)
            batch = (
                affected.join(new_rows, ["repo", "path"], "left")
                .select(
                    "repo", "path", "cluster",
                    F.when(F.col("cluster").isNull(), F.lit("d"))
                    .otherwise(F.lit("u"))
                    .alias("op"),
                )
                .cache()
            )
            cached.append(batch)
            n_b = self.store.n_buckets
            stats = (
                batch.groupBy(bucket_expr(n_b).alias("b"))
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            )
            dirty = sorted(r["b"] for r in stats)
            n_affected = sum(r["n"] for r in stats)
            if self.store._bucket_files(dirty):
                merged = merge_upsert(self.store.read_state(spark, buckets=dirty),
                                      batch)
            else:
                merged = batch.filter(F.col("op") != "d").drop("op")
            merged = merged.select(
                *[F.col(f.name).cast(f.dataType) for f in CLUSTERS_SCHEMA.fields]
            ).withColumn(BUCKET_COL, bucket_expr(n_b))
            version = self.store.commit(
                merged, dirty, [], head, CLUSTERS_SCHEMA, writer_id=writer
            )
            src.record_consumer(consumer, head)
            return {
                "status": "committed",
                "from": last,
                "to": head,
                "clusters_version": version,
                "n_affected": n_affected,
                "dirty_buckets": len(dirty),
            }
        finally:
            for df in cached:
                df.unpersist()

    # ------------------------------------------------------------------ #
    def _components(self, spark: SparkSession, edges: DataFrame) -> DataFrame:
        """(repo, path, cluster) labels for the docs in ``edges``.

        Adaptive: an affected subgraph of <= ``local_cc_max_edges`` edges
        (the normal epoch — a few cliques) is collected and resolved by
        driver-side union-find in one job; anything larger falls back to
        distributed pointer jumping. Both produce identical min-node
        labels, parity-asserted in tests at both settings."""
        cached = edges.cache()
        try:
            head = cached.limit(self.local_cc_max_edges + 1).collect()
            if len(head) <= self.local_cc_max_edges:
                parent: dict[str, str] = {}

                def find(x: str) -> str:
                    while parent[x] != x:
                        parent[x] = parent[parent[x]]
                        x = parent[x]
                    return x

                for r in head:
                    a, b = r["doc1"], r["doc2"]
                    parent.setdefault(a, a)
                    parent.setdefault(b, b)
                    ra, rb = find(a), find(b)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
                rows = [(n, find(n)) for n in parent]
                comp = spark.createDataFrame(
                    rows, "node string, cluster_id string"
                )
            else:
                comp = connected_components(cached, src="doc1", dst="doc2")
            return comp.select(
                F.substring_index("node", _KEY_SEP, 1).alias("repo"),
                F.substring_index("node", _KEY_SEP, -1).alias("path"),
                F.col("cluster_id").alias("cluster"),
            )
        finally:
            cached.unpersist()

    # ------------------------------------------------------------------ #
    def labels(self, spark: SparkSession) -> DataFrame:
        """Current (repo, path, cluster) labels — docs in >=1 pair only."""
        return self._labels(spark)

    def cluster_view(self, spark: SparkSession, src: TableStore) -> DataFrame:
        """Per-document cluster assignment + canonical-keep flag over the
        source's CURRENT state: (repo, path, cluster, keep). Singletons
        are their own cluster; within a cluster the minimum composite node
        id is canonical — the persisted twin of
        :func:`~.clustering.dedup_clusters`."""
        docs = src.read_state(spark).select("repo", "path")
        lab = self.labels(spark)
        return docs.join(lab, ["repo", "path"], "left").select(
            "repo",
            "path",
            F.coalesce("cluster", _node()).alias("cluster"),
            (F.coalesce("cluster", _node()) == _node()).alias("keep"),
        )

    def full_recompute(self, spark: SparkSession) -> DataFrame:
        """(repo, path, cluster) from a full CC over the ENTIRE persisted
        band index — the parity baseline the incremental path must equal."""
        comp = connected_components(
            _band_edges(self.index.store.read_state(spark)),
            src="doc1", dst="doc2",
        )
        return comp.select(
            F.substring_index("node", _KEY_SEP, 1).alias("repo"),
            F.substring_index("node", _KEY_SEP, -1).alias("path"),
            F.col("cluster_id").alias("cluster"),
        )
