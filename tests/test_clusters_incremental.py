"""Incremental duplicate-cluster maintenance from the changefeed:
insert/bridge-merge/bridge-delete-SPLIT/update-move epochs, with parity
against (a) a full CC recompute over the band index and (b) an
independent pure-Python connected-components oracle over
minhash_lsh_pairs of the live corpus state — after EVERY epoch.

The bridge texts are deterministic finds (md5-fixed minhash): B = A ++ C
shares a band with A and a band with C while A and C never collide, so
inserting B merges two components and deleting B SPLITS them again — the
re-labeling case naive incremental CC gets wrong.
"""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from kp_data_replication_spark.operators.clusters_incremental import (
    IncrementalClusterIndex,
)
from kp_data_replication_spark.operators.dedup_docs import minhash_lsh_pairs
from kp_data_replication_spark.operators.dedup_incremental import (
    IncrementalDedupIndex,
)
from kp_data_replication_spark.schema import CHANGELOG_SCHEMA
from kp_data_replication_spark.sources.table_store import TableStore
from kp_data_replication_spark.streaming.apply import CdcApplyEngine, EngineConfig

# deterministic LSH geometry (verified by the assertions below):
# pairs: (0,1) exact copies of A; (10,11) exact copies of C;
# bridge B pairs with BOTH A-docs and C-docs; A and C never pair.
A = "alpha beta gamma delta epsilon zeta eta theta iota kappa six five"
C = "nu xi omicron pi rho sigma tau upsilon phi chi three"
B = A + " " + C
NOISE2 = "completely different content about spark partitions and shuffles"
NOISE3 = "yet another unique document mentioning changefeeds and manifests"


def _env(doc_id, op, text, lsn):
    img = Row(repo="corpus", path=str(doc_id), commit="c0", lang="en", content=text)
    return Row(
        partition=doc_id % 4, lsn=lsn, op=op,
        before=img if op == "d" else None,
        after=None if op == "d" else img,
        ts_ms=None, headers=None, source_topic="repos",
    )


def _apply(spark, engine, epoch, rows):
    engine.apply_batch(spark.createDataFrame(rows, CHANGELOG_SCHEMA), epoch)


def _label_set(df):
    return {(r["repo"], r["path"], r["cluster"]) for r in df.collect()}


def _python_cc_oracle(spark, src):
    """Independent expected labels: LSH pairs over the LIVE corpus state
    (full recompute through the public pair operator), resolved into
    min-composite-id components by plain-Python union-find."""
    docs = src.read_state(spark).select(
        F.col("path").alias("doc_id"), F.col("content").alias("text")
    )
    pairs = [
        (r["doc1"], r["doc2"])
        for r in minhash_lsh_pairs(docs).collect()
    ]
    parent: dict[str, str] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp: dict[str, list[str]] = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    sep = "\x01"
    out = set()
    for members in comp.values():
        cid = "corpus" + sep + min(members)
        for m in members:
            out.add(("corpus", m, cid))
    return out


def _assert_parity(spark, src, clusters):
    inc = _label_set(clusters.labels(spark))
    full = _label_set(clusters.full_recompute(spark))
    assert inc == full, (sorted(inc), sorted(full))
    oracle = _python_cc_oracle(spark, src)
    assert inc == oracle, (sorted(inc), sorted(oracle))


def _clusters_by_path(spark, clusters):
    rows = clusters.labels(spark).collect()
    comp: dict[str, set[str]] = {}
    for r in rows:
        comp.setdefault(r["cluster"], set()).add(r["path"])
    return {frozenset(v) for v in comp.values()}


import pytest


@pytest.mark.parametrize("max_edges", [200_000, 0], ids=["local-uf", "distributed"])
def test_bridge_merge_split_and_move(spark, tmp_path, max_edges):
    """max_edges=200k takes the driver-side union-find path (the normal
    component-sized epoch); max_edges=0 forces distributed pointer jumping
    on every epoch — both must produce identical labels."""
    src = TableStore(str(tmp_path / "src"), n_buckets=4)
    engine = CdcApplyEngine(src, EngineConfig(metrics=False))
    index = IncrementalDedupIndex(str(tmp_path / "idx"), n_buckets=4)
    clusters = IncrementalClusterIndex(str(tmp_path / "cc"), index, n_buckets=4,
                                       local_cc_max_edges=max_edges)

    # ---- epoch 0: two disjoint dup components + noise ----
    _apply(spark, engine, 0, [
        _env(0, "c", A, 0), _env(1, "c", A, 1),
        _env(10, "c", C, 2), _env(11, "c", C, 3),
        _env(2, "c", NOISE2, 4), _env(3, "c", NOISE3, 5),
    ])
    out0 = clusters.update(spark, src)
    assert out0["status"] == "committed"
    _assert_parity(spark, src, clusters)
    assert _clusters_by_path(spark, clusters) == {
        frozenset({"0", "1"}), frozenset({"10", "11"}),
    }

    # ---- epoch 1: bridge INSERT merges the two components ----
    _apply(spark, engine, 1, [_env(5, "c", B, 100)])
    out1 = clusters.update(spark, src)
    _assert_parity(spark, src, clusters)
    assert _clusters_by_path(spark, clusters) == {
        frozenset({"0", "1", "5", "10", "11"}),
    }
    # O(affected): the noise docs were never touched
    assert out1["n_affected"] == 5

    # ---- epoch 2: bridge DELETE splits the component again ----
    _apply(spark, engine, 2, [_env(5, "d", B, 200)])
    out2 = clusters.update(spark, src)
    _assert_parity(spark, src, clusters)
    assert _clusters_by_path(spark, clusters) == {
        frozenset({"0", "1"}), frozenset({"10", "11"}),
    }
    assert out2["n_affected"] == 5  # the old merged component, nothing else

    # fenced noop when nothing new committed
    assert clusters.update(spark, src)["status"] == "noop"

    # ---- epoch 3: update moves doc 2 into the A-component; deleting 11
    # strands 10 as a singleton (its label row must disappear) ----
    _apply(spark, engine, 3, [_env(2, "u", A, 300), _env(11, "d", C, 301)])
    clusters.update(spark, src)
    _assert_parity(spark, src, clusters)
    assert _clusters_by_path(spark, clusters) == {frozenset({"0", "1", "2"})}

    # ---- epoch 4: update MOVES doc 0 across components (split + merge) ----
    _apply(spark, engine, 4, [_env(0, "u", C, 400)])
    clusters.update(spark, src)
    _assert_parity(spark, src, clusters)
    assert _clusters_by_path(spark, clusters) == {
        frozenset({"1", "2"}), frozenset({"0", "10"}),
    }

    # cluster_view covers the FULL corpus with singleton fallback
    view = {
        (r["path"], r["keep"])
        for r in clusters.cluster_view(spark, src).collect()
    }
    assert ("3", True) in view  # noise doc: own cluster, kept
    n_kept = sum(1 for _, k in view if k)
    assert n_kept == 3  # one canonical per cluster: {1,2}, {0,10}, {3}


def test_multi_version_catchup_and_shared_index(spark, tmp_path):
    """One update() spanning several source commits converges identically,
    and a band index ALREADY advanced by another consumer is a fenced noop
    inside the cluster update (crash-between-commits resume shape)."""
    src = TableStore(str(tmp_path / "src"), n_buckets=4)
    engine = CdcApplyEngine(src, EngineConfig(metrics=False))
    index = IncrementalDedupIndex(str(tmp_path / "idx"), n_buckets=4)
    clusters = IncrementalClusterIndex(str(tmp_path / "cc"), index, n_buckets=4)

    _apply(spark, engine, 0, [
        _env(0, "c", A, 0), _env(1, "c", A, 1),
        _env(10, "c", C, 2), _env(11, "c", C, 3),
    ])
    clusters.update(spark, src)

    # three more source commits before the next cluster advance; the index
    # is advanced by its own consumer after each (simulating the crash
    # point: index committed, clusters not yet)
    _apply(spark, engine, 1, [_env(5, "c", B, 100)])
    index.update(spark, src)
    _apply(spark, engine, 2, [_env(5, "d", B, 200)])
    _apply(spark, engine, 3, [_env(2, "c", A, 300)])
    out = clusters.update(spark, src)
    assert out["status"] == "committed"
    _assert_parity(spark, src, clusters)
    assert _clusters_by_path(spark, clusters) == {
        frozenset({"0", "1", "2"}), frozenset({"10", "11"}),
    }

def test_cluster_merge_touches_only_affected_buckets(spark, tmp_path):
    """O(affected) on the LABEL STORE side too: an epoch whose changes touch
    no component rewrites at most the single bucket its seed key hashes
    into — every other label bucket's files carry forward by manifest
    reference, byte-identical."""
    src = TableStore(str(tmp_path / "src"), n_buckets=4)
    engine = CdcApplyEngine(src, EngineConfig(metrics=False))
    index = IncrementalDedupIndex(str(tmp_path / "idx"), n_buckets=4)
    clusters = IncrementalClusterIndex(str(tmp_path / "cc"), index, n_buckets=16)

    _apply(spark, engine, 0, [
        _env(0, "c", A, 0), _env(1, "c", A, 1),
        _env(10, "c", C, 2), _env(11, "c", C, 3),
        _env(3, "c", NOISE3, 4),
    ])
    clusters.update(spark, src)
    m1 = clusters.store.current_manifest()
    before = _label_set(clusters.labels(spark))

    # delete the pair-less noise doc: affected = {3} only
    _apply(spark, engine, 1, [_env(3, "d", NOISE3, 100)])
    out = clusters.update(spark, src)
    assert out["n_affected"] == 1 and out["dirty_buckets"] == 1
    m2 = clusters.store.current_manifest()
    rewritten = [
        b for b in m2["buckets"] if m2["buckets"][b] != m1["buckets"].get(b, [])
    ]
    assert len(rewritten) <= 1  # every other label bucket carried forward
    assert _label_set(clusters.labels(spark)) == before  # components untouched
    _assert_parity(spark, src, clusters)


def test_cluster_index_registers_as_retention_consumer(spark, tmp_path):
    """The label store's position pins source vacuum (same auto-pin contract
    as the band index): a lagging cluster index survives aggressive vacuum
    and catches up across the vacuumed range."""
    src = TableStore(str(tmp_path / "src"), n_buckets=4)
    engine = CdcApplyEngine(src, EngineConfig(metrics=False))
    index = IncrementalDedupIndex(str(tmp_path / "idx"), n_buckets=4)
    clusters = IncrementalClusterIndex(str(tmp_path / "cc"), index, n_buckets=4)

    _apply(spark, engine, 0, [_env(0, "c", A, 0), _env(1, "c", A, 1)])
    clusters.update(spark, src)
    assert any(g.startswith("cluster-index:") for g in src.consumers())

    _apply(spark, engine, 1, [_env(10, "c", C, 100)])
    _apply(spark, engine, 2, [_env(11, "c", C, 200)])
    src.vacuum(keep_versions=1)

    out = clusters.update(spark, src)  # no FileNotFoundError: v1 was pinned
    assert out["status"] == "committed" and out["from"] == 1 and out["to"] == 3
    _assert_parity(spark, src, clusters)
    assert _clusters_by_path(spark, clusters) == {
        frozenset({"0", "1"}), frozenset({"10", "11"}),
    }

def test_streaming_integrated_clusters_kill_and_resume(spark, tmp_path):
    """Round-4: the cluster labels advance INSIDE the streaming epoch loop
    (``derived=[index.update, clusters.update]``) and
    kill/resume covers all three artifacts — including the worst crash
    window: table AND index committed, process dies BEFORE the cluster
    advance. On resume the re-delivered epoch no-ops at the table and the
    index, and the labels catch up from their own watermark. Parity with
    full recompute + the union-find oracle at every epoch boundary."""
    import glob
    import os
    import shutil

    cl = tmp_path / "cl"
    cl.mkdir()
    src = TableStore(str(tmp_path / "src"), n_buckets=4)
    cp = str(tmp_path / "cp")
    idx_dir, cc_dir = str(tmp_path / "idx"), str(tmp_path / "cc")
    engine = CdcApplyEngine(src, EngineConfig(metrics=False))
    index = IncrementalDedupIndex(idx_dir, n_buckets=4)
    clusters = IncrementalClusterIndex(cc_dir, index, n_buckets=4)

    def put(name, rows):
        tmp = str(tmp_path / ("_w_" + name))
        spark.createDataFrame(rows, CHANGELOG_SCHEMA).coalesce(1).write.mode(
            "overwrite").parquet(tmp)
        shutil.move(glob.glob(tmp + "/part-*.parquet")[0],
                    str(cl / (name + ".parquet")))

    # ---- epoch 0 via the stream: the two disjoint components ----
    put("f0", [_env(0, "c", A, 0), _env(1, "c", A, 1),
               _env(10, "c", C, 2), _env(11, "c", C, 3)])
    q = engine.start_stream(spark, str(cl), cp, CHANGELOG_SCHEMA,
                            max_files_per_trigger=1,
                            derived=[index.update, clusters.update])
    q.awaitTermination()
    assert clusters.update(spark, src)["status"] == "noop"  # stream current
    _assert_parity(spark, src, clusters)
    assert _clusters_by_path(spark, clusters) == {
        frozenset({"0", "1"}), frozenset({"10", "11"}),
    }

    # ---- crash window: epoch 1's table half AND index half commit, the
    # process "dies" before the cluster advance ----
    put("f1", [_env(5, "c", B, 100)])
    stream_writer = f"stream:{os.path.abspath(cp)}"
    df1 = spark.read.schema(CHANGELOG_SCHEMA).parquet(str(cl / "f1.parquet"))
    engine.apply_batch(df1, 1, writer_id=stream_writer)
    index.update(spark, src)
    assert clusters.store.writer_epoch(
        f"cluster-index:{os.path.abspath(src.root)}") < src.current_version()

    # ---- resume: table + index no-op (fenced), labels catch up ----
    q = engine.start_stream(spark, str(cl), cp, CHANGELOG_SCHEMA,
                            max_files_per_trigger=1,
                            derived=[index.update, clusters.update])
    q.awaitTermination()
    _assert_parity(spark, src, clusters)
    assert _clusters_by_path(spark, clusters) == {
        frozenset({"0", "1", "5", "10", "11"}),  # bridge merged them
    }

    # ---- epoch 2 via the stream: bridge delete SPLITS mid-stream ----
    put("f2", [_env(5, "d", B, 200)])
    q = engine.start_stream(spark, str(cl), cp, CHANGELOG_SCHEMA,
                            max_files_per_trigger=1,
                            derived=[index.update, clusters.update])
    q.awaitTermination()
    _assert_parity(spark, src, clusters)
    assert _clusters_by_path(spark, clusters) == {
        frozenset({"0", "1"}), frozenset({"10", "11"}),
    }
