"""Incremental MinHash/LSH dedup index maintained from the changefeed:
multi-epoch insert/update/delete fixture, with parity against full
recompute after EVERY epoch — the proof that O(batch) maintenance equals
O(corpus) recompute."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from kp_data_replication_spark.operators.dedup_docs import minhash_lsh_pairs
from kp_data_replication_spark.operators.dedup_incremental import (
    IncrementalDedupIndex,
)
from kp_data_replication_spark.schema import CHANGELOG_SCHEMA
from kp_data_replication_spark.sources.table_store import TableStore
from kp_data_replication_spark.streaming.apply import CdcApplyEngine, EngineConfig

# a tiny corpus with planted near-duplicates (docs 0/1 and 10/11 share most
# of their shingles; others are distinct)
BASE = {
    0: "the quick brown fox jumps over the lazy dog in the yard today",
    1: "the quick brown fox jumps over the lazy dog in the yard today again",
    2: "completely different content about spark partitions and shuffles",
    3: "yet another unique document mentioning changefeeds and manifests",
    10: "incremental indexes amortize shingling cost across many epochs",
    11: "incremental indexes amortize shingling cost across many epochs soon",
    12: "a lonely row that matches nothing else in this little corpus",
}


def _env(doc_id, op, text, lsn):
    img = Row(repo="corpus", path=str(doc_id), commit="c0", lang="en", content=text)
    return Row(
        # key->partition affinity: partition is a pure function of the key
        partition=doc_id % 4,
        lsn=lsn, op=op,
        before=img if op == "d" else None,
        after=None if op == "d" else img,
        ts_ms=None, headers=None, source_topic="repos",
    )


def _state_docs(spark, src):
    return src.read_state(spark).select(
        F.col("path").cast("long").alias("doc_id"), F.col("content").alias("text")
    )


def _pairs_set(rows, incremental=False):
    if incremental:
        return {
            (int(r["path1"]), int(r["path2"]), r["n_shared_bands"]) for r in rows
        }
    return {(r["doc1"], r["doc2"], r["n_shared_bands"]) for r in rows}


def _assert_parity(spark, src, index):
    """Index-derived pairs == full LSH recompute over the source's state."""
    full = _pairs_set(minhash_lsh_pairs(_state_docs(spark, src)).collect())
    inc = _pairs_set(index.all_pairs(spark).collect(), incremental=True)
    assert inc == full, (sorted(inc), sorted(full))


def test_incremental_index_tracks_insert_update_delete(spark, tmp_path):
    """The index, fed by the exact state diff, converges to
    full-recompute parity after every epoch."""
    src = TableStore(str(tmp_path / "src"), n_buckets=4)
    engine = CdcApplyEngine(src, EngineConfig(metrics=False))
    index = IncrementalDedupIndex(str(tmp_path / "idx"), n_buckets=4)

    # ---- epoch 0: initial inserts (planted near-dup 0/1) ----
    batch0 = [_env(d, "c", BASE[d], lsn=d) for d in (0, 1, 2, 3, 12)]
    engine.apply_batch(spark.createDataFrame(batch0, CHANGELOG_SCHEMA), 0)
    out0 = index.update(spark, src)
    assert out0["status"] == "committed" and out0["n_changed"] == 5
    _assert_parity(spark, src, index)
    p0 = _pairs_set(index.all_pairs(spark).collect(), incremental=True)
    assert any(a == 0 and b == 1 for a, b, _ in p0)  # planted pair found

    # ---- epoch 1: insert near-dup cluster 10/11, update doc 2 ----
    batch1 = [
        _env(10, "c", BASE[10], lsn=100),
        _env(11, "c", BASE[11], lsn=101),
        _env(2, "u", BASE[0] + " now a copy of doc zero text", lsn=102),
    ]
    engine.apply_batch(spark.createDataFrame(batch1, CHANGELOG_SCHEMA), 1)
    out1 = index.update(spark, src, emit_pairs=True)
    assert out1["status"] == "committed"
    # O(batch): only the 3 changed docs were re-shingled
    assert out1["n_changed"] == 3
    _assert_parity(spark, src, index)
    # the per-epoch emitted pairs involve ONLY changed docs on side 1/2
    emitted = out1["pairs"].collect()
    changed = {"10", "11", "2"}
    assert emitted and all(
        r["path1"] in changed or r["path2"] in changed for r in emitted
    )
    assert any({r["path1"], r["path2"]} == {"10", "11"} for r in emitted)

    # ---- epoch 2: delete one side of a pair, update 1 away from 0 ----
    batch2 = [
        _env(10, "d", BASE[10], lsn=200),
        _env(1, "u", "entirely new text sharing nothing with doc zero now", lsn=201),
    ]
    engine.apply_batch(spark.createDataFrame(batch2, CHANGELOG_SCHEMA), 2)
    out2 = index.update(spark, src)
    assert out2["status"] == "committed" and out2["n_changed"] == 2
    _assert_parity(spark, src, index)
    final = _pairs_set(index.all_pairs(spark).collect(), incremental=True)
    # retraction: deleted doc 10 appears in no pair; 0/1 pair dissolved
    assert not any(10 in (a, b) for a, b, _ in final)
    assert not any((a, b) == (0, 1) for a, b, _ in final)

    # idempotent / resumable: re-running with no new source version is a noop
    assert index.update(spark, src)["status"] == "noop"


def test_update_to_empty_text_replaces_stale_bands(spark, tmp_path):
    src = TableStore(str(tmp_path / "src"), n_buckets=4)
    engine = CdcApplyEngine(src, EngineConfig(metrics=False))
    index = IncrementalDedupIndex(str(tmp_path / "idx"), n_buckets=4)
    engine.apply_batch(spark.createDataFrame(
        [_env(0, "c", BASE[0], 0), _env(1, "c", BASE[1], 1)], CHANGELOG_SCHEMA), 0)
    index.update(spark, src)
    assert _pairs_set(index.all_pairs(spark).collect(), incremental=True)

    # doc 1 shrinks below shingle length: its bands must be REPLACED (empty),
    # not left stale — the 0/1 pair disappears
    engine.apply_batch(spark.createDataFrame(
        [_env(1, "u", "too short", 100)], CHANGELOG_SCHEMA), 1)
    index.update(spark, src)
    _assert_parity(spark, src, index)
    assert not index.all_pairs(spark).collect()


def test_index_merge_touches_only_dirty_index_buckets(spark, tmp_path):
    """O(batch) on the INDEX side too: an epoch's merge rewrites only the
    index buckets the changed keys hash into — the untouched buckets'
    files carry forward by manifest reference, byte-identical."""
    src = TableStore(str(tmp_path / "src"), n_buckets=4)
    engine = CdcApplyEngine(src, EngineConfig(metrics=False))
    # 16 buckets so a single-doc epoch leaves most of the index untouched
    index = IncrementalDedupIndex(str(tmp_path / "idx"), n_buckets=16)
    engine.apply_batch(spark.createDataFrame(
        [_env(d, "c", BASE[d], d) for d in BASE], CHANGELOG_SCHEMA), 0)
    index.update(spark, src)
    m1 = index.store.current_manifest()

    engine.apply_batch(spark.createDataFrame(
        [_env(0, "u", BASE[0] + " changed", 100)], CHANGELOG_SCHEMA), 1)
    out = index.update(spark, src)
    assert out["dirty_index_buckets"] == 1
    m2 = index.store.current_manifest()
    changed_buckets = [
        b for b in m2["buckets"] if m2["buckets"][b] != m1["buckets"].get(b, [])
    ]
    assert len(changed_buckets) == 1  # every other bucket carried forward
    _assert_parity(spark, src, index)


def test_index_registers_as_retention_consumer(spark, tmp_path):
    """The index's position pins source vacuum: a lagging index survives
    aggressive vacuum and catches up incrementally."""
    src = TableStore(str(tmp_path / "src"), n_buckets=4)
    engine = CdcApplyEngine(src, EngineConfig(metrics=False))
    index = IncrementalDedupIndex(str(tmp_path / "idx"), n_buckets=4)
    engine.apply_batch(spark.createDataFrame(
        [_env(d, "c", BASE[d], d) for d in (0, 1, 2)], CHANGELOG_SCHEMA), 0)
    index.update(spark, src)

    # source commits 2 more versions while the index lags; vacuum hard
    engine.apply_batch(spark.createDataFrame(
        [_env(3, "c", BASE[3], 100)], CHANGELOG_SCHEMA), 1)
    engine.apply_batch(spark.createDataFrame(
        [_env(12, "c", BASE[12], 200)], CHANGELOG_SCHEMA), 2)
    src.vacuum(keep_versions=1)

    out = index.update(spark, src)  # no FileNotFoundError: v1 was pinned
    assert out["status"] == "committed" and out["from"] == 1 and out["to"] == 3
    _assert_parity(spark, src, index)


def test_streaming_integrated_index_kill_and_resume(spark, tmp_path):
    """Round-4: the index advances INSIDE the streaming epoch loop
    (``start_stream(derived=[index.update])``) and kill/resume covers both halves —
    including the worst crash window: table committed, process dies BEFORE
    the index advance. On resume the re-delivered epoch no-ops at the
    table (writer fencing) and the index catches up from its own
    watermark. Parity with full recompute is asserted at every epoch
    boundary."""
    import os

    cl = tmp_path / "cl"
    cl.mkdir()
    src = TableStore(str(tmp_path / "src"), n_buckets=4)
    cp = str(tmp_path / "cp")
    idx_dir = str(tmp_path / "idx")
    engine = CdcApplyEngine(src, EngineConfig(metrics=False))
    index = IncrementalDedupIndex(idx_dir, n_buckets=4)

    def put(name, rows):
        # the file stream source lists FLAT files — write via a temp dir
        # and move the part file into the changelog directory
        import glob
        import shutil

        tmp = str(tmp_path / ("_w_" + name))
        spark.createDataFrame(rows, CHANGELOG_SCHEMA).coalesce(1).write.mode(
            "overwrite").parquet(tmp)
        shutil.move(glob.glob(tmp + "/part-*.parquet")[0],
                    str(cl / (name + ".parquet")))

    # ---- epoch 0 via the stream: initial inserts (planted pair 0/1) ----
    put("f0", [_env(d, "c", BASE[d], lsn=d) for d in (0, 1, 2, 3)])
    q = engine.start_stream(spark, str(cl), cp, CHANGELOG_SCHEMA,
                            max_files_per_trigger=1,
                            derived=[index.update])
    q.awaitTermination()
    assert index.update(spark, src)["status"] == "noop"  # stream kept it current
    _assert_parity(spark, src, index)

    # ---- crash window: epoch 1's TABLE half commits under the stream's
    # writer identity, then the process "dies" before the index advance ----
    put("f1", [_env(10, "c", BASE[10], lsn=100),
               _env(11, "c", BASE[11], lsn=101)])
    stream_writer = f"stream:{os.path.abspath(cp)}"
    df1 = spark.read.schema(CHANGELOG_SCHEMA).parquet(str(cl / "f1.parquet"))
    out = engine.apply_batch(df1, 1, writer_id=stream_writer)
    assert out["status"] == "committed"
    # the index is now BEHIND the table (the crash left it stale)
    assert index.store.writer_epoch(
        f"dedup-index:{os.path.abspath(src.root)}") < src.current_version()

    # ---- resume: the stream re-delivers epoch 1 -> table no-ops (fenced),
    # index catches up in the same foreachBatch ----
    q = engine.start_stream(spark, str(cl), cp, CHANGELOG_SCHEMA,
                            max_files_per_trigger=1,
                            derived=[index.update])
    q.awaitTermination()
    _assert_parity(spark, src, index)
    pairs = _pairs_set(index.all_pairs(spark).collect(), incremental=True)
    assert any({a, b} == {10, 11} for a, b, _ in pairs)

    # ---- epoch 2 via the stream: delete + update, parity holds ----
    put("f2", [_env(10, "d", BASE[10], lsn=200),
               _env(1, "u", "entirely new text now", lsn=201)])
    q = engine.start_stream(spark, str(cl), cp, CHANGELOG_SCHEMA,
                            max_files_per_trigger=1,
                            derived=[index.update])
    q.awaitTermination()
    _assert_parity(spark, src, index)
    final = _pairs_set(index.all_pairs(spark).collect(), incremental=True)
    assert not any(10 in (a, b) for a, b, _ in final)
    assert not any((a, b) == (0, 1) for a, b, _ in final)
