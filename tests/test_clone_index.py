"""Incremental winnowing clone index (operators/clone_index.py):
multi-epoch insert/update/delete fixture with parity against full winnow
recompute after EVERY epoch, plus streaming kill/resume through the
worst crash window (table committed, index stale)."""

from __future__ import annotations

import os

from pyspark.sql import Row
from pyspark.sql import functions as F

from kp_data_replication_spark.operators.clone_index import IncrementalCloneIndex
from kp_data_replication_spark.operators.winnow import winnow_fingerprints
from kp_data_replication_spark.schema import CHANGELOG_SCHEMA
from kp_data_replication_spark.sources.table_store import TableStore
from kp_data_replication_spark.streaming.apply import CdcApplyEngine, EngineConfig

# a pasted function body shared by docs 0 and 1 (the partial clone);
# everything else is distinct prose
SNIPPET = "def apply_batch(self, frame, epoch): return self.store.commit(frame)"
BASE = {
    0: "module alpha header text then " + SNIPPET + " and a trailing remark",
    1: "totally unrelated beta preamble " + SNIPPET + " with different tail",
    2: "no clones here just ordinary documentation about table manifests",
    3: "another standalone file describing checkpoint fencing semantics",
    10: "gamma utilities collection " + SNIPPET + " plus helper constants",
    12: "short but unique content mentioning bucket layout evolution",
}
K, W = 16, 8


def _env(doc_id, op, text, lsn):
    img = Row(repo="corpus", path=str(doc_id), commit="c0", lang="en", content=text)
    return Row(
        partition=doc_id % 4,
        lsn=lsn, op=op,
        before=img if op == "d" else None,
        after=None if op == "d" else img,
        ts_ms=None, headers=None, source_topic="repos",
    )


def _full_pairs(spark, src):
    """Uncapped winnow recompute over the live state (the oracle shape)."""
    docs = src.read_state(spark).select(
        F.col("path").alias("doc_id"), F.col("content").alias("text")
    )
    sel = winnow_fingerprints(docs, k=K, w=W).select("doc", "fp").distinct()
    a = sel.select(F.col("doc").alias("d1"), "fp")
    b = sel.select(F.col("doc").alias("d2"), "fp")
    return {
        (r["d1"], r["d2"], r["n"])
        for r in a.join(b, "fp")
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }


def _index_pairs(spark, index):
    return {
        (
            min(r["path1"], r["path2"]),
            max(r["path1"], r["path2"]),
            r["n_shared_bands"],
        )
        for r in index.all_pairs(spark).collect()
    }


def _assert_parity(spark, src, index):
    assert _index_pairs(spark, index) == _full_pairs(spark, src)


def test_clone_index_tracks_insert_update_delete(spark, tmp_path):
    src = TableStore(str(tmp_path / "src"), n_buckets=4)
    engine = CdcApplyEngine(src, EngineConfig(metrics=False))
    index = IncrementalCloneIndex(str(tmp_path / "idx"), n_buckets=4, k=K, w=W)

    # ---- epoch 0: inserts (planted clone pair 0/1) ----
    batch0 = [_env(d, "c", BASE[d], lsn=d) for d in (0, 1, 2, 3, 12)]
    engine.apply_batch(spark.createDataFrame(batch0, CHANGELOG_SCHEMA), 0)
    out0 = index.update(spark, src)
    assert out0["status"] == "committed" and out0["n_changed"] == 5
    _assert_parity(spark, src, index)
    assert any(
        (a, b) == ("0", "1") for a, b, _ in _index_pairs(spark, index)
    )

    # ---- epoch 1: insert a third clone carrier, update 2 into a clone ----
    batch1 = [
        _env(10, "c", BASE[10], lsn=100),
        _env(2, "u", "now also pastes " + SNIPPET + " into doc two", lsn=101),
    ]
    engine.apply_batch(spark.createDataFrame(batch1, CHANGELOG_SCHEMA), 1)
    out1 = index.update(spark, src, emit_pairs=True)
    assert out1["status"] == "committed" and out1["n_changed"] == 2
    _assert_parity(spark, src, index)
    emitted = out1["pairs"].collect()
    changed = {"10", "2"}
    assert emitted and all(
        r["path1"] in changed or r["path2"] in changed for r in emitted
    )

    # ---- epoch 2: delete one carrier, update 1 away from the clone ----
    batch2 = [
        _env(10, "d", BASE[10], lsn=200),
        _env(1, "u", "rewritten beta file with no pasted body anymore", lsn=201),
    ]
    engine.apply_batch(spark.createDataFrame(batch2, CHANGELOG_SCHEMA), 2)
    out2 = index.update(spark, src)
    assert out2["status"] == "committed" and out2["n_changed"] == 2
    _assert_parity(spark, src, index)
    final = _index_pairs(spark, index)
    assert not any("10" in (a, b) for a, b, _ in final)
    assert not any((a, b) == ("0", "1") for a, b, _ in final)
    assert index.update(spark, src)["status"] == "noop"


def test_clone_index_update_to_short_text_replaces_stale_fps(spark, tmp_path):
    src = TableStore(str(tmp_path / "src"), n_buckets=4)
    engine = CdcApplyEngine(src, EngineConfig(metrics=False))
    index = IncrementalCloneIndex(str(tmp_path / "idx"), n_buckets=4, k=K, w=W)
    engine.apply_batch(
        spark.createDataFrame(
            [_env(0, "c", BASE[0], lsn=0), _env(1, "c", BASE[1], lsn=1)],
            CHANGELOG_SCHEMA,
        ),
        0,
    )
    index.update(spark, src)
    assert _index_pairs(spark, index)
    # doc 1 shrinks below the k + w - 1 floor: its entry must become the
    # EMPTY set (replaced, not stale), dissolving the pair
    engine.apply_batch(
        spark.createDataFrame([_env(1, "u", "tiny", lsn=10)], CHANGELOG_SCHEMA), 1
    )
    index.update(spark, src)
    _assert_parity(spark, src, index)
    assert not _index_pairs(spark, index)
    row = [
        r for r in index.store.read_state(spark).collect() if r["path"] == "1"
    ]
    assert row and row[0]["fps"] == []


def test_streaming_integrated_clone_index_kill_and_resume(spark, tmp_path):
    """``start_stream(derived=[index.update])`` advances the fingerprint
    index inside the epoch loop; the worst crash window (table committed, index stale) heals on
    resume via writer fencing + the index's own watermark."""
    import glob
    import shutil

    cl = tmp_path / "cl"
    cl.mkdir()
    src = TableStore(str(tmp_path / "src"), n_buckets=4)
    cp = str(tmp_path / "cp")
    idx_dir = str(tmp_path / "idx")
    engine = CdcApplyEngine(src, EngineConfig(metrics=False))
    index = IncrementalCloneIndex(idx_dir, n_buckets=4, k=K, w=W)

    def put(name, rows):
        tmp = str(tmp_path / ("_w_" + name))
        spark.createDataFrame(rows, CHANGELOG_SCHEMA).coalesce(1).write.mode(
            "overwrite").parquet(tmp)
        shutil.move(glob.glob(tmp + "/part-*.parquet")[0],
                    str(cl / (name + ".parquet")))

    put("f0", [_env(d, "c", BASE[d], lsn=d) for d in (0, 1, 2, 3)])
    q = engine.start_stream(spark, str(cl), cp, CHANGELOG_SCHEMA,
                            max_files_per_trigger=1,
                            derived=[index.update])
    q.awaitTermination()
    assert index.update(spark, src)["status"] == "noop"  # stream kept it current
    _assert_parity(spark, src, index)

    # crash window: table half commits under the stream's writer identity,
    # the process "dies" before the index advance
    put("f1", [_env(10, "c", BASE[10], lsn=100)])
    stream_writer = f"stream:{os.path.abspath(cp)}"
    df1 = spark.read.schema(CHANGELOG_SCHEMA).parquet(str(cl / "f1.parquet"))
    assert engine.apply_batch(df1, 1, writer_id=stream_writer)["status"] == "committed"
    assert index.store.writer_epoch(
        f"clone-index:{os.path.abspath(src.root)}") < src.current_version()

    # resume: re-delivered epoch no-ops at the table, index catches up
    q = engine.start_stream(spark, str(cl), cp, CHANGELOG_SCHEMA,
                            max_files_per_trigger=1,
                            derived=[index.update])
    q.awaitTermination()
    _assert_parity(spark, src, index)
    assert any(
        {a, b} == {"0", "10"} or {a, b} == {"1", "10"}
        for a, b, _ in _index_pairs(spark, index)
    )
