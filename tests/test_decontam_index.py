"""Incremental decontamination index maintained from the changefeed:
parity against the batch scan-everything decontaminate after EVERY epoch
of a multi-epoch insert/update/delete fixture (the proof that probing the
persisted fingerprint index equals re-tokenizing the corpus), delete
retraction, empty-text replacement, fencing, and the plan audit that the
probe never touches corpus text."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from kp_data_replication_spark.operators.decontam_index import (
    IncrementalDecontamIndex,
)
from kp_data_replication_spark.operators.dedup_docs import decontaminate
from kp_data_replication_spark.schema import CHANGELOG_SCHEMA
from kp_data_replication_spark.sources.table_store import TableStore
from kp_data_replication_spark.streaming.apply import CdcApplyEngine, EngineConfig

BENCH = {
    100: "the quick brown fox jumps over the lazy dog",
    101: "spark partitions and shuffles explained for beginners",
}

CORPUS = {
    0: "the quick brown fox jumps over the lazy dog in the yard",   # hits 100
    1: "completely different content about manifests and vacuum",
    2: "a study of spark partitions and shuffles explained twice",  # hits 101
    3: "nothing in common with any benchmark document here",
}


def _env(doc_id, op, text, lsn):
    img = Row(repo="corpus", path=str(doc_id), commit="c0", lang="en",
              content=text)
    return Row(partition=doc_id % 4, lsn=lsn, op=op,
               before=img if op == "d" else None,
               after=None if op == "d" else img,
               ts_ms=None, headers=None, source_topic="repos")


def _probes(spark):
    return spark.createDataFrame(
        [(k, v) for k, v in BENCH.items()], "doc_id long, text string")


def _assert_parity(spark, src, index):
    """Index-probed contamination == batch decontaminate over the source's
    CURRENT state (same tokenizer, same counts)."""
    docs = src.read_state(spark).select(
        F.col("path").cast("long").alias("doc_id"),
        F.col("content").alias("text"))
    want = {
        (r["doc_id"], r["n_hit_ngrams"], r["n_probes"])
        for r in decontaminate(docs, _probes(spark)).collect()
    }
    got = {
        (int(r["path"]), r["n_hit_ngrams"], r["n_probes"])
        for r in index.contaminated(spark, _probes(spark)).collect()
    }
    assert got == want, (got, want)


def _setup(spark, tmp_path):
    src = TableStore(str(tmp_path / "src"), n_buckets=4)
    engine = CdcApplyEngine(src, EngineConfig(metrics=False))
    index = IncrementalDecontamIndex(str(tmp_path / "idx"), n_buckets=4)
    return src, engine, index


def _apply(spark, engine, batch, epoch):
    engine.apply_batch(spark.createDataFrame(batch, CHANGELOG_SCHEMA), epoch)


def test_parity_through_insert_update_delete_epochs(spark, tmp_path):
    src, engine, index = _setup(spark, tmp_path)

    # epoch 0: inserts
    _apply(spark, engine,
           [_env(i, "c", t, i) for i, t in CORPUS.items()], 0)
    assert index.update(spark, src)["status"] == "committed"
    _assert_parity(spark, src, index)
    got = {int(r["path"])
           for r in index.contaminated(spark, _probes(spark)).collect()}
    assert got == {0, 2}

    # epoch 1: doc 1 updated to BECOME contaminated; doc 3 updated but
    # stays clean
    _apply(spark, engine, [
        _env(1, "u", "now discussing the quick brown fox jumps over it", 100),
        _env(3, "u", "still nothing shared with any benchmark at all", 101),
    ], 1)
    assert index.update(spark, src)["status"] == "committed"
    _assert_parity(spark, src, index)
    got = {int(r["path"])
           for r in index.contaminated(spark, _probes(spark)).collect()}
    assert got == {0, 1, 2}

    # epoch 2: delete doc 0 (flag must retract — the text left the
    # corpus); update doc 2 to empty text (fingerprint replaced, not stale)
    _apply(spark, engine, [_env(0, "d", CORPUS[0], 200),
                           _env(2, "u", "", 201)], 2)
    assert index.update(spark, src)["status"] == "committed"
    _assert_parity(spark, src, index)
    got = {int(r["path"])
           for r in index.contaminated(spark, _probes(spark)).collect()}
    assert got == {1}


def test_multi_version_catchup_and_fencing(spark, tmp_path):
    src, engine, index = _setup(spark, tmp_path)
    _apply(spark, engine, [_env(i, "c", t, i) for i, t in CORPUS.items()], 0)
    _apply(spark, engine, [_env(0, "d", CORPUS[0], 100)], 1)
    r = index.update(spark, src)
    assert r["status"] == "committed" and r["from"] == 0 and r["to"] == 2
    _assert_parity(spark, src, index)
    assert index.update(spark, src)["status"] == "noop"


def test_probe_reads_index_not_corpus_text(spark, tmp_path):
    """The contamination probe's plan touches ONLY index files (columnar
    hash arrays) — zero corpus data files, zero Python, and the probe side
    is broadcast."""
    import os
    from urllib.parse import urlparse

    from kp_data_replication_spark.plans.audit import (
        assert_no_row_python,
        plan_string,
    )

    src, engine, index = _setup(spark, tmp_path)
    _apply(spark, engine, [_env(i, "c", t, i) for i, t in CORPUS.items()], 0)
    index.update(spark, src)

    out = index.contaminated(spark, _probes(spark))
    assert_no_row_python(out)
    assert "BroadcastHashJoin" in plan_string(out, mode="simple")
    src_root = os.path.abspath(src.root)
    touched = {urlparse(f).path for f in out.inputFiles()}
    assert touched and not any(p.startswith(src_root) for p in touched)


def test_streaming_integrated_index_kill_and_resume(spark, tmp_path):
    """The fingerprint index advances INSIDE the streaming epoch loop
    (``start_stream(derived=[index.update])``); the table-committed-but-
    index-lagging crash window heals on resume via the fenced catch-up."""
    import glob
    import os
    import shutil

    cl = tmp_path / "cl"
    cl.mkdir()
    src = TableStore(str(tmp_path / "src"), n_buckets=4)
    cp = str(tmp_path / "cp")
    idx_dir = str(tmp_path / "idx")
    engine = CdcApplyEngine(src, EngineConfig(metrics=False))
    index = IncrementalDecontamIndex(idx_dir, n_buckets=4)

    def put(name, rows):
        tmp = str(tmp_path / ("_w_" + name))
        spark.createDataFrame(rows, CHANGELOG_SCHEMA).coalesce(1).write.mode(
            "overwrite").parquet(tmp)
        shutil.move(glob.glob(tmp + "/part-*.parquet")[0],
                    str(cl / (name + ".parquet")))

    put("f0", [_env(i, "c", t, i) for i, t in CORPUS.items()])
    q = engine.start_stream(spark, str(cl), cp, CHANGELOG_SCHEMA,
                            max_files_per_trigger=1,
                            derived=[index.update])
    q.awaitTermination()
    assert index.update(spark, src)["status"] == "noop"  # stream kept it current
    _assert_parity(spark, src, index)

    # crash window: the table half of epoch 1 commits, the process "dies"
    # before the index advance
    put("f1", [_env(0, "d", CORPUS[0], 100)])
    stream_writer = f"stream:{os.path.abspath(cp)}"
    df1 = spark.read.schema(CHANGELOG_SCHEMA).parquet(str(cl / "f1.parquet"))
    assert engine.apply_batch(df1, 1, writer_id=stream_writer)[
        "status"] == "committed"
    assert index.store.writer_epoch(
        f"decontam-index:{os.path.abspath(src.root)}") < src.current_version()

    q = engine.start_stream(spark, str(cl), cp, CHANGELOG_SCHEMA,
                            max_files_per_trigger=1,
                            derived=[index.update])
    q.awaitTermination()
    _assert_parity(spark, src, index)
    got = {int(r["path"])
           for r in index.contaminated(spark, _probes(spark)).collect()}
    assert got == {2}
