"""Bigram stupid-backoff LM (operators/lm.py): scoring math vs a pure-
python reference on every backoff leg, the head-cut selector, and the
changefeed-maintained count view's exact-retraction property (model ==
batch recompute over LIVE state at every epoch, deletes and updates
included)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from kp_data_replication_spark.operators.lm import (
    LM_ALPHA,
    IncrementalLmCounts,
    lm_counts,
    lm_score,
    lm_select,
)
from kp_data_replication_spark.sources.table_store import TableStore
from kp_data_replication_spark.streaming.apply import CdcApplyEngine, EngineConfig

TRAIN = [
    (0, "the cat sat on the mat", "en"),
    (1, "the cat ate the fish", "en"),
    (2, "a dog sat on a log", "en"),
    (3, "der hund sitzt", "de"),  # excluded from the en slice
]

SCORE = [
    (10, "the cat sat"),            # all bigrams seen
    (11, "the fish sat on a log"),  # mix of seen + unigram backoff
    (12, "zyx wvu tsr"),            # pure OOV floor
    (13, "single"),                 # no bigram -> absent from scores
]


def _py_model(rows):
    c1: dict = {}
    c2: dict = {}
    t = 0
    for _, text, lang in rows:
        if lang != "en":
            continue
        ws = [w for w in text.strip().lower().split() if w]
        t += len(ws)
        for w in ws:
            c1[w] = c1.get(w, 0) + 1
        for a, b in zip(ws, ws[1:]):
            c2[(a, b)] = c2.get((a, b), 0) + 1
    return c1, c2, t


def _py_score(text, c1, c2, t):
    ws = [w for w in text.strip().lower().split() if w]
    lps = []
    for a, b in zip(ws, ws[1:]):
        if (a, b) in c2:
            p = c2[(a, b)] / c1[a]
        elif b in c1:
            p = LM_ALPHA * c1[b] / t
        else:
            p = LM_ALPHA / t
        lps.append(round(math.log10(p), 6))
    if not lps:
        return None
    return (len(lps), round(sum(lps) / len(lps), 4))


@pytest.fixture(scope="module")
def model(spark):
    train = spark.createDataFrame(TRAIN, "doc_id long, text string, lang string")
    return lm_counts(train.filter(F.col("lang") == "en"))


def test_counts_match_python(spark, model):
    c1, c2, t = _py_model(TRAIN)
    got_uni = {
        r.w1: r.c for r in model.filter("g = 1").collect()
    }
    got_bi = {
        (r.w1, r.w2): r.c for r in model.filter("g = 2").collect()
    }
    assert got_uni == c1
    assert got_bi == c2
    assert sum(got_uni.values()) == t


def test_score_every_backoff_leg(spark, model):
    docs = spark.createDataFrame(SCORE, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_bigrams, r.avg_logp)
        for r in lm_score(docs, model).collect()
    }
    c1, c2, t = _py_model(TRAIN)
    exp = {
        d: _py_score(text, c1, c2, t)
        for d, text in SCORE
        if _py_score(text, c1, c2, t) is not None
    }
    assert got == exp
    assert 13 not in got  # single-token doc carries no bigram evidence
    # leg sanity: seen bigrams score higher than the OOV floor
    assert got[10][1] > got[12][1]


def test_select_head_cut_keeps_singletons(spark, model):
    docs = spark.createDataFrame(SCORE, "doc_id long, text string")
    scores = {
        r.doc_id: r.avg_logp for r in lm_score(docs, model).collect()
    }
    cut = scores[11]  # threshold at the middle doc
    kept = {
        r.doc_id for r in lm_select(docs, model, min_avg_logp=cut).collect()
    }
    assert 10 in kept and 11 in kept
    assert 12 not in kept  # OOV junk scores below the cut
    assert 13 in kept      # no evidence -> kept


# --------------------------------------------------------------------- #
# incremental view
# --------------------------------------------------------------------- #
def _text_envelope(spark, pairs, op, lsn_base):
    df = spark.createDataFrame(
        [("corpus", str(p), t) for p, t in pairs],
        "repo string, path string, content string",
    )
    struct = F.struct("repo", "path", "content")
    null_img = F.lit(None).cast("struct<repo:string,path:string,content:string>")
    is_del = op == "d"
    return df.select(
        F.pmod(F.col("path").cast("long"), F.lit(2)).cast("int").alias("partition"),
        (F.col("path").cast("long") + F.lit(lsn_base)).cast("long").alias("lsn"),
        F.lit(op).alias("op"),
        (struct if is_del else null_img).alias("before"),
        (null_img if is_del else struct).alias("after"),
        F.lit(None).cast("timestamp").alias("ts_ms"),
        F.lit(None).cast("map<string,string>").alias("headers"),
        F.lit("repos").alias("source_topic"),
    )


def _counts_map(df):
    return {(r.g, r.w1, r.w2): r.c for r in df.collect()}


def test_incremental_equals_recompute_every_epoch(spark, tmp_path):
    """insert -> update (pre-image text retracted) -> delete (grams
    subtracted): the view equals lm_counts(live state) after EVERY
    epoch, and a replayed update() is a fenced noop."""
    src = TableStore(str(tmp_path / "src"), n_buckets=4)
    engine = CdcApplyEngine(src, EngineConfig(metrics=False))
    view = IncrementalLmCounts(str(tmp_path / "lm"), text_col="content",
                               n_buckets=4)

    e0 = [(i, f"alpha beta gamma doc{i}") for i in range(12)]
    e1 = [(i, f"beta beta delta doc{i}") for i in range(0, 12, 3)]  # updates
    e2 = [(i, f"alpha beta gamma doc{i}") for i in range(0, 12, 4)]  # deletes

    for epoch, (batch, op) in enumerate([(e0, "c"), (e1, "u"), (e2, "d")]):
        engine.apply_batch(
            _text_envelope(spark, batch, op, epoch * 1_000_000), epoch
        )
        res = view.update(spark, src)
        assert res["status"] == "committed"
        live = src.read_state(spark).select(
            F.col("path").alias("doc_id"), F.col("content").alias("text")
        )
        assert _counts_map(view.read(spark)) == _counts_map(lm_counts(live))

    # fenced replay is a noop
    assert view.update(spark, src)["status"] == "noop"

    # the maintained model scores identically to a fresh batch model
    live = src.read_state(spark).select(
        F.col("path").cast("long").alias("doc_id"),
        F.col("content").alias("text"),
    )
    a = sorted(lm_score(live, view.read(spark)).collect())
    b = sorted(lm_score(live, lm_counts(live)).collect())
    assert a == b


def test_streaming_integrated_lm_kill_and_resume(spark, tmp_path):
    """The LM count table advances INSIDE the streaming epoch loop
    (``start_stream(derived=[view.update])``), same resume contract as the
    sibling incremental views — worst crash window is table committed /
    process dies before the model advance; on resume the re-delivered epoch
    no-ops at the table (fenced) and the model catches up from its own
    fenced watermark WITHOUT double-subtracting, ending equal to a batch
    retrain over the live corpus."""
    import glob
    import os
    import shutil

    from pyspark.sql import Row

    from kp_data_replication_spark.schema import CHANGELOG_SCHEMA

    def _env(doc_id, op, text, lsn):
        img = Row(repo="corpus", path=str(doc_id), commit="c0", lang="en",
                  content=text)
        return Row(
            partition=doc_id % 4, lsn=lsn, op=op,
            before=img if op == "d" else None,
            after=None if op == "d" else img,
            ts_ms=None, headers=None, source_topic="repos",
        )

    cl = tmp_path / "cl"
    cl.mkdir()
    src = TableStore(str(tmp_path / "ssrc"), n_buckets=4)
    cp = str(tmp_path / "scp")
    lm_dir = str(tmp_path / "slm")
    engine = CdcApplyEngine(src, EngineConfig(metrics=False))
    view = IncrementalLmCounts(lm_dir, text_col="content", n_buckets=4)

    def put(name, rows):
        tmp = str(tmp_path / ("_w_" + name))
        spark.createDataFrame(rows, CHANGELOG_SCHEMA).coalesce(1).write.mode(
            "overwrite").parquet(tmp)
        shutil.move(glob.glob(tmp + "/part-*.parquet")[0],
                    str(cl / (name + ".parquet")))

    put("f0", [_env(0, "c", "alpha beta gamma", 0),
               _env(1, "c", "beta gamma delta", 1)])
    q = engine.start_stream(spark, str(cl), cp, CHANGELOG_SCHEMA,
                            max_files_per_trigger=1,
                            derived=[view.update])
    q.awaitTermination()
    assert view.update(spark, src)["status"] == "noop"  # stream kept it fresh

    # crash window: epoch 1's TABLE half commits under the stream's writer
    # identity, the process "dies" before the model advance
    put("f1", [_env(0, "d", "alpha beta gamma", 100),
               _env(2, "c", "epsilon beta", 101)])
    stream_writer = f"stream:{os.path.abspath(cp)}"
    df1 = spark.read.schema(CHANGELOG_SCHEMA).parquet(str(cl / "f1.parquet"))
    assert engine.apply_batch(df1, 1, writer_id=stream_writer)[
        "status"] == "committed"
    assert view.store.writer_epoch(
        f"lm-counts:{os.path.abspath(src.root)}") < src.current_version()

    # resume: table no-ops (fenced), model catches up in the same loop
    q = engine.start_stream(spark, str(cl), cp, CHANGELOG_SCHEMA,
                            max_files_per_trigger=1,
                            derived=[view.update])
    q.awaitTermination()
    live = src.read_state(spark).select(
        F.col("path").alias("doc_id"), F.col("content").alias("text")
    )
    assert _counts_map(view.read(spark)) == _counts_map(lm_counts(live))
    # the deleted doc's grams really retracted: only doc 0 carried 'alpha'
    assert (1, "alpha", "") not in _counts_map(view.read(spark))


def test_incremental_registers_consumer_pin(spark, tmp_path):
    """The view registers itself in the source's consumer registry so
    vacuum cannot drop changefeed versions it still needs."""
    src = TableStore(str(tmp_path / "src2"), n_buckets=4)
    engine = CdcApplyEngine(src, EngineConfig(metrics=False))
    view = IncrementalLmCounts(str(tmp_path / "lm2"), text_col="content",
                               n_buckets=4)
    engine.apply_batch(_text_envelope(spark, [(1, "a b c")], "c", 0), 0)
    view.update(spark, src)
    engine.apply_batch(_text_envelope(spark, [(2, "c d e")], "c", 100), 1)
    view.update(spark, src)
    consumers = src.consumers()
    assert any(k.startswith("lm-counts:") for k in consumers)
