"""HyperLogLog register sketches: determinism, mergeability, estimate
accuracy, and the changefeed-maintained incremental sketch view."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kp_data_replication_spark.operators.sketches import (
    HLL_M,
    IncrementalHllSketch,
    _py_hll_rank,
    hll_estimate,
    hll_registers,
    merge_hll_registers,
    py_hll_estimate,
)


@pytest.fixture(scope="module")
def users(spark):
    rows = [
        (i, f"type_{i % 3}", (i * 13) % 1200)
        for i in range(6000)
    ]
    return spark.createDataFrame(rows, "event_id long, event_type string, user_id long")


def test_registers_match_python_twin(spark, users):
    got = {
        (r.event_type, r.reg): r.max_rank
        for r in hll_registers(users, ["event_type"], "user_id").collect()
    }
    exp: dict = {}
    for r in users.collect():
        reg, rank = _py_hll_rank(str(r.user_id))
        key = (r.event_type, reg)
        exp[key] = max(exp.get(key, 0), rank)
    assert got == exp
    assert all(1 <= v <= 53 for v in got.values())
    assert all(0 <= k[1] < HLL_M for k in got)


def test_merge_equals_whole(spark, users):
    """THE sketch property: registers over any partition union == registers
    over the whole — per-partition/per-day rollups are lossless."""
    a = hll_registers(users.filter(F.col("event_id") % 2 == 0), ["event_type"], "user_id")
    b = hll_registers(users.filter(F.col("event_id") % 2 == 1), ["event_type"], "user_id")
    merged = {
        (r.event_type, r.reg): r.max_rank
        for r in merge_hll_registers([a, b], ["event_type"]).collect()
    }
    whole = {
        (r.event_type, r.reg): r.max_rank
        for r in hll_registers(users, ["event_type"], "user_id").collect()
    }
    assert merged == whole


def test_estimate_accuracy_and_python_parity(spark, users):
    regs = hll_registers(users, ["event_type"], "user_id")
    est = {r.event_type: r.distinct_est for r in hll_estimate(regs, ["event_type"]).collect()}
    exact = {
        r.event_type: r.n
        for r in users.groupBy("event_type").agg(F.countDistinct("user_id").alias("n")).collect()
    }
    pdf = users.toPandas()
    for et, n in exact.items():
        # m=256 -> standard error ~6.5%; allow 3 sigma
        assert abs(est[et] - n) / n < 0.2, (et, est[et], n)
        vals = [str(v) for v in pdf[pdf.event_type == et]["user_id"]]
        assert est[et] == pytest.approx(py_hll_estimate(vals), rel=1e-12)


def test_nulls_are_skipped(spark):
    df = spark.createDataFrame(
        [(0, "a", None), (1, "a", 7), (2, "a", None)],
        "event_id long, event_type string, user_id long",
    )
    regs = hll_registers(df, ["event_type"], "user_id").collect()
    assert len(regs) == 1  # only the single non-null value lands


def _mk_store(spark, tmp_path, name, n_buckets=4):
    """A fresh source TableStore + apply engine pair."""
    from kp_data_replication_spark.sources.table_store import TableStore
    from kp_data_replication_spark.streaming.apply import CdcApplyEngine, EngineConfig

    src = TableStore(str(tmp_path / name), n_buckets=n_buckets)
    engine = CdcApplyEngine(src, EngineConfig(metrics=False))
    return src, engine


def _envelope(spark, triples, op, lsn_base):
    img = [
        ("events", str(p), et, uid) for p, et, uid in triples
    ]
    df = spark.createDataFrame(
        img, "repo string, path string, event_type string, user_id long"
    )
    struct = F.struct("repo", "path", "event_type", "user_id")
    is_del = op == "d"
    return df.select(
        F.pmod(F.col("path").cast("long"), F.lit(2)).cast("int").alias("partition"),
        (F.col("path").cast("long") + F.lit(lsn_base)).cast("long").alias("lsn"),
        F.lit(op).alias("op"),
        (struct if is_del else F.lit(None).cast(
            "struct<repo:string,path:string,event_type:string,user_id:bigint>"
        )).alias("before"),
        (F.lit(None).cast(
            "struct<repo:string,path:string,event_type:string,user_id:bigint>"
        ) if is_del else struct).alias("after"),
        F.lit(None).cast("timestamp").alias("ts_ms"),
        F.lit(None).cast("map<string,string>").alias("headers"),
        F.lit("repos").alias("source_topic"),
    )


def test_incremental_sketch_distinct_seen_semantics(spark, tmp_path):
    """3-epoch fixture: inserts, then updates (postimage values fold in),
    then deletes (IGNORED — distinct-seen). The sketch equals a batch
    recompute over every value observed at an update() boundary, and a
    replayed update() is a fenced noop."""
    src, engine = _mk_store(spark, tmp_path, "src")
    sk = IncrementalHllSketch(
        str(tmp_path / "sketch"), ["event_type"], "user_id", n_buckets=4
    )

    e0 = [(i, f"t{i % 2}", 100 + i) for i in range(40)]
    engine.apply_batch(_envelope(spark, e0, "c", 0), 0)
    assert sk.update(spark, src)["status"] == "committed"

    # epoch 1: update half the keys to NEW user ids
    e1 = [(i, f"t{i % 2}", 9000 + i) for i in range(0, 40, 2)]
    engine.apply_batch(_envelope(spark, e1, "u", 1_000_000), 1)
    assert sk.update(spark, src)["status"] == "committed"

    # epoch 2: delete some keys — must NOT retract
    e2 = [(i, f"t{i % 2}", 9000 + i) for i in range(0, 40, 4)]
    engine.apply_batch(_envelope(spark, e2, "d", 2_000_000), 2)
    assert sk.update(spark, src)["status"] == "committed"

    observed = [(0, et, v) for _, et, v in e0] + [(0, et, v) for _, et, v in e1]
    obs_df = spark.createDataFrame(observed, "x long, event_type string, user_id long")
    exp = {
        (r.event_type, r.reg): r.max_rank
        for r in hll_registers(obs_df, ["event_type"], "user_id").collect()
    }
    got = {(r.event_type, r.reg): r.max_rank for r in sk.read(spark).collect()}
    assert got == exp

    # fenced replay: head unchanged -> noop, state unchanged
    assert sk.update(spark, src)["status"] == "noop"
    again = {(r.event_type, r.reg): r.max_rank for r in sk.read(spark).collect()}
    assert again == exp


def test_incremental_sketch_epoch_cost_is_o_batch(spark, tmp_path):
    """A 1-row epoch rewrites only the touched group's bucket (dirty-bucket
    MERGE), not the whole register table."""
    src, engine = _mk_store(spark, tmp_path, "src2")
    sk = IncrementalHllSketch(
        str(tmp_path / "sketch2"), ["event_type"], "user_id", n_buckets=4
    )
    e0 = [(i, f"g{i % 8}", i) for i in range(200)]
    engine.apply_batch(_envelope(spark, e0, "c", 0), 0)
    sk.update(spark, src)

    engine.apply_batch(_envelope(spark, [(500, "g0", 777777)], "c", 1_000_000), 1)
    out = sk.update(spark, src)
    assert out["status"] == "committed"
    assert out["dirty_buckets"] == 1
    assert out["n_register_updates"] == 1


def test_streaming_integrated_sketch_kill_and_resume(spark, tmp_path):
    """The sketch advances INSIDE the streaming epoch loop
    (``start_stream(derived=[sk.update])``), same resume contract as the other
    incremental indexes: worst crash window is table committed / process
    dies before the sketch advance — on resume the re-delivered epoch
    no-ops at the table (fenced) and the sketch catches up from its own
    fenced watermark. Deleted values stay counted (distinct-seen)."""
    import glob
    import os
    import shutil

    from pyspark.sql import Row

    from kp_data_replication_spark.schema import CHANGELOG_SCHEMA
    from kp_data_replication_spark.sources.table_store import TableStore
    from kp_data_replication_spark.streaming.apply import CdcApplyEngine, EngineConfig

    def _env(doc_id, op, text, lang, lsn):
        img = Row(repo="corpus", path=str(doc_id), commit="c0", lang=lang,
                  content=text)
        return Row(
            partition=doc_id % 4, lsn=lsn, op=op,
            before=img if op == "d" else None,
            after=None if op == "d" else img,
            ts_ms=None, headers=None, source_topic="repos",
        )

    cl = tmp_path / "cl"
    cl.mkdir()
    src = TableStore(str(tmp_path / "src"), n_buckets=4)
    cp = str(tmp_path / "cp")
    sk_dir = str(tmp_path / "sketch")
    engine = CdcApplyEngine(src, EngineConfig(metrics=False))
    sk = IncrementalHllSketch(sk_dir, ["lang"], "content", n_buckets=4)

    def put(name, rows):
        tmp = str(tmp_path / ("_w_" + name))
        spark.createDataFrame(rows, CHANGELOG_SCHEMA).coalesce(1).write.mode(
            "overwrite").parquet(tmp)
        shutil.move(glob.glob(tmp + "/part-*.parquet")[0],
                    str(cl / (name + ".parquet")))

    put("f0", [
        _env(0, "c", "tiny!", "en", 0),
        _env(1, "c", "medium words", "en", 1),
        _env(4, "c", "bonjour", "fr", 2),
    ])
    q = engine.start_stream(spark, str(cl), cp, CHANGELOG_SCHEMA,
                            max_files_per_trigger=1,
                            derived=[sk.update])
    q.awaitTermination()
    assert sk.update(spark, src)["status"] == "noop"  # stream kept it current

    # crash window: epoch 1's TABLE half commits under the stream's writer
    # identity, the process "dies" before the sketch advance
    put("f1", [_env(0, "d", "tiny!", "en", 100),
               _env(5, "c", "une ligne", "fr", 101)])
    stream_writer = f"stream:{os.path.abspath(cp)}"
    df1 = spark.read.schema(CHANGELOG_SCHEMA).parquet(str(cl / "f1.parquet"))
    assert engine.apply_batch(df1, 1, writer_id=stream_writer)[
        "status"] == "committed"
    assert sk.store.writer_epoch(
        f"hll-sketch:{os.path.abspath(src.root)}") < src.current_version()

    # resume: table no-ops (fenced), sketch catches up in the same loop
    q = engine.start_stream(spark, str(cl), cp, CHANGELOG_SCHEMA,
                            max_files_per_trigger=1,
                            derived=[sk.update])
    q.awaitTermination()
    observed = spark.createDataFrame(
        [("en", "tiny!"), ("en", "medium words"),
         ("fr", "bonjour"), ("fr", "une ligne")],
        "lang string, content string",
    )
    exp = {
        (r.lang, r.reg): r.max_rank
        for r in hll_registers(observed, ["lang"], "content").collect()
    }
    got = {(r.lang, r.reg): r.max_rank for r in sk.read(spark).collect()}
    assert got == exp  # the DELETED doc's value is still counted
