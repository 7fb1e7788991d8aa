"""Count-min sketches: determinism vs the python twin, the one-sided
error bound, linear mergeability, and the changefeed-maintained view's
exact-retraction property (sketch == batch recompute over LIVE state at
every epoch, deletes and updates included)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kp_data_replication_spark.operators.cms import (
    CMS_D,
    CMS_W,
    IncrementalCmsSketch,
    cms_estimate,
    cms_heavy_hitters,
    cms_registers,
    merge_cms_registers,
    py_cms_estimate,
)
from tests.test_sketches import _envelope, _mk_store


@pytest.fixture(scope="module")
def users(spark):
    # zipf-ish: user u appears ~ (1200/(u+1)) times across 3 event types
    rows = []
    i = 0
    for u in range(60):
        for _ in range(1200 // (u + 1)):
            rows.append((i, f"type_{i % 3}", u))
            i += 1
    return spark.createDataFrame(
        rows, "event_id long, event_type string, user_id long"
    )


def _reg_map(df):
    cols = df.columns  # (group..., d, w, cnt) — cnt last
    return {
        tuple(r[c] for c in cols[:-1]): r[cols[-1]] for r in df.collect()
    }


def test_registers_match_python_twin(spark, users):
    got = _reg_map(cms_registers(users, ["event_type"], "user_id"))
    import hashlib

    exp: dict = {}
    for r in users.collect():
        h = hashlib.md5(str(r.user_id).encode()).hexdigest()
        for d in range(CMS_D):
            k = (r.event_type, d, int(h[2 * d:2 * d + 2], 16))
            exp[k] = exp.get(k, 0) + 1
    assert got == exp
    assert all(0 <= k[2] < CMS_W for k in got)


def test_estimate_one_sided_and_bounded(spark, users):
    """est >= freq ALWAYS (collisions only inflate); and with W=256 the
    classic eps*N bound (e/W) holds with room on this corpus."""
    regs = cms_registers(users, ["event_type"], "user_id")
    exact = users.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    est = cms_estimate(
        regs, exact.select("event_type", "user_id"), ["event_type"], "user_id"
    )
    j = est.join(exact, ["event_type", "user_id"]).collect()
    n_total = users.count()
    assert all(r.est >= r.n for r in j)
    eps_n = (2.718 / CMS_W) * (n_total / 3)  # per-group stream size
    assert all(r.est - r.n <= eps_n for r in j)


def test_python_twin_estimate(spark, users):
    vals = [str(r.user_id) for r in users.filter(
        F.col("event_type") == "type_0").collect()]
    regs = cms_registers(
        users.filter(F.col("event_type") == "type_0"), [], "user_id"
    )
    est = cms_estimate(
        regs,
        spark.createDataFrame([(0,)], "user_id long"),
        [],
        "user_id",
    ).collect()[0].est
    assert est == py_cms_estimate(vals, "0")


def test_merge_equals_whole_and_signed_retraction(spark, users):
    """Linearity both ways: partition-union merge is lossless, and merging
    a NEGATED delta of a slice equals recomputing without the slice."""
    a = users.filter(F.col("event_id") % 2 == 0)
    b = users.filter(F.col("event_id") % 2 == 1)
    ra = cms_registers(a, ["event_type"], "user_id")
    rb = cms_registers(b, ["event_type"], "user_id")
    assert _reg_map(merge_cms_registers([ra, rb], ["event_type"])) == _reg_map(
        cms_registers(users, ["event_type"], "user_id")
    )
    neg_b = cms_registers(
        b.withColumn("_s", F.lit(-1)), ["event_type"], "user_id", "_s"
    )
    whole = cms_registers(users, ["event_type"], "user_id")
    assert _reg_map(merge_cms_registers([whole, neg_b], ["event_type"])) == \
        _reg_map(ra)


def test_heavy_hitters_never_miss(spark, users):
    """One-sided error means NO false negatives: every key with true
    count >= T is in the result set."""
    hh = {
        (r.event_type, r.user_id)
        for r in cms_heavy_hitters(
            users, ["event_type"], "user_id", 50
        ).collect()
    }
    true_hh = {
        (r.event_type, r.user_id)
        for r in users.groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 50)
        .collect()
    }
    assert true_hh <= hh


def test_nulls_are_skipped(spark):
    df = spark.createDataFrame(
        [(1, "a", 7), (2, "a", None), (3, "a", 7)],
        "event_id long, event_type string, user_id long",
    )
    regs = cms_registers(df, ["event_type"], "user_id")
    assert regs.agg(F.max("cnt")).collect()[0][0] == 2
    assert regs.count() == CMS_D  # only user 7's registers


def test_incremental_sketch_tracks_live_state_exactly(spark, tmp_path):
    """THE linear-sketch property the HLL view cannot have: after every
    epoch (inserts, updates with changed values, deletes) the persisted
    registers equal a batch recompute over the source's CURRENT live
    state — deletes subtracted, pre-images retracted. Replay is a fenced
    noop."""
    src, engine = _mk_store(spark, tmp_path, "src")
    sk = IncrementalCmsSketch(
        str(tmp_path / "sketch"), ["event_type"], "user_id", n_buckets=4
    )

    e0 = [(i, f"t{i % 2}", 100 + (i % 9)) for i in range(40)]
    e1 = [(i, f"t{i % 2}", 9000 + (i % 5)) for i in range(0, 40, 2)]
    e2 = [(i, f"t{i % 2}", 0) for i in range(0, 40, 4)]
    for epoch, (rows, op) in enumerate(((e0, "c"), (e1, "u"), (e2, "d"))):
        engine.apply_batch(
            _envelope(spark, rows, op, epoch * 1_000_000), epoch
        )
        assert sk.update(spark, src)["status"] == "committed"
        live = src.read_state(spark)
        assert _reg_map(sk.read(spark)) == _reg_map(
            cms_registers(live, ["event_type"], "user_id")
        )

    before = _reg_map(sk.read(spark))
    assert sk.update(spark, src)["status"] == "noop"
    assert _reg_map(sk.read(spark)) == before


def test_incremental_epoch_cost_is_o_batch(spark, tmp_path):
    """A 1-row epoch rewrites only the touched group's sketch bucket."""
    src, engine = _mk_store(spark, tmp_path, "src")
    sk = IncrementalCmsSketch(
        str(tmp_path / "sketch"), ["event_type"], "user_id", n_buckets=8
    )
    e0 = [(i, f"t{i % 8}", i) for i in range(64)]
    engine.apply_batch(_envelope(spark, e0, "c", 0), 0)
    sk.update(spark, src)
    engine.apply_batch(_envelope(spark, [(0, "t0", 777)], "u", 1_000_000), 1)
    r = sk.update(spark, src)
    # one group touched -> exactly one dirty sketch bucket
    assert r["dirty_buckets"] == 1
    # and the registers still equal the live-state recompute
    assert _reg_map(sk.read(spark)) == _reg_map(
        cms_registers(src.read_state(spark), ["event_type"], "user_id")
    )


def test_estimate_plan_broadcasts_sketch(spark, users):
    """The scoring join must broadcast the SKETCH side (tiny) so candidate
    scoring stays map-side at 10^9 keys."""
    from kp_data_replication_spark.plans.audit import (
        assert_broadcast_join,
        assert_no_row_python,
    )

    regs = cms_registers(users, ["event_type"], "user_id")
    est = cms_estimate(
        regs,
        users.select("event_type", "user_id").distinct(),
        ["event_type"],
        "user_id",
    )
    assert_broadcast_join(est)
    assert_no_row_python(est)


def test_streaming_integrated_cms_kill_and_resume(spark, tmp_path):
    """The CMS sketch advances INSIDE the streaming epoch loop
    (``start_stream(derived=[sk.update])``), same resume contract as the other
    incremental indexes — worst crash window is table committed / process
    dies before the sketch advance; on resume the re-delivered epoch
    no-ops at the table (fenced) and the sketch catches up from its own
    fenced watermark WITHOUT double-subtracting. Unlike the HLL twin,
    the deleted row's value is GONE afterwards (live-state semantics)."""
    import glob
    import os
    import shutil

    from pyspark.sql import Row

    from kp_data_replication_spark.schema import CHANGELOG_SCHEMA
    from kp_data_replication_spark.sources.table_store import TableStore
    from kp_data_replication_spark.streaming.apply import (
        CdcApplyEngine,
        EngineConfig,
    )

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
    sk = IncrementalCmsSketch(sk_dir, ["lang"], "content", n_buckets=4)

    def put(name, rows):
        tmp = str(tmp_path / ("_w_" + name))
        spark.createDataFrame(rows, CHANGELOG_SCHEMA).coalesce(1).write.mode(
            "overwrite").parquet(tmp)
        shutil.move(glob.glob(tmp + "/part-*.parquet")[0],
                    str(cl / (name + ".parquet")))

    put("f0", [
        _env(0, "c", "tiny!", "en", 0),
        _env(1, "c", "tiny!", "en", 1),
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
        f"cms-sketch:{os.path.abspath(src.root)}") < src.current_version()

    # resume: table no-ops (fenced), sketch catches up in the same loop
    q = engine.start_stream(spark, str(cl), cp, CHANGELOG_SCHEMA,
                            max_files_per_trigger=1,
                            derived=[sk.update])
    q.awaitTermination()
    assert _reg_map(sk.read(spark)) == _reg_map(
        cms_registers(src.read_state(spark), ["lang"], "content")
    )
    # the deleted doc's count really retracted: "tiny!" now counts once
    one = cms_estimate(
        sk.read(spark),
        spark.createDataFrame([("en", "tiny!")], "lang string, content string"),
        ["lang"], "content",
    ).collect()[0].est
    assert one == 1
