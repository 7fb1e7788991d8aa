"""HDR-histogram quantile sketches: integer-exact binning vs the python
twin, quantile bound guarantees, linear mergeability/retraction, and the
changefeed-maintained view's live-state parity (deletes subtract)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from kp_data_replication_spark.operators.hdr import (
    HDR_SUB,
    IncrementalHdrHistogram,
    hdr_bins,
    hdr_quantiles,
    merge_hdr_bins,
    py_hdr_bin,
    py_hdr_quantile,
)
from tests.test_sketches import _envelope, _mk_store


@pytest.fixture(scope="module")
def lat(spark):
    # long-tailed "latency" corpus: v = (i * 7919) % 65536, plus exact
    # small values and boundary powers of two
    rows = [(i, f"t{i % 3}", (i * 7919) % 65536) for i in range(4000)]
    rows += [(10_000 + v, "t0", v) for v in
             (0, 1, 15, 16, 17, 31, 32, 1 << 20, (1 << 40) + 7)]
    return spark.createDataFrame(rows, "id long, g string, v long")


def _bin_map(df):
    cols = df.columns
    return {
        tuple(r[c] for c in cols[:-1]): r[cols[-1]] for r in df.collect()
    }


def test_bins_match_python_twin(spark, lat):
    got = _bin_map(hdr_bins(lat, ["g"], "v"))
    exp: dict = {}
    for r in lat.collect():
        k = (r.g, py_hdr_bin(r.v))
        exp[k] = exp.get(k, 0) + 1
    assert got == exp


def test_small_values_are_exact_and_negative_raises(spark):
    df = spark.createDataFrame(
        [(1, "a", v) for v in range(HDR_SUB)], "id long, g string, v long"
    )
    got = _bin_map(hdr_bins(df, ["g"], "v"))
    assert got == {("a", v): 1 for v in range(HDR_SUB)}
    bad = spark.createDataFrame([(1, "a", -5)], "id long, g string, v long")
    with pytest.raises(Exception, match="negative"):
        hdr_bins(bad, ["g"], "v").collect()


def test_quantile_bounds_contain_truth_with_bounded_error(spark, lat):
    """For every group and q: the TRUE rank-q value lies in
    [est_lo, est_hi], and the bin's relative width is <= 1/16."""
    qs = [0.5, 0.9, 0.99, 1.0]
    got = {
        (r.g, r.q): (r.est_lo, r.est_hi)
        for r in hdr_quantiles(hdr_bins(lat, ["g"], "v"), ["g"], qs).collect()
    }
    data: dict = {}
    for r in lat.collect():
        data.setdefault(r.g, []).append(r.v)
    for g, vals in data.items():
        vals.sort()
        for q in qs:
            lo, hi = got[(g, q)]
            true_v = vals[math.ceil(q * len(vals)) - 1]
            assert lo <= true_v <= hi, (g, q, lo, true_v, hi)
            assert (lo, hi) == py_hdr_quantile(vals, q)
            if hi >= HDR_SUB:
                assert (hi - lo) <= max(1, lo / HDR_SUB)


def test_merge_equals_whole_and_signed_retraction(spark, lat):
    a = lat.filter(F.col("id") % 2 == 0)
    b = lat.filter(F.col("id") % 2 == 1)
    ra, rb = hdr_bins(a, ["g"], "v"), hdr_bins(b, ["g"], "v")
    assert _bin_map(merge_hdr_bins([ra, rb], ["g"])) == _bin_map(
        hdr_bins(lat, ["g"], "v")
    )
    neg_b = hdr_bins(b.withColumn("_s", F.lit(-1)), ["g"], "v", "_s")
    whole = hdr_bins(lat, ["g"], "v")
    assert _bin_map(merge_hdr_bins([whole, neg_b], ["g"])) == _bin_map(ra)


def test_incremental_histogram_tracks_live_state_exactly(spark, tmp_path):
    """Live-state parity at every epoch: inserts add bins, updates move a
    row's count between bins, deletes subtract — then a fenced noop."""
    src, engine = _mk_store(spark, tmp_path, "src")
    sk = IncrementalHdrHistogram(
        str(tmp_path / "sk"), ["event_type"], "pmod(user_id * 7919, 65536)",
        n_buckets=4,
    )
    e0 = [(i, f"t{i % 2}", 100 + i * 13) for i in range(40)]
    e1 = [(i, f"t{i % 2}", 9000 + i * 7) for i in range(0, 40, 2)]
    e2 = [(i, f"t{i % 2}", 0) for i in range(0, 40, 4)]
    for epoch, (rows, op) in enumerate(((e0, "c"), (e1, "u"), (e2, "d"))):
        engine.apply_batch(
            _envelope(spark, rows, op, epoch * 1_000_000), epoch
        )
        assert sk.update(spark, src)["status"] == "committed"
        live = src.read_state(spark)
        assert _bin_map(sk.read(spark)) == _bin_map(
            hdr_bins(live, ["event_type"], "pmod(user_id * 7919, 65536)")
        )
    before = _bin_map(sk.read(spark))
    assert sk.update(spark, src)["status"] == "noop"
    assert _bin_map(sk.read(spark)) == before


def test_streaming_integrated_hdr_kill_and_resume(spark, tmp_path):
    """``start_stream(derived=[sk.update])`` advances the histogram in the
    epoch loop; worst crash window (table committed, process dies before the
    sketch advance) heals on resume without double-subtracting."""
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
        return Row(partition=doc_id % 4, lsn=lsn, op=op,
                   before=img if op == "d" else None,
                   after=None if op == "d" else img,
                   ts_ms=None, headers=None, source_topic="repos")

    cl = tmp_path / "cl"
    cl.mkdir()
    src = TableStore(str(tmp_path / "src"), n_buckets=4)
    cp = str(tmp_path / "cp")
    sk_dir = str(tmp_path / "sk")
    vexpr = "length(content)"
    engine = CdcApplyEngine(src, EngineConfig(metrics=False))
    sk = IncrementalHdrHistogram(sk_dir, ["lang"], vexpr, n_buckets=4)

    def put(name, rows):
        tmp = str(tmp_path / ("_w_" + name))
        spark.createDataFrame(rows, CHANGELOG_SCHEMA).coalesce(1).write.mode(
            "overwrite").parquet(tmp)
        shutil.move(glob.glob(tmp + "/part-*.parquet")[0],
                    str(cl / (name + ".parquet")))

    put("f0", [_env(0, "c", "tiny!", "en", 0),
               _env(1, "c", "medium words here", "en", 1),
               _env(4, "c", "bonjour", "fr", 2)])
    q = engine.start_stream(spark, str(cl), cp, CHANGELOG_SCHEMA,
                            max_files_per_trigger=1,
                            derived=[sk.update])
    q.awaitTermination()
    assert sk.update(spark, src)["status"] == "noop"

    put("f1", [_env(0, "d", "tiny!", "en", 100),
               _env(5, "c", "une ligne de plus", "fr", 101)])
    stream_writer = f"stream:{os.path.abspath(cp)}"
    df1 = spark.read.schema(CHANGELOG_SCHEMA).parquet(str(cl / "f1.parquet"))
    assert engine.apply_batch(df1, 1, writer_id=stream_writer)[
        "status"] == "committed"
    assert sk.store.writer_epoch(
        f"hdr-sketch:{os.path.abspath(src.root)}") < src.current_version()

    q = engine.start_stream(spark, str(cl), cp, CHANGELOG_SCHEMA,
                            max_files_per_trigger=1,
                            derived=[sk.update])
    q.awaitTermination()
    assert _bin_map(sk.read(spark)) == _bin_map(
        hdr_bins(src.read_state(spark), ["lang"], vexpr)
    )


def test_hdr_plans_stay_partitioned_and_jvm_side(spark, lat):
    """Plan audit: the bin projection partial-aggregates into ONE hash
    exchange (registers shuffle, not events); the quantile read's windows
    partition by the group — never a SinglePartition window; everything
    stays JVM-side."""
    from kp_data_replication_spark.plans.audit import (
        assert_no_row_python,
        count_exchanges,
        plan_string,
    )

    bins = hdr_bins(lat, ["g"], "v")
    assert count_exchanges(bins) == 1
    assert_no_row_python(bins)
    p = plan_string(bins, mode="simple")
    assert "partial_sum" in p or "partial" in p.lower()

    qs = hdr_quantiles(bins, ["g"], [0.5, 0.99])
    assert "SinglePartition" not in plan_string(qs)
    assert_no_row_python(qs)
