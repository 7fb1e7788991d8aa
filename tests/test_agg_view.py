"""Incremental aggregate view maintenance (exact IVM with retractions):
multi-epoch insert/update/delete fixture with parity against full
recompute after EVERY epoch, null-measure SQL semantics, min/max
retraction of the reigning extreme, group disappearance, writer fencing,
and crash-between-commits resume."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from kp_data_replication_spark.operators.agg_view import (
    IncrementalAggView,
    Measure,
)
from kp_data_replication_spark.schema import CHANGELOG_SCHEMA
from kp_data_replication_spark.sources.table_store import TableStore
from kp_data_replication_spark.streaming.apply import CdcApplyEngine, EngineConfig

MEASURES = [
    Measure("count", None, "n_docs"),
    Measure("sum", "length(content)", "sum_len", dtype="long"),
    Measure("avg", "length(content)", "avg_len", dtype="long"),
    Measure("min", "length(content)", "min_len", dtype="long"),
    Measure("max", "length(content)", "max_len", dtype="long"),
    Measure("count_distinct", "length(content)", "n_len", dtype="long"),
]


def _env(doc_id, op, text, lang, lsn):
    img = Row(repo="corpus", path=str(doc_id), commit="c0", lang=lang,
              content=text)
    return Row(
        partition=doc_id % 4, lsn=lsn, op=op,
        before=img if op == "d" else None,
        after=None if op == "d" else img,
        ts_ms=None, headers=None, source_topic="repos",
    )


def _expected(spark, src):
    """Full recompute over the source's CURRENT state — what the
    incrementally maintained view must equal at every epoch."""
    ln = F.length("content")
    return (
        src.read_state(spark)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(ln).alias("sum_len"),
            F.avg(ln).alias("avg_len"),
            F.min(ln).alias("min_len"),
            F.max(ln).alias("max_len"),
            F.countDistinct(ln).alias("n_len"),
        )
    )


def _canon(rows):
    out = {}
    for r in rows:
        d = r.asDict()
        lang = d.pop("lang")
        if d.get("avg_len") is not None:
            d["avg_len"] = round(float(d["avg_len"]), 9)
        out[lang] = d
    return out


def _assert_parity(spark, src, view):
    got = _canon(view.read(spark).collect())
    want = _canon(_expected(spark, src).collect())
    assert got == want, (got, want)


def _setup(tmp_path, **cfg):
    src = TableStore(str(tmp_path / "src"), n_buckets=4)
    engine = CdcApplyEngine(src, EngineConfig(metrics=False, **cfg))
    view = IncrementalAggView(
        str(tmp_path / "view"), ["lang"], MEASURES, n_buckets=4
    )
    return src, engine, view


def _apply(spark, engine, batch, epoch):
    engine.apply_batch(spark.createDataFrame(batch, CHANGELOG_SCHEMA), epoch)


def test_view_tracks_insert_update_delete_epochs(spark, tmp_path):
    src, engine, view = _setup(tmp_path)

    # epoch 0: inserts across two groups; doc 0 holds en's min (len 5),
    # doc 3 holds en's max; fr has one all-null-content row (count ticks,
    # sum/avg/min/max must IGNORE it per ANSI semantics)
    b0 = [
        _env(0, "c", "tiny!", "en", 0),          # len 5 -> en min
        _env(1, "c", "medium words", "en", 1),   # len 12
        _env(3, "c", "the longest english row of them all", "en", 3),
        _env(4, "c", "bonjour", "fr", 4),
        _env(5, "c", None, "fr", 5),             # null measure value
    ]
    _apply(spark, engine, b0, 0)
    assert view.update(spark, src)["status"] == "committed"
    _assert_parity(spark, src, view)
    got = {r["lang"]: r for r in view.read(spark).collect()}
    assert got["en"]["min_len"] == 5
    assert got["fr"]["n_docs"] == 2 and got["fr"]["sum_len"] == 7
    assert got["fr"]["avg_len"] == 7.0  # avg over NON-NULL values only

    # epoch 1: delete the reigning en min (doc 0) -> min must fall back to
    # 12 via the multiset, no base rescan; update doc 4 to MOVE groups
    # fr -> de (retract from fr, add to de); insert a new fr row
    b1 = [
        _env(0, "d", "tiny!", "en", 100),
        _env(4, "u", "hallo welt", "de", 101),
        _env(6, "c", "une autre ligne", "fr", 102),
    ]
    _apply(spark, engine, b1, 1)
    view.update(spark, src)
    _assert_parity(spark, src, view)
    got = {r["lang"]: r for r in view.read(spark).collect()}
    assert got["en"]["min_len"] == 12
    assert "de" in got and got["de"]["n_docs"] == 1

    # epoch 2: delete every remaining fr row -> the fr group must leave
    # the view entirely (not linger as a zero row)
    b2 = [
        _env(5, "d", None, "fr", 200),
        _env(6, "d", "une autre ligne", "fr", 201),
    ]
    _apply(spark, engine, b2, 2)
    view.update(spark, src)
    _assert_parity(spark, src, view)
    langs = {r["lang"] for r in view.read(spark).collect()}
    assert "fr" not in langs and langs == {"en", "de"}


def test_update_is_fenced_and_idempotent(spark, tmp_path):
    src, engine, view = _setup(tmp_path)
    _apply(spark, engine, [_env(0, "c", "abc", "en", 0)], 0)
    assert view.update(spark, src)["status"] == "committed"
    before = _canon(view.read(spark).collect())
    out = view.update(spark, src)
    assert out["status"] == "noop"
    assert _canon(view.read(spark).collect()) == before


def test_multi_version_catchup_nets_intermediate_states(spark, tmp_path):
    """One update() spanning several source commits folds the NET change
    (state diff of the whole range) — inserted-then-deleted keys in the
    middle contribute nothing."""
    src, engine, view = _setup(tmp_path)
    _apply(spark, engine, [_env(0, "c", "abc", "en", 0)], 0)
    _apply(spark, engine, [_env(9, "c", "ephemeral row", "en", 10)], 1)
    _apply(spark, engine, [_env(9, "d", "ephemeral row", "en", 20)], 2)
    _apply(spark, engine, [_env(1, "c", "defgh", "en", 30)], 3)
    out = view.update(spark, src)
    assert out["status"] == "committed" and out["from"] == 0
    _assert_parity(spark, src, view)
    got = {r["lang"]: r for r in view.read(spark).collect()}
    assert got["en"]["n_docs"] == 2


def test_crash_between_detail_and_view_commit_resumes(spark, tmp_path):
    """Kill the update after the multiset sidecar commit but before the
    view commit; the rerun must converge (sidecar fenced, view delta
    re-derived from the same immutable version range)."""
    src, engine, view = _setup(tmp_path)
    _apply(spark, engine, [
        _env(0, "c", "abcd", "en", 0), _env(1, "c", "xy", "en", 1),
    ], 0)
    view.update(spark, src)

    _apply(spark, engine, [
        _env(1, "d", "xy", "en", 100),          # retract the reigning min
        _env(2, "c", "zzzzzzzzzz", "en", 101),
    ], 1)

    real_commit = view.view.commit
    calls = {"n": 0}

    def crashing_commit(*a, **k):
        calls["n"] += 1
        raise RuntimeError("injected crash before view commit")

    view.view.commit = crashing_commit
    with pytest.raises(RuntimeError, match="injected crash"):
        view.update(spark, src)
    assert calls["n"] == 1
    # sidecar advanced, view did not
    assert view.detail.writer_epoch(f"agg-view:{src.root}") == 2
    assert view.view.writer_epoch(f"agg-view:{src.root}") == 1

    view.view.commit = real_commit
    assert view.update(spark, src)["status"] == "committed"
    _assert_parity(spark, src, view)
    got = {r["lang"]: r for r in view.read(spark).collect()}
    assert got["en"]["min_len"] == 4 and got["en"]["max_len"] == 10


def test_count_distinct_retracts_only_on_last_copy(spark, tmp_path):
    """Two docs share a length: deleting one must NOT drop the distinct
    count (multiplicity 2 -> 1); deleting the second must (1 -> 0)."""
    src, engine, view = _setup(tmp_path)
    _apply(spark, engine, [
        _env(0, "c", "abc", "en", 0),    # len 3
        _env(1, "c", "xyz", "en", 1),    # len 3 again
        _env(2, "c", "abcde", "en", 2),  # len 5
    ], 0)
    view.update(spark, src)
    assert view.read(spark).collect()[0]["n_len"] == 2

    _apply(spark, engine, [_env(0, "d", "abc", "en", 100)], 1)
    view.update(spark, src)
    _assert_parity(spark, src, view)
    assert view.read(spark).collect()[0]["n_len"] == 2  # copy survives

    _apply(spark, engine, [_env(1, "d", "xyz", "en", 200)], 2)
    view.update(spark, src)
    _assert_parity(spark, src, view)
    assert view.read(spark).collect()[0]["n_len"] == 1


def test_all_null_group_publishes_null_aggregates(spark, tmp_path):
    src, engine, view = _setup(tmp_path)
    _apply(spark, engine, [_env(0, "c", None, "xx", 0)], 0)
    view.update(spark, src)
    _assert_parity(spark, src, view)
    r = view.read(spark).collect()[0]
    assert r["n_docs"] == 1
    assert r["sum_len"] is None and r["avg_len"] is None
    assert r["min_len"] is None and r["max_len"] is None
    assert r["n_len"] == 0  # count(DISTINCT) of an all-null group is 0


def test_rebucket_rescales_view_and_sidecar_together(spark, tmp_path):
    """Rebucketing rescales BOTH stores on the group-key hash; updates
    across the boundary stay exact (incl. a min retraction that must find
    the group's multiset co-located in the NEW layout)."""
    src, engine, view = _setup(tmp_path)
    _apply(spark, engine, [
        _env(0, "c", "ab", "en", 0),
        _env(1, "c", "abcdef", "en", 1),
        _env(4, "c", "bonjour", "fr", 2),
    ], 0)
    view.update(spark, src)

    out = view.rebucket(spark, 8)
    assert out["n_buckets"] == 8
    assert view.view.n_buckets == 8 and view.detail.n_buckets == 8
    _assert_parity(spark, src, view)  # rebucket is a logical no-op

    _apply(spark, engine, [_env(0, "d", "ab", "en", 100)], 1)
    view.update(spark, src)
    _assert_parity(spark, src, view)
    got = {r["lang"]: r for r in view.read(spark).collect()}
    assert got["en"]["min_len"] == 6  # retraction resolved in new layout


def test_streaming_integrated_view_kill_and_resume(spark, tmp_path):
    """The view advances INSIDE the streaming epoch loop
    (``start_stream(derived=[view.update])``), same resume contract as the
    dedup index: worst crash window is table committed / process dies
    before the view advance — on resume the re-delivered epoch no-ops at
    the table and the view catches up from its own fenced watermark.
    Parity with full recompute asserted at every epoch boundary."""
    import glob
    import os
    import shutil

    cl = tmp_path / "cl"
    cl.mkdir()
    src = TableStore(str(tmp_path / "src"), n_buckets=4)
    cp = str(tmp_path / "cp")
    view_dir = str(tmp_path / "view")
    engine = CdcApplyEngine(src, EngineConfig(metrics=False))
    view = IncrementalAggView(view_dir, ["lang"], MEASURES, n_buckets=4)

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
                            derived=[view.update])
    q.awaitTermination()
    assert view.update(spark, src)["status"] == "noop"  # stream kept it current
    _assert_parity(spark, src, view)

    # crash window: epoch 1's TABLE half commits under the stream's writer
    # identity, the process "dies" before the view advance
    put("f1", [_env(0, "d", "tiny!", "en", 100),
               _env(5, "c", "une ligne", "fr", 101)])
    stream_writer = f"stream:{os.path.abspath(cp)}"
    df1 = spark.read.schema(CHANGELOG_SCHEMA).parquet(str(cl / "f1.parquet"))
    assert engine.apply_batch(df1, 1, writer_id=stream_writer)[
        "status"] == "committed"
    assert view.view.writer_epoch(
        f"agg-view:{os.path.abspath(src.root)}") < src.current_version()

    # resume: table no-ops (fenced), view catches up in the same loop
    q = engine.start_stream(spark, str(cl), cp, CHANGELOG_SCHEMA,
                            max_files_per_trigger=1,
                            derived=[view.update])
    q.awaitTermination()
    _assert_parity(spark, src, view)
    got = {r["lang"]: r for r in view.read(spark).collect()}
    assert got["en"]["min_len"] == 12  # reigning min retracted via stream
    assert got["fr"]["n_docs"] == 2


def test_measure_validation():
    with pytest.raises(ValueError, match="needs expr"):
        Measure("sum", None, "s")
    with pytest.raises(ValueError, match="unknown measure kind"):
        Measure("median", "x", "m")
    with pytest.raises(ValueError, match="dtype"):
        Measure("sum", "x", "s", dtype="decimal")
    with pytest.raises(ValueError, match="unique and disjoint"):
        IncrementalAggView("/tmp/nope", ["lang"], [
            Measure("count", None, "lang"),
        ])


def _disc_quantile(vals, q):
    """The view's published definition: smallest value whose cumulative
    count reaches ceil(q * n) — SQL quantile_disc."""
    import math
    vs = sorted(v for v in vals if v is not None)
    if not vs:
        return None
    return vs[math.ceil(q * len(vs)) - 1]


def test_quantile_measures_exact_under_retraction(spark, tmp_path):
    """kind='quantile': exact discrete percentiles maintained through the
    multiset sidecar — deleting the reigning p95 value re-derives the new
    one from the multiset slice alone, never a base rescan."""
    src = TableStore(str(tmp_path / "src"), n_buckets=4)
    engine = CdcApplyEngine(src, EngineConfig(metrics=False))
    measures = [
        Measure("count", None, "n_docs"),
        Measure("quantile", "length(content)", "p50_len", dtype="long", q=0.5),
        Measure("quantile", "length(content)", "p95_len", dtype="long", q=0.95),
    ]
    view = IncrementalAggView(str(tmp_path / "view"), ["lang"], measures,
                              n_buckets=4)

    def check():
        per_group = {}
        for r in src.read_state(spark).collect():
            per_group.setdefault(r["lang"], []).append(
                len(r["content"]) if r["content"] is not None else None)
        want = {
            g: (_disc_quantile(v, 0.5), _disc_quantile(v, 0.95))
            for g, v in per_group.items()
        }
        got = {r["lang"]: (r["p50_len"], r["p95_len"])
               for r in view.read(spark).collect()}
        assert got == want, (got, want)

    # epoch 0: skewed lengths; doc 9 holds en's p95 (much longer)
    b0 = [_env(i, "c", "x" * (10 + i), "en", i) for i in range(9)]
    b0.append(_env(9, "c", "y" * 500, "en", 9))
    b0.append(_env(20, "c", "fr doc", "fr", 20))
    b0.append(_env(21, "c", None, "fr", 21))   # null ignored by quantiles
    _apply(spark, engine, b0, 0)
    view.update(spark, src)
    check()
    got = {r["lang"]: r for r in view.read(spark).collect()}
    assert got["en"]["p95_len"] == 500
    assert got["fr"]["p50_len"] == 6   # the single non-null value

    # epoch 1: DELETE the reigning p95 holder; update another value
    _apply(spark, engine, [
        _env(9, "d", "y" * 500, "en", 100),
        _env(0, "u", "x" * 300, "en", 101),
    ], 1)
    view.update(spark, src)
    check()
    got = {r["lang"]: r for r in view.read(spark).collect()}
    assert got["en"]["p95_len"] == 300   # retraction resolved via multiset

    # epoch 2: empty a whole group -> it leaves the view
    _apply(spark, engine, [_env(20, "d", "fr doc", "fr", 200),
                           _env(21, "d", None, "fr", 201)], 2)
    view.update(spark, src)
    check()
    assert "fr" not in {r["lang"] for r in view.read(spark).collect()}


def test_quantile_measure_validation():
    with pytest.raises(ValueError, match="quantile needs q"):
        Measure("quantile", "x", "p50")
    with pytest.raises(ValueError, match="quantile needs q"):
        Measure("quantile", "x", "p50", q=1.5)
    with pytest.raises(ValueError, match="q is quantile-only"):
        Measure("sum", "x", "s", q=0.5)
