"""SCD Type-2 timeline maintained from the exact per-version changefeed:
interval shape over a full key lifecycle, as-of parity against the
source's time travel at EVERY version, multi-version catch-up ==
per-epoch maintenance (intermediate images preserved), dirty-bucket
pruning, maintenance-version skips, fencing, pruning, and streaming
kill/resume through start_stream(derived=[view.update])."""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import Row
from pyspark.sql import functions as F

from kp_data_replication_spark.operators.scd import Scd2View
from kp_data_replication_spark.schema import CHANGELOG_SCHEMA
from kp_data_replication_spark.sources.table_store import TableStore
from kp_data_replication_spark.streaming.apply import CdcApplyEngine, EngineConfig


def _env(doc_id, op, text, lsn):
    img = Row(repo="corpus", path=str(doc_id), commit="c0", lang="en",
              content=text)
    return Row(
        partition=doc_id % 4, lsn=lsn, op=op,
        before=img if op == "d" else None,
        after=None if op == "d" else img,
        ts_ms=None, headers=None, source_topic="repos",
    )


def _setup(tmp_path, **cfg):
    src = TableStore(str(tmp_path / "src"), n_buckets=4)
    engine = CdcApplyEngine(src, EngineConfig(metrics=False, **cfg))
    view = Scd2View(str(tmp_path / "scd2"), n_buckets=4)
    return src, engine, view


def _apply(spark, engine, batch, epoch):
    engine.apply_batch(spark.createDataFrame(batch, CHANGELOG_SCHEMA), epoch)


BATCHES = [
    # v1: three inserts
    [_env(0, "c", "alpha", 0), _env(1, "c", "bravo", 1),
     _env(2, "c", "charlie", 2)],
    # v2: update 0, delete 1, insert 3
    [_env(0, "u", "alpha2", 100), _env(1, "d", "bravo", 101),
     _env(3, "c", "delta", 102)],
    # v3: reinsert 1, update 0 again
    [_env(1, "c", "bravo-reborn", 200), _env(0, "u", "alpha3", 201)],
]


def _timeline(spark, view):
    return {
        (r["path"], r["_valid_from"]): (r["content"], r["_valid_to"])
        for r in view.history(spark).collect()
    }


def test_lifecycle_intervals(spark, tmp_path):
    """insert -> update -> delete -> reinsert produces the classic SCD2
    interval chain, deletes closing without opening."""
    src, engine, view = _setup(tmp_path)
    for e, b in enumerate(BATCHES):
        _apply(spark, engine, b, e)
        assert view.update(spark, src)["status"] == "committed"

    tl = _timeline(spark, view)
    assert tl[("0", 1)] == ("alpha", 2)
    assert tl[("0", 2)] == ("alpha2", 3)
    assert tl[("0", 3)] == ("alpha3", None)
    assert tl[("1", 1)] == ("bravo", 2)          # closed by the delete
    assert tl[("1", 3)] == ("bravo-reborn", None)
    assert tl[("2", 1)] == ("charlie", None)
    assert tl[("3", 2)] == ("delta", None)
    assert len(tl) == 7

    # current() == the source's live state
    cur = {r["path"]: r["content"] for r in view.current(spark).collect()}
    want = {r["path"]: r["content"]
            for r in src.read_state(spark).collect()}
    assert cur == want


def test_as_of_matches_source_time_travel(spark, tmp_path):
    """as_of(v) answered from the timeline equals the source's versioned
    read for EVERY committed version — the SCD2 view is a time-travel
    index that outlives source vacuum."""
    src, engine, view = _setup(tmp_path)
    for e, b in enumerate(BATCHES):
        _apply(spark, engine, b, e)
        view.update(spark, src)

    for v in range(1, src.current_version() + 1):
        got = {(r["path"], r["content"])
               for r in view.as_of(spark, v)
               .select("path", "content").collect()}
        want = {(r["path"], r["content"])
                for r in src.read_state(spark, version=v)
                .select("path", "content").collect()}
        assert got == want, v


def test_multi_version_catchup_preserves_intermediate_images(spark, tmp_path):
    """ONE update() spanning all three source versions produces the same
    timeline as per-epoch maintenance: the per-version CDF walk keeps
    every intermediate image (a net range diff would collapse
    alpha->alpha2->alpha3 into one transition and lose [2,3))."""
    src, engine, view = _setup(tmp_path)
    for e, b in enumerate(BATCHES):
        _apply(spark, engine, b, e)
    r = view.update(spark, src)
    assert r["status"] == "committed" and r["from"] == 0 and r["to"] == 3

    per_epoch = Scd2View(str(tmp_path / "scd2b"), n_buckets=4)
    src2 = TableStore(str(tmp_path / "src2"), n_buckets=4)
    engine2 = CdcApplyEngine(src2, EngineConfig(metrics=False))
    for e, b in enumerate(BATCHES):
        _apply(spark, engine2, b, e)
        per_epoch.update(spark, src2)

    assert _timeline(spark, view) == _timeline(spark, per_epoch)
    assert _timeline(spark, view)[("0", 2)] == ("alpha2", 3)


def test_fencing_and_noop(spark, tmp_path):
    src, engine, view = _setup(tmp_path)
    _apply(spark, engine, BATCHES[0], 0)
    assert view.update(spark, src)["status"] == "committed"
    assert view.update(spark, src)["status"] == "noop"
    before = _timeline(spark, view)
    # replaying the same source version range is fenced out
    assert view.update(spark, src)["status"] == "noop"
    assert _timeline(spark, view) == before


def test_maintenance_versions_advance_cursor_without_rows(spark, tmp_path):
    """A row-preserving rebucket of the source between epochs must not
    mint phantom intervals; the cursor still advances past it."""
    src, engine, view = _setup(tmp_path)
    _apply(spark, engine, BATCHES[0], 0)
    view.update(spark, src)
    tl0 = _timeline(spark, view)

    src.rebucket(spark, 8)  # row_preserving maintenance version
    r = view.update(spark, src)
    assert r["status"] == "committed" and r["n_events"] == 0
    assert _timeline(spark, view) == tl0
    assert view.update(spark, src)["status"] == "noop"

    # subsequent real changes keep working across the layout change
    _apply(spark, engine, BATCHES[1], 1)
    view.update(spark, src)
    assert _timeline(spark, view)[("0", 3)] == ("alpha2", None)


def test_dirty_bucket_pruning(spark, tmp_path):
    """An epoch touching one key rewrites only that key's history bucket:
    the other buckets' data files are carried by reference."""
    src, engine, view = _setup(tmp_path)
    _apply(spark, engine, BATCHES[0], 0)
    view.update(spark, src)
    m0 = view.hist.current_manifest()

    _apply(spark, engine, [_env(0, "u", "alpha2", 100)], 1)
    view.update(spark, src)
    m1 = view.hist.current_manifest()

    changed = [b for b in m1["buckets"]
               if m1["buckets"][b] != (m0["buckets"].get(b) or [])]
    assert len(changed) == 1
    untouched = [b for b in m0["buckets"] if b not in changed]
    assert untouched and all(
        m1["buckets"][b] == m0["buckets"][b] for b in untouched)


def test_prune_drops_closed_intervals_keeps_open(spark, tmp_path):
    src, engine, view = _setup(tmp_path)
    for e, b in enumerate(BATCHES):
        _apply(spark, engine, b, e)
        view.update(spark, src)

    assert view.prune(spark, before_version=2)["status"] == "committed"
    tl = _timeline(spark, view)
    # intervals with _valid_to <= 2 are gone; open + later-closed remain
    assert ("0", 1) not in tl and ("1", 1) not in tl
    assert tl[("0", 2)] == ("alpha2", 3)
    assert tl[("0", 3)] == ("alpha3", None)
    assert tl[("2", 1)] == ("charlie", None)
    # current() stays exact after pruning
    cur = {r["path"]: r["content"] for r in view.current(spark).collect()}
    want = {r["path"]: r["content"] for r in src.read_state(spark).collect()}
    assert cur == want
    # as-of ABOVE the horizon stays exact too
    got = {(r["path"], r["content"])
           for r in view.as_of(spark, 3).select("path", "content").collect()}
    want3 = {(r["path"], r["content"])
             for r in src.read_state(spark, version=3)
             .select("path", "content").collect()}
    assert got == want3
    assert view.prune(spark, before_version=2)["status"] == "noop"


def test_streaming_integrated_kill_and_resume(spark, tmp_path):
    """The timeline advances INSIDE the streaming epoch loop
    (``start_stream(derived=[view.update])``). Worst crash window — table committed, process
    dies before the timeline advance — heals on resume via the fenced
    per-version catch-up, preserving the missed version as its own
    interval."""
    cl = tmp_path / "cl"
    cl.mkdir()
    src = TableStore(str(tmp_path / "src"), n_buckets=4)
    cp = str(tmp_path / "cp")
    scd_dir = str(tmp_path / "scd2")
    engine = CdcApplyEngine(src, EngineConfig(metrics=False))
    view = Scd2View(scd_dir, n_buckets=4)

    def put(name, rows):
        tmp = str(tmp_path / ("_w_" + name))
        spark.createDataFrame(rows, CHANGELOG_SCHEMA).coalesce(1).write.mode(
            "overwrite").parquet(tmp)
        shutil.move(glob.glob(tmp + "/part-*.parquet")[0],
                    str(cl / (name + ".parquet")))

    put("f0", BATCHES[0])
    q = engine.start_stream(spark, str(cl), cp, CHANGELOG_SCHEMA,
                            max_files_per_trigger=1,
                            derived=[view.update])
    q.awaitTermination()
    assert view.update(spark, src)["status"] == "noop"  # stream kept it current

    # crash window: epoch 1's TABLE half commits under the stream's
    # writer identity; the process "dies" before the timeline advance
    put("f1", BATCHES[1])
    stream_writer = f"stream:{os.path.abspath(cp)}"
    df1 = spark.read.schema(CHANGELOG_SCHEMA).parquet(str(cl / "f1.parquet"))
    assert engine.apply_batch(df1, 1, writer_id=stream_writer)[
        "status"] == "committed"
    assert view.hist.writer_epoch(
        f"scd2:{os.path.abspath(src.root)}") < src.current_version()

    put("f2", BATCHES[2])
    q = engine.start_stream(spark, str(cl), cp, CHANGELOG_SCHEMA,
                            max_files_per_trigger=1,
                            derived=[view.update])
    q.awaitTermination()

    tl = _timeline(spark, view)
    assert tl[("0", 2)] == ("alpha2", 3)   # the crashed-over version
    assert tl[("0", 3)] == ("alpha3", None)
    assert tl[("1", 1)] == ("bravo", 2)
    assert tl[("1", 3)] == ("bravo-reborn", None)
    cur = {r["path"]: r["content"] for r in view.current(spark).collect()}
    want = {r["path"]: r["content"] for r in src.read_state(spark).collect()}
    assert cur == want


def test_lww_tombstone_renders_as_plain_close(spark, tmp_path):
    """Over an LWW table the timeline sees LOGICAL deletes: a persisted
    stamp tombstone closes the interval, no stamp-only phantom rows."""
    src = TableStore(str(tmp_path / "src"), n_buckets=4)
    engine = CdcApplyEngine(
        src, EngineConfig(metrics=False, conflict_policy="lww",
                          cluster_id="A"))
    view = Scd2View(str(tmp_path / "scd2"), n_buckets=4)

    def _lenv(doc_id, op, text, lsn, ts):
        img = Row(repo="corpus", path=str(doc_id), commit="c0", lang="en",
                  content=text)
        return Row(partition=doc_id % 4, lsn=lsn, op=op,
                   before=img if op == "d" else None,
                   after=None if op == "d" else img,
                   ts_ms=ts, headers=None, source_topic="repos")

    import datetime as dt

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    t1 = dt.datetime(2026, 1, 1, 12, 0, 5)
    _apply(spark, engine, [_lenv(0, "c", "alpha", 0, t0),
                           _lenv(1, "c", "bravo", 1, t0)], 0)
    view.update(spark, src)
    _apply(spark, engine, [_lenv(0, "d", "alpha", 100, t1)], 1)
    view.update(spark, src)

    tl = _timeline(spark, view)
    assert tl[("0", 1)][1] == 2          # closed by the tombstone
    assert ("0", 2) not in tl            # no phantom tombstone interval
    cur = {r["path"] for r in view.current(spark).collect()}
    assert cur == {"1"}


def test_cli_scd2(spark, tmp_path):
    import json as _json
    import subprocess
    import sys

    src, engine, _ = _setup(tmp_path)
    for e, b in enumerate(BATCHES[:2]):
        _apply(spark, engine, b, e)
    import kp_data_replication_spark as pkg

    repo = os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__)))
    view_root = str(tmp_path / "scd2_cli")
    out = subprocess.run(
        [sys.executable, "-m", "kp_data_replication_spark.cli", "scd2",
         view_root, "--src", src.root, "--asof", "1"],
        capture_output=True, text=True, cwd=repo, check=True, timeout=300,
    ).stdout.strip().splitlines()[-1]
    got = _json.loads(out)
    assert got["update"]["status"] == "committed" and got["update"]["to"] == 2
    assert [(r["path"], r["content"]) for r in got["rows"]] == [
        ("0", "alpha"), ("1", "bravo"), ("2", "charlie")]


def test_enrich_asof_boundary_gap_and_open_interval(spark):
    """Temporal table join semantics against a hand-built timeline:
    closed-open boundaries (a fact AT an update's commit version sees the
    NEW image), delete gaps yield NULL, facts before the first insert
    yield NULL, open intervals cover forever."""
    from kp_data_replication_spark.operators.scd import (
        VALID_FROM,
        VALID_TO,
        enrich_asof,
    )

    hist = spark.createDataFrame(
        [("k1", "img-A", 1, 2), ("k1", "img-B", 2, 4),   # gap at [4, 6)
         ("k1", "img-C", 6, None),
         ("k2", "img-X", 3, None)],
        f"key string, content string, {VALID_FROM} long, {VALID_TO} long",
    )
    facts = spark.createDataFrame(
        [("k1", v, f"f{v}") for v in (1, 2, 3, 4, 5, 6, 99)]
        + [("k2", 1, "g1"), ("k2", 3, "g2")],
        "key string, v long, tag string",
    )
    got = {
        (r.key, r.v): r.content
        for r in enrich_asof(facts, hist, ["key"], "v").collect()
    }
    assert got == {
        ("k1", 1): "img-A", ("k1", 2): "img-B", ("k1", 3): "img-B",
        ("k1", 4): None, ("k1", 5): None,        # delete gap
        ("k1", 6): "img-C", ("k1", 99): "img-C",  # open interval
        ("k2", 1): None,                          # before first insert
        ("k2", 3): "img-X",
    }


def test_enrich_asof_matches_view_as_of(spark, tmp_path):
    """enrich_asof over a REAL maintained timeline == Scd2View.as_of at
    every version: the window construction and the interval filter are
    the same function computed two ways."""
    from kp_data_replication_spark.operators.scd import enrich_asof

    src, engine, view = _setup(tmp_path)
    for e, b in enumerate(BATCHES):
        _apply(spark, engine, b, e)
    view.update(spark, src)

    hist = view.history(spark)
    head = src.current_version()
    keys = hist.select("repo", "path").distinct()
    for v in range(1, head + 1):
        facts = keys.withColumn("v", F.lit(v).cast("long"))
        got = {
            (r.repo, r.path): r.content
            for r in enrich_asof(
                facts, hist, ["repo", "path"], "v", dim_cols=["content"]
            ).collect()
            if r.content is not None
        }
        exp = {
            (r.repo, r.path): r.content
            for r in view.as_of(spark, v).collect()
        }
        assert got == exp, f"as-of mismatch at version {v}"


def test_enrich_asof_plan_single_exchange_no_nested_loop(spark):
    """The scale claim by plan: ONE hash exchange (the key partition both
    sides share), a window — never a nested-loop/cartesian interval join,
    never a SinglePartition window, no per-row Python."""
    from kp_data_replication_spark.operators.scd import (
        VALID_FROM,
        VALID_TO,
        enrich_asof,
    )
    from kp_data_replication_spark.plans.audit import (
        assert_no_row_python,
        count_exchanges,
        plan_string,
    )

    hist = spark.range(200).select(
        F.col("id").cast("string").alias("key"),
        F.concat(F.lit("img"), F.col("id")).alias("content"),
        F.lit(1).cast("long").alias(VALID_FROM),
        F.lit(None).cast("long").alias(VALID_TO),
    )
    facts = spark.range(1000).select(
        F.pmod(F.col("id"), F.lit(200)).cast("string").alias("key"),
        (F.col("id") % 5 + 1).cast("long").alias("v"),
    )
    out = enrich_asof(facts, hist, ["key"], "v")
    p = plan_string(out)
    assert "SinglePartition" not in p
    assert "NestedLoop" not in p and "Cartesian" not in p
    assert count_exchanges(out) == 1
    assert_no_row_python(out)
