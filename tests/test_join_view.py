"""Incremental equi-join view (delta join over two changefeeds): parity
against a full LEFT JOIN recompute after EVERY epoch, late-dim
resurrection, fk repointing across view buckets, dim-driven patch
pruning, two-source cursor fencing, and crash-window replay."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from kp_data_replication_spark.operators.join_view import (
    IncrementalJoinView,
    _pair,
    _unpair,
)
from kp_data_replication_spark.sources.table_store import TableStore
from kp_data_replication_spark.streaming.apply import CdcApplyEngine, EngineConfig


def _env(path, op, content, fk, lsn):
    """fk rides the envelope's lang column: the fact row's foreign key."""
    img = Row(repo="t", path=str(path), commit="c0", lang=fk, content=content)
    return Row(
        partition=hash(str(path)) % 4, lsn=lsn, op=op,
        before=img if op == "d" else None,
        after=None if op == "d" else img,
        ts_ms=None, headers=None, source_topic="repos",
    )


def _batch(spark, rows):
    from kp_data_replication_spark.schema import CHANGELOG_SCHEMA

    return spark.createDataFrame(rows, CHANGELOG_SCHEMA)


def _mk(tmp_path, n_buckets=4):
    fact = TableStore(str(tmp_path / "fact"), n_buckets=n_buckets)
    dim = TableStore(str(tmp_path / "dim"), n_buckets=n_buckets)
    fe = CdcApplyEngine(fact, EngineConfig(metrics=False))
    de = CdcApplyEngine(dim, EngineConfig(metrics=False))
    jv = IncrementalJoinView(
        str(tmp_path / "jv"),
        fk_exprs={"repo": "'t'", "path": "lang"},
        fact_cols={"f_content": "content"},
        dim_cols={"d_content": "content"},
        n_buckets=n_buckets,
    )
    return fact, dim, fe, de, jv


def _expected(spark, fact, dim):
    """Full recompute: current fact state LEFT JOIN current dim state on
    fact.lang = dim.path — the oracle the maintained view must equal."""
    f = fact.read_state(spark).select(
        "repo", "path", F.col("lang").alias("_fk"), F.col("content").alias("f_content")
    )
    d = dim.read_state(spark).select(
        F.col("path").alias("_dk"), F.col("content").alias("d_content")
    )
    j = f.join(d, f["_fk"] == d["_dk"], "left")
    return {
        (r["repo"], r["path"]): (r["f_content"], r["d_content"], r["_dk"] is not None)
        for r in j.collect()
    }


def _got(spark, jv):
    return {
        (r["repo"], r["path"]): (r["f_content"], r["d_content"], r["_matched"])
        for r in jv.read(spark).collect()
    }


# --------------------------------------------------------------------- #
def test_parity_after_every_epoch_full_transition_matrix(spark, tmp_path):
    """4-epoch schedule covering: fact insert before/after its dim exists,
    dim update propagation, dim delete un-matching + re-insert
    re-matching, fact fk repoint, fact update keeping its fk, fact
    delete, and a null fk that never matches. After EVERY epoch the view
    equals a full LEFT JOIN of the two current states."""
    fact, dim, fe, de, jv = _mk(tmp_path)

    epochs = [
        # (dim rows, fact rows)
        (
            [_env(f"d{i}", "c", f"D{i}", None, i) for i in range(4)],
            [_env(f"f{i}", "c", f"F{i}", f"d{i % 6}", 100 + i) for i in range(12)],
        ),  # f4..f5 reference d4,d5 which don't exist yet; fk None? no — d4,d5 missing
        (
            [_env("d4", "c", "D4", None, 10),                      # late dim
             _env("d1", "u", "D1v2", None, 11)],                   # patch
            [_env("f12", "c", "F12", None, 120),                   # null fk
             _env("f0", "u", "F0v2", "d3", 121)],                  # fk repoint
        ),
        (
            [_env("d2", "d", "D2", None, 20)],                     # unmatch f2, f8
            [_env("f1", "d", "F1", "d1", 130),                     # fact delete
             _env("f3", "u", "F3v2", "d3", 131)],                  # same-fk update
        ),
        (
            [_env("d2", "c", "D2v2", None, 30),                    # re-match
             _env("d5", "c", "D5", None, 31)],                     # very late dim
            [],
        ),
    ]
    for i, (drows, frows) in enumerate(epochs):
        if drows:
            de.apply_batch(_batch(spark, drows), i)
        if frows:
            fe.apply_batch(_batch(spark, frows), i)
        out = jv.update(spark, fact, dim)
        assert out["status"] == "committed"
        assert _got(spark, jv) == _expected(spark, fact, dim), f"epoch {i}"

    # inner read = matched subset
    inner = {r["path"] for r in jv.read(spark, inner=True).collect()}
    exp_inner = {k[1] for k, v in _expected(spark, fact, dim).items() if v[2]}
    assert inner == exp_inner and "f12" not in inner


def test_one_sided_advances(spark, tmp_path):
    """Epochs where only one source moved still converge, and an idle
    pair is a fenced noop (no commit, version unchanged)."""
    fact, dim, fe, de, jv = _mk(tmp_path)
    de.apply_batch(_batch(spark, [_env("d1", "c", "D1", None, 1)]), 0)
    fe.apply_batch(_batch(spark, [_env("f1", "c", "F1", "d1", 2)]), 0)
    jv.update(spark, fact, dim)

    # dim-only epoch
    de.apply_batch(_batch(spark, [_env("d1", "u", "D1v2", None, 3)]), 1)
    assert jv.update(spark, fact, dim)["status"] == "committed"
    assert _got(spark, jv) == _expected(spark, fact, dim)

    # fact-only epoch
    fe.apply_batch(_batch(spark, [_env("f2", "c", "F2", "d1", 4)]), 1)
    assert jv.update(spark, fact, dim)["status"] == "committed"
    assert _got(spark, jv) == _expected(spark, fact, dim)

    v = jv.view.current_version()
    assert jv.update(spark, fact, dim)["status"] == "noop"
    assert jv.view.current_version() == v


def test_fk_repoint_moves_row_between_buckets(spark, tmp_path):
    """A changed foreign key must move the view row from the old fk's
    bucket to the new fk's — and leave no stale copy behind."""
    fact, dim, fe, de, jv = _mk(tmp_path, n_buckets=8)
    de.apply_batch(
        _batch(spark, [_env("a", "c", "DA", None, 1), _env("b", "c", "DB", None, 2)]), 0
    )
    fe.apply_batch(_batch(spark, [_env("f1", "c", "F1", "a", 3)]), 0)
    jv.update(spark, fact, dim)

    def bucket_of(path):
        rows = jv.view.read_state(spark).filter(F.col("path") == path).select(
            "_fk_path"
        ).collect()
        return rows

    fe.apply_batch(_batch(spark, [_env("f1", "u", "F1v2", "b", 4)]), 1)
    jv.update(spark, fact, dim)
    st = jv.view.read_state(spark)
    rows = st.filter(F.col("path") == "f1").collect()
    assert len(rows) == 1 and rows[0]["_fk_path"] == "b"
    assert _got(spark, jv) == _expected(spark, fact, dim)


def test_dim_patch_reads_only_dirty_buckets(spark, tmp_path, monkeypatch):
    """A dim-driven epoch touching ONE dim key reads a strict subset of
    the view's buckets (the fk-hash pruning claim) and a strict subset of
    the dim's own buckets for the point read."""
    fact, dim, fe, de, jv = _mk(tmp_path, n_buckets=8)
    de.apply_batch(
        _batch(spark, [_env(f"d{i}", "c", f"D{i}", None, i) for i in range(8)]), 0
    )
    fe.apply_batch(
        _batch(
            spark, [_env(f"f{i}", "c", f"F{i}", f"d{i % 8}", 100 + i) for i in range(32)]
        ),
        0,
    )
    jv.update(spark, fact, dim)

    calls = []
    orig = TableStore.read_state

    def spy(self, spark_, buckets=None, **kw):
        calls.append((self.root, buckets))
        return orig(self, spark_, buckets=buckets, **kw)

    monkeypatch.setattr(TableStore, "read_state", spy)
    de.apply_batch(_batch(spark, [_env("d3", "u", "D3v2", None, 50)]), 1)
    jv.update(spark, fact, dim)
    monkeypatch.undo()

    view_reads = [b for root, b in calls if root == jv.view.root and b is not None]
    dim_reads = [b for root, b in calls if root == dim.root and b is not None]
    assert view_reads and all(0 < len(b) < 8 for b in view_reads)
    assert dim_reads and all(0 < len(b) < 8 for b in dim_reads)
    assert _got(spark, jv) == _expected(spark, fact, dim)


def test_cursor_pairing_exact_and_monotone():
    seen = set()
    prev_chain = 0
    for a in range(0, 60):
        for b in range(0, 60):
            z = _pair(a, b)
            assert _unpair(z) == (a, b)
            assert z not in seen
            seen.add(z)
    # strictly increasing along any non-decreasing chain
    chain = [(0, 0), (1, 0), (1, 1), (3, 1), (3, 7), (100, 7), (100, 100)]
    vals = [_pair(a, b) for a, b in chain]
    assert vals == sorted(set(vals))
    # large-z float-sqrt safety
    big = _pair(10**9, 10**9 - 3)
    assert _unpair(big) == (10**9, 10**9 - 3)


def test_crash_between_commit_and_pin_replays_clean(spark, tmp_path, monkeypatch):
    """A crash AFTER the view commit but BEFORE the consumer pins: the
    cursor (the writer fence) already advanced with the commit, so the
    replayed update is a fenced noop — never a double-apply."""
    fact, dim, fe, de, jv = _mk(tmp_path)
    de.apply_batch(_batch(spark, [_env("d1", "c", "D1", None, 1)]), 0)
    fe.apply_batch(_batch(spark, [_env("f1", "c", "F1", "d1", 2)]), 0)
    jv.update(spark, fact, dim)

    de.apply_batch(_batch(spark, [_env("d1", "u", "D1v2", None, 3)]), 1)

    orig = TableStore.record_consumer
    state = {"armed": False}

    def crashy(self, group, version):
        if state["armed"]:
            raise RuntimeError("crash before pin")
        return orig(self, group, version)

    monkeypatch.setattr(TableStore, "record_consumer", crashy)

    # arm only for the post-commit pins: flip the switch from inside commit
    orig_commit = TableStore.commit

    def commit_then_arm(self, *a, **kw):
        out = orig_commit(self, *a, **kw)
        state["armed"] = True
        return out

    monkeypatch.setattr(TableStore, "commit", commit_then_arm)
    with pytest.raises(RuntimeError, match="crash before pin"):
        jv.update(spark, fact, dim)
    monkeypatch.undo()

    v = jv.view.current_version()
    assert jv.update(spark, fact, dim)["status"] == "noop"  # fenced replay
    assert jv.view.current_version() == v
    assert _got(spark, jv) == _expected(spark, fact, dim)


def test_retention_pin_protects_cursor_version(spark, tmp_path):
    """The view registers as a consumer on both sources at its cursor, so
    an aggressive vacuum cannot expire the changefeed range the next
    update needs."""
    fact, dim, fe, de, jv = _mk(tmp_path)
    de.apply_batch(_batch(spark, [_env("d1", "c", "D1", None, 1)]), 0)
    fe.apply_batch(_batch(spark, [_env("f1", "c", "F1", "d1", 2)]), 0)
    jv.update(spark, fact, dim)
    for e in (1, 2, 3):
        fe.apply_batch(
            _batch(spark, [_env(f"f{e+1}", "c", f"F{e+1}", "d1", 10 + e)]), e
        )
    fact.vacuum(keep_versions=1)
    dim.vacuum(keep_versions=1)
    assert jv.update(spark, fact, dim)["status"] == "committed"
    assert _got(spark, jv) == _expected(spark, fact, dim)


def test_streaming_integrated_join_view_kill_and_resume(spark, tmp_path):
    """``derived=[lambda s, t: jv.update(s, t, dim)]``: the view advances
    inside the FACT engine's epoch loop while the dimension replicates
    independently. Worst crash window — fact table committed, process dies
    before the view advance — heals on resume (the re-delivered epoch
    no-ops at the table, the two-source cursor catches up both sides)."""
    import glob
    import os
    import shutil

    from kp_data_replication_spark.schema import CHANGELOG_SCHEMA

    cl = tmp_path / "cl"
    cl.mkdir()
    fact = TableStore(str(tmp_path / "fact"), n_buckets=4)
    dim = TableStore(str(tmp_path / "dim"), n_buckets=4)
    de = CdcApplyEngine(dim, EngineConfig(metrics=False))
    cp = str(tmp_path / "cp")
    jv_dir = str(tmp_path / "jv")
    engine = CdcApplyEngine(fact, EngineConfig(metrics=False))
    jv = IncrementalJoinView(
        jv_dir,
        fk_exprs={"repo": "'t'", "path": "lang"},
        fact_cols={"f_content": "content"},
        dim_cols={"d_content": "content"},
        n_buckets=4,
    )

    def put(name, rows):
        tmp = str(tmp_path / ("_w_" + name))
        spark.createDataFrame(rows, CHANGELOG_SCHEMA).coalesce(1).write.mode(
            "overwrite").parquet(tmp)
        shutil.move(glob.glob(tmp + "/part-*.parquet")[0],
                    str(cl / (name + ".parquet")))

    de.apply_batch(_batch(spark, [_env("d1", "c", "D1", None, 1)]), 0)
    put("f0", [_env("f1", "c", "F1", "d1", 0), _env("f2", "c", "F2", "d2", 1)])
    q = engine.start_stream(spark, str(cl), cp, CHANGELOG_SCHEMA,
                            max_files_per_trigger=1,
                            derived=[lambda s, t: jv.update(s, t, dim)])
    q.awaitTermination()
    assert jv.update(spark, fact, dim)["status"] == "noop"  # stream current
    assert _got(spark, jv) == _expected(spark, fact, dim)

    # dim replicates out-of-band (late d2), then the crash window: the
    # fact epoch commits under the stream's writer id, process dies
    # before the view advance
    de.apply_batch(_batch(spark, [_env("d2", "c", "D2", None, 2)]), 1)
    put("f1", [_env("f1", "u", "F1v2", "d2", 10)])
    stream_writer = f"stream:{os.path.abspath(cp)}"
    df1 = spark.read.schema(CHANGELOG_SCHEMA).parquet(str(cl / "f1.parquet"))
    assert engine.apply_batch(df1, 1, writer_id=stream_writer)[
        "status"] == "committed"
    assert _got(spark, jv) != _expected(spark, fact, dim)  # view lags

    # resume: fact epoch no-ops (fenced), view catches up both sources
    q = engine.start_stream(spark, str(cl), cp, CHANGELOG_SCHEMA,
                            max_files_per_trigger=1,
                            derived=[lambda s, t: jv.update(s, t, dim)])
    q.awaitTermination()
    assert _got(spark, jv) == _expected(spark, fact, dim)
    assert jv.update(spark, fact, dim)["status"] == "noop"


def test_rebucket_rescales_on_fk_hash_and_updates_still_prune(spark, tmp_path):
    fact, dim, fe, de, jv = _mk(tmp_path, n_buckets=2)
    de.apply_batch(
        _batch(spark, [_env(f"d{i}", "c", f"D{i}", None, i) for i in range(6)]), 0
    )
    fe.apply_batch(
        _batch(
            spark,
            [_env(f"f{i}", "c", f"F{i}", f"d{i % 6}", 100 + i) for i in range(24)],
        ),
        0,
    )
    jv.update(spark, fact, dim)
    before = _got(spark, jv)
    jv.rebucket(spark, 8)
    assert jv.view.n_buckets == 8
    assert _got(spark, jv) == before  # row-preserving

    # post-rebucket epochs keep converging, and a dim patch prunes in the
    # NEW layout
    de.apply_batch(_batch(spark, [_env("d3", "u", "D3v2", None, 50)]), 1)
    out = jv.update(spark, fact, dim)
    assert out["status"] == "committed" and 0 < out["dirty_view_buckets"] < 8
    assert _got(spark, jv) == _expected(spark, fact, dim)


def test_guards(spark, tmp_path):
    with pytest.raises(ValueError, match="fk_exprs"):
        IncrementalJoinView(str(tmp_path / "x"), {"repo": "'t'"}, {}, {})
    with pytest.raises(ValueError, match="aliases"):
        IncrementalJoinView(
            str(tmp_path / "x"),
            {"repo": "'t'", "path": "lang"},
            {"same": "content"},
            {"same": "content"},
        )
    with pytest.raises(ValueError, match="aliases"):
        IncrementalJoinView(
            str(tmp_path / "x"),
            {"repo": "'t'", "path": "lang"},
            {"repo": "content"},
            {},
        )
    fact = TableStore(str(tmp_path / "f"), n_buckets=2)
    dim = TableStore(str(tmp_path / "d"), n_buckets=2)
    jv = IncrementalJoinView(
        str(tmp_path / "jv"),
        {"repo": "'t'", "path": "lang"},
        {"fc": "content"},
        {"dc": "content"},
        n_buckets=2,
    )
    fe = CdcApplyEngine(fact, EngineConfig(metrics=False))
    fe.apply_batch(_batch(spark, [_env("f1", "c", "F1", "d1", 1)]), 0)
    with pytest.raises(ValueError, match="both"):
        jv.update(spark, fact, dim)
