"""Per-key audit trail (changefeed.key_history): lifecycle
reconstruction, manifest-only skips, rebuckets in range, LWW delete
rendering, and the CLI."""

from __future__ import annotations

import json as _json
import os
import subprocess
import sys

import pytest
from pyspark.sql import Row

from kp_data_replication_spark.operators.changefeed import key_history
from kp_data_replication_spark.schema import CHANGELOG_SCHEMA
from kp_data_replication_spark.sources.table_store import TableStore
from kp_data_replication_spark.streaming.apply import CdcApplyEngine, EngineConfig


def _env(path, op, content, lsn):
    img = Row(repo="t", path=str(path), commit="c0", lang=None, content=content)
    return Row(
        partition=hash(str(path)) % 4, lsn=lsn, op=op,
        before=img if op == "d" else None,
        after=None if op == "d" else img,
        ts_ms=None, headers=None, source_topic="repos",
    )


def _apply(spark, eng, rows, epoch):
    eng.apply_batch(spark.createDataFrame(rows, CHANGELOG_SCHEMA), epoch)


def _hist(spark, store, keys, **kw):
    df = key_history(spark, store, keys, **kw)
    return sorted(
        (r["path"], int(r["_commit_version"]), r["_change_type"], r["content"])
        for r in df.collect()
    )


def test_history_reconstructs_full_lifecycle(spark, tmp_path):
    store = TableStore(str(tmp_path / "t"), n_buckets=4)
    eng = CdcApplyEngine(store, EngineConfig(metrics=False))
    _apply(spark, eng, [_env("a", "c", "A1", 0), _env("b", "c", "B1", 1),
                        _env("z", "c", "Z1", 2)], 0)
    _apply(spark, eng, [_env("a", "u", "A2", 10)], 1)
    _apply(spark, eng, [_env("a", "d", None, 20), _env("b", "u", "B2", 21)], 2)
    _apply(spark, eng, [_env("a", "c", "A3", 30)], 3)

    assert _hist(spark, store, [("t", "a")]) == [
        ("a", 1, "insert", "A1"),
        ("a", 2, "update", "A2"),
        ("a", 3, "delete", "A2"),   # delete carries the pre-image
        ("a", 4, "insert", "A3"),
    ]
    # multi-key: each key only its own rows; v_from narrows the range
    assert _hist(spark, store, [("t", "a"), ("t", "b")], v_from=2) == [
        ("a", 3, "delete", "A2"),
        ("a", 4, "insert", "A3"),
        ("b", 3, "update", "B2"),
    ]
    # untouched key: single insert row, later versions contribute nothing
    assert _hist(spark, store, [("t", "z")]) == [("z", 1, "insert", "Z1")]


def test_untouched_bucket_versions_cost_zero_reads(spark, tmp_path, monkeypatch):
    """Versions that did not change any of the keys' bucket file lists are
    skipped on manifest metadata alone — zero read_state calls."""
    store = TableStore(str(tmp_path / "t"), n_buckets=64)
    eng = CdcApplyEngine(store, EngineConfig(metrics=False))
    _apply(spark, eng, [_env("mykey", "c", "V1", 0)], 0)
    # 3 epochs that (almost surely, 64 buckets) miss mykey's bucket
    for e in range(1, 4):
        _apply(spark, eng, [_env(f"other{e}", "c", f"O{e}", 100 + e)], e)

    calls = []
    orig = TableStore.read_state

    def spy(self, spark_, buckets=None, **kw):
        calls.append(buckets)
        return orig(self, spark_, buckets=buckets, **kw)

    monkeypatch.setattr(TableStore, "read_state", spy)
    got = _hist(spark, store, [("t", "mykey")], v_from=1)
    monkeypatch.undo()
    assert got == []
    # only the typed-empty-frame read (buckets=[]) is allowed
    assert all(b == [] for b in calls), calls


def test_rebucket_in_range_is_layout_aware(spark, tmp_path):
    store = TableStore(str(tmp_path / "t"), n_buckets=2)
    eng = CdcApplyEngine(store, EngineConfig(metrics=False))
    _apply(spark, eng, [_env("a", "c", "A1", 0)], 0)
    store.rebucket(spark, 16)                      # row-preserving: skipped
    _apply(spark, eng, [_env("a", "u", "A2", 10)], 1)
    assert _hist(spark, store, [("t", "a")]) == [
        ("a", 1, "insert", "A1"),
        ("a", 3, "update", "A2"),
    ]


def test_lww_delete_renders_as_delete(spark, tmp_path):
    import datetime as _dt

    store = TableStore(str(tmp_path / "t"), n_buckets=4)
    eng = CdcApplyEngine(
        store, EngineConfig(metrics=False, conflict_policy="lww", cluster_id="a")
    )
    _apply(spark, eng, [_env("a", "c", "A1", 0)], 0)
    d = _env("a", "d", None, 10)
    d = Row(**{**d.asDict(),
               "ts_ms": _dt.datetime(2024, 1, 2, tzinfo=_dt.timezone.utc)})
    _apply(spark, eng, [d], 1)
    hist = key_history(spark, store, [("t", "a")]).collect()
    by_v = {int(r["_commit_version"]): r["_change_type"] for r in hist}
    assert by_v == {1: "insert", 2: "delete"}


def test_guards(spark, tmp_path):
    store = TableStore(str(tmp_path / "t"), n_buckets=2)
    with pytest.raises(ValueError, match="at least one"):
        key_history(spark, store, [])
    with pytest.raises(ValueError, match="max_keys"):
        key_history(spark, store, [("t", str(i)) for i in range(5)], max_keys=3)


def test_cli_history(spark, tmp_path):
    store = TableStore(str(tmp_path / "t"), n_buckets=4)
    eng = CdcApplyEngine(store, EngineConfig(metrics=False))
    _apply(spark, eng, [_env("a", "c", "A1", 0)], 0)
    _apply(spark, eng, [_env("a", "u", "A2", 10)], 1)
    import kp_data_replication_spark as pkg

    repo = os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__)))
    out = subprocess.run(
        [sys.executable, "-m", "kp_data_replication_spark.cli", "history",
         store.root, "--key", "t:a"],
        capture_output=True, text=True, cwd=repo, check=True, timeout=300,
    ).stdout.strip().splitlines()[-1]
    rows = _json.loads(out)
    assert [(r["_commit_version"], r["_change_type"], r["content"])
            for r in rows] == [("1", "insert", "A1"), ("2", "update", "A2")]
