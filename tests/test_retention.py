"""Row expiry (retention.ms analogue): changefeed-visible deletes,
zonemap pruning on a time-clustered layout, maintenance fencing, LWW
stamp survival, downstream view retraction, and the per-epoch engine
hook."""

from __future__ import annotations

import json as _json
import subprocess
import sys
import time

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kp_data_replication_spark.operators.changefeed import table_changes
from kp_data_replication_spark.operators.retention import (
    candidate_buckets,
    expire_rows,
)
from kp_data_replication_spark.sources.table_store import TableStore
from kp_data_replication_spark.streaming.apply import CdcApplyEngine, EngineConfig

IMG = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("commit", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("content", T.StringType()),
        T.StructField("updated_at", T.LongType()),
    ]
)
ENV = T.StructType(
    [
        T.StructField("partition", T.IntegerType()),
        T.StructField("lsn", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("before", IMG),
        T.StructField("after", IMG),
        T.StructField("ts_ms", T.TimestampType()),
        T.StructField("headers", T.MapType(T.StringType(), T.StringType())),
        T.StructField("source_topic", T.StringType()),
    ]
)


def _ev(i, op, ts, lsn, ts_ms=None):
    img = ("t", f"k{i}", "c0", None, f"C{i}", ts)
    return (
        i % 2, lsn, op,
        img if op == "d" else None,
        None if op == "d" else img,
        ts_ms, None, "repos",
    )


def _mk(spark, tmp_path, rows, n_buckets=4, **cfg):
    store = TableStore(str(tmp_path / "t"), n_buckets=n_buckets)
    eng = CdcApplyEngine(store, EngineConfig(metrics=False, **cfg))
    eng.apply_batch(spark.createDataFrame(rows, ENV), 0)
    return store, eng


def _paths(spark, store):
    return {r["path"] for r in store.read_state(spark).collect()}


# --------------------------------------------------------------------- #
def test_expire_emits_changefeed_deletes_and_prunes(spark, tmp_path):
    """Rows behind the cutoff leave the table in ONE commit whose version
    diff is exactly their deletes; on a time-clustered layout the pass
    skips files whose bounds prove no expiring row (zonemap O(expired))."""
    rows = [_ev(i, "c", i * 100, i) for i in range(40)]
    store, _ = _mk(spark, tmp_path, rows)
    # cluster the retention column so file bounds are tight
    store.rewrite_buckets(spark, min_files=0, cluster_by=["updated_at"],
                          split_files=4)
    v0 = store.current_version()

    out = expire_rows(spark, store, [("updated_at", "<", 2000)])
    assert out["status"] == "committed" and out["n_expired"] == 20
    assert out["files_skipped"] > 0, "clustered layout must prune files"
    assert _paths(spark, store) == {f"k{i}" for i in range(20, 40)}

    # the version diff shows the expired rows as plain deletes
    diff = table_changes(spark, store, v0, store.current_version())
    got = {(r["path"], r["_change_type"]) for r in diff.collect()}
    assert got == {(f"k{i}", "delete") for i in range(20)}


def test_expire_noop_and_fencing(spark, tmp_path):
    rows = [_ev(i, "c", i * 100, i) for i in range(10)]
    store, _ = _mk(spark, tmp_path, rows)
    assert expire_rows(spark, store, [("updated_at", "<", 0)])["status"] == "noop"
    v = store.current_version()
    out = expire_rows(spark, store, [("updated_at", "<", 300)])
    assert out["status"] == "committed" and out["n_expired"] == 3
    # nothing left to expire: noop, version unchanged
    v2 = store.current_version()
    assert expire_rows(spark, store, [("updated_at", "<", 300)])["status"] == "noop"
    assert store.current_version() == v2 > v


def test_null_retention_column_never_expires(spark, tmp_path):
    rows = [_ev(0, "c", None, 0), _ev(1, "c", 100, 1)]
    store, _ = _mk(spark, tmp_path, rows)
    out = expire_rows(spark, store, [("updated_at", "<", 10_000)])
    assert out["n_expired"] == 1
    assert _paths(spark, store) == {"k0"}


def test_lww_tombstone_stamps_survive_expiry(spark, tmp_path):
    """An LWW table's persisted tombstones carry null data columns: the
    retention predicate evaluates NULL there, so conflict stamps ride
    through an expiry pass untouched."""
    rows = [_ev(i, "c", i * 100, i) for i in range(6)]
    store, eng = _mk(spark, tmp_path, rows, conflict_policy="lww",
                     cluster_id="a")
    import datetime as _dt

    eng.apply_batch(
        spark.createDataFrame(
            [_ev(2, "d", None, 50,
                 ts_ms=_dt.datetime(2024, 1, 2, tzinfo=_dt.timezone.utc))],
            ENV,
        ),
        1,
    )
    tomb = store.read_state(spark, include_deleted=True).filter(
        F.col("_lww_deleted")
    )
    assert tomb.count() == 1

    out = expire_rows(spark, store, [("updated_at", "<", 150)])
    assert out["n_expired"] == 2  # k0, k1 (k2 already a tombstone)
    assert _paths(spark, store) == {"k3", "k4", "k5"}
    tomb2 = store.read_state(spark, include_deleted=True).filter(
        F.col("_lww_deleted")
    ).collect()
    assert len(tomb2) == 1 and tomb2[0]["path"] == "k2"
    assert tomb2[0]["_lww_ts"] is not None  # stamp intact


def test_downstream_agg_view_retracts_expired_rows(spark, tmp_path):
    """Expiry deletes flow through the CDF like any other change: an
    incrementally maintained aggregate view retracts them exactly."""
    from kp_data_replication_spark.operators.agg_view import (
        IncrementalAggView,
        Measure,
    )

    rows = [_ev(i, "c", i * 100, i) for i in range(20)]
    store, _ = _mk(spark, tmp_path, rows)
    view = IncrementalAggView(
        str(tmp_path / "v"), ["repo"],
        [Measure("count", None, "n"),
         Measure("sum", "updated_at", "sum_ts", dtype="long")],
        n_buckets=4,
    )
    view.update(spark, store)
    expire_rows(spark, store, [("updated_at", "<", 1000)])
    view.update(spark, store)
    got = view.read(spark).collect()
    assert len(got) == 1
    assert got[0]["n"] == 10
    assert got[0]["sum_ts"] == sum(i * 100 for i in range(10, 20))


def test_streaming_retention_hook_expires_behind_window(spark, tmp_path):
    """EngineConfig.retention_ms: the stream's epoch loop expires rows
    whose retention column fell behind (now - retention_ms); fresh rows
    stay. Planted timestamps make the wall-clock cutoff deterministic."""
    now_ms = int(time.time() * 1000)
    old, fresh = now_ms - 10_000_000, now_ms + 10_000_000
    src = str(tmp_path / "cl")
    df = spark.createDataFrame(
        [_ev(i, "c", old if i < 5 else fresh, i) for i in range(10)], ENV
    )
    df.coalesce(1).write.parquet(src)

    store = TableStore(str(tmp_path / "t"), n_buckets=4)
    eng = CdcApplyEngine(
        store,
        EngineConfig(metrics=False, retention_ms=3_600_000,
                     retention_ts_col="updated_at"),
    )
    q = eng.start_stream(
        spark, src, str(tmp_path / "cp"), ENV, available_now=True,
        max_files_per_trigger=1,
    )
    q.awaitTermination()
    assert _paths(spark, store) == {f"k{i}" for i in range(5, 10)}
    # the expiry is a separate maintenance version whose diff is all deletes
    diff = table_changes(spark, store, 1, store.current_version())
    assert {r["_change_type"] for r in diff.collect()} == {"delete"}


def test_cli_expire(spark, tmp_path):
    rows = [_ev(i, "c", i * 100, i) for i in range(8)]
    store, _ = _mk(spark, tmp_path, rows)
    import kp_data_replication_spark as pkg
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__)))
    out = subprocess.run(
        [sys.executable, "-m", "kp_data_replication_spark.cli", "expire",
         store.root, "--where", "updated_at:<:250"],
        capture_output=True, text=True, cwd=repo, check=True, timeout=300,
    ).stdout.strip().splitlines()[-1]
    res = _json.loads(out)
    assert res["status"] == "committed" and res["n_expired"] == 3
    assert _paths(spark, store) == {f"k{i}" for i in range(3, 8)}


def test_retained_file_refs_survive_vacuum(spark, tmp_path):
    """A partial-rewrite expiry carries proven-clean files by REFERENCE
    into the new manifest; vacuum walks manifests for live refs, so those
    older-version files must survive an aggressive vacuum and the table
    must read back exactly."""
    rows = [_ev(i, "c", i * 100, i) for i in range(40)]
    store, _ = _mk(spark, tmp_path, rows)
    store.rewrite_buckets(spark, min_files=0, cluster_by=["updated_at"],
                          split_files=4)
    out = expire_rows(spark, store, [("updated_at", "<", 1000)])
    assert out["status"] == "committed" and out["files_skipped"] > 0
    m = store.current_manifest()
    refs = {f for fs in m["buckets"].values() for f in fs}
    assert any(f"data/v{store.current_version()}/" not in f for f in refs), (
        "expiry manifest must reference retained older-version files"
    )
    store.vacuum(keep_versions=1)
    assert _paths(spark, store) == {f"k{i}" for i in range(10, 40)}


def test_expiry_cascades_to_replica(spark, tmp_path):
    """The expiry version is an ordinary changefeed version: a downstream
    replica's cascade applies the deletes and converges to the expired
    source state."""
    from kp_data_replication_spark.operators.changefeed import cascade_catchup

    rows = [_ev(i, "c", i * 100, i) for i in range(20)]
    store, _ = _mk(spark, tmp_path, rows)
    dst = TableStore(str(tmp_path / "dst"), n_buckets=4)
    cascade_catchup(spark, store, CdcApplyEngine(dst, EngineConfig(metrics=False)),
                    n_partitions=4)
    assert _paths(spark, dst) == _paths(spark, store)

    expire_rows(spark, store, [("updated_at", "<", 700)])
    cascade_catchup(spark, store, CdcApplyEngine(dst, EngineConfig(metrics=False)),
                    n_partitions=4)
    assert _paths(spark, dst) == _paths(spark, store) == {
        f"k{i}" for i in range(7, 20)
    }


def test_candidate_buckets_empty_store(tmp_path):
    store = TableStore(str(tmp_path / "t"), n_buckets=4)
    assert candidate_buckets(store, [("x", "<", 1)]) == []
