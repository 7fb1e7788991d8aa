"""sources/fsck.py: the audit passes on a healthy multi-version store and
pinpoints each planted corruption class (missing file, byte mismatch,
stats drift, dangling consumer pin, orphan); --deep catches rows planted
in the wrong bucket."""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import functions as F

from kp_data_replication_spark.datagen import ChangelogSpec, write_changelog
from kp_data_replication_spark.sources.fsck import fsck
from kp_data_replication_spark.sources.table_store import TableStore
from kp_data_replication_spark.streaming.apply import CdcApplyEngine, EngineConfig

# the checkout these tests belong to: its CLI is the one the subprocesses run
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _build(spark, tmp_path, name="t"):
    d = str(tmp_path / "cl")
    if not os.path.isdir(d):
        write_changelog(
            spark, d,
            ChangelogSpec(n_keys=60, versions_per_key=2, n_partitions=2,
                          files=2, dup_every=0),
        )
    store = TableStore(str(tmp_path / name), n_buckets=4)
    engine = CdcApplyEngine(store, EngineConfig(metrics=False))
    files = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
    for i, f in enumerate(files):
        engine.apply_batch(spark.read.parquet(f"{d}/{f}"), i)
    return store


def _errs(report, code):
    return [e for e in report["errors"] if e.startswith(code)]


def test_fsck_green_on_healthy_store_and_flags_each_corruption(
    spark, tmp_path
):
    store = _build(spark, tmp_path)
    r = fsck(store, spark=spark, deep=True)
    assert r["ok"], r
    assert r["version"] == store.current_version() >= 2
    assert r["checked"]["files"] > 0 and r["checked"]["footers"] > 0

    man = store.current_manifest()
    all_files = [p for fs in man["buckets"].values() for p in fs]

    # F1: delete one referenced data file
    victim = all_files[0]
    vp = os.path.join(store.root, victim)
    backup = vp + ".bak"
    os.rename(vp, backup)
    r = fsck(store)
    assert not r["ok"] and _errs(r, "F1"), r
    os.rename(backup, vp)

    # B1: append bytes to a referenced file (size drifts from manifest)
    with open(vp, "ab") as f:
        f.write(b"xxxx")
    r = fsck(store)
    assert _errs(r, "B1"), r
    # S1 may also fire (footer unreadable is not planted here; size only)
    with open(vp, "rb") as f:
        data = f.read()
    with open(vp, "wb") as f:
        f.write(data[:-4])
    assert fsck(store)["ok"]

    # S1: tamper with the manifest's row stats
    mpath = os.path.join(store.root, "manifests", f"v{r['version']}.json")
    raw = json.load(open(mpath))
    if raw.get("stats"):
        rel = next(iter(raw["stats"]))
        raw["stats"][rel]["rows"] = 10 ** 9
        json.dump(raw, open(mpath, "w"))
        r2 = fsck(store)
        assert _errs(r2, "S1"), r2
        raw["stats"][rel]["rows"] = None
        json.dump(raw, open(mpath, "w"))

    # C1: dangling consumer pin — vacuum away v1, THEN register a consumer
    # claiming v1 (simulating the lost-registration race the atomic
    # per-group registry prevents; fsck is the detector of record)
    store.vacuum(keep_versions=1)
    store.record_consumer("ghost", 1)
    r = fsck(store)
    assert _errs(r, "C1"), r
    store.remove_consumer("ghost")
    assert fsck(store)["ok"]

    # W1: a staged (WAP) marker naming the head itself, then one naming
    # the next version without a manifest
    staged = os.path.join(store.root, "_staged")
    head = store.current_version()
    for sv in (head, head + 1):
        json.dump({"version": sv}, open(staged, "w"))
        r = fsck(store)
        assert _errs(r, "W1"), r
    os.remove(staged)
    assert fsck(store)["ok"]

    # O1: plant an orphan parquet under data/
    orphan_dir = os.path.join(store.root, "data", "v999", "_bucket=0")
    os.makedirs(orphan_dir, exist_ok=True)
    shutil.copy(vp, os.path.join(orphan_dir, "orphan.parquet"))
    r = fsck(store)
    assert any(w.startswith("O1") for w in r["warnings"]), r
    shutil.rmtree(os.path.join(store.root, "data", "v999"))


def test_fsck_deep_catches_misplaced_rows(spark, tmp_path):
    """Move a whole bucket file into ANOTHER bucket's file list (metadata
    consistent: file exists, sizes re-recorded) — only the deep row-routing
    check can see it."""
    store = _build(spark, tmp_path, name="t2")
    mpath = os.path.join(
        store.root, "manifests", f"v{store.current_version()}.json"
    )
    man = json.load(open(mpath))
    buckets = man["buckets"]
    non_empty = [b for b, fs in buckets.items() if fs]
    src, dst = non_empty[0], non_empty[1]
    moved = buckets[src].pop()
    buckets[dst].append(moved)
    # keep B1 happy: recompute recorded bytes for both buckets
    for b in (src, dst):
        man["bucket_bytes"][b] = sum(
            os.path.getsize(os.path.join(store.root, f)) for f in buckets[b]
        )
    json.dump(man, open(mpath, "w"))

    shallow = fsck(store)
    assert shallow["ok"], shallow  # metadata alone cannot see it
    deep = fsck(store, spark=spark, deep=True)
    assert not deep["ok"] and _errs(deep, "D1"), deep


def test_fsck_cli_exit_codes(spark, tmp_path):
    import subprocess
    import sys

    store = _build(spark, tmp_path, name="t3")
    env = dict(os.environ, PYTHONPATH=REPO_ROOT)
    out = subprocess.run(
        [sys.executable, "-m", "kp_data_replication_spark.cli",
         "fsck", store.root],
        capture_output=True, text=True, env=env, cwd=REPO_ROOT,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    rep = json.loads(out.stdout.strip().splitlines()[-1])
    assert rep["ok"] is True

    # break it -> exit 1
    man = store.current_manifest()
    victim = next(p for fs in man["buckets"].values() for p in fs)
    os.remove(os.path.join(store.root, victim))
    out = subprocess.run(
        [sys.executable, "-m", "kp_data_replication_spark.cli",
         "fsck", store.root],
        capture_output=True, text=True, env=env, cwd=REPO_ROOT,
    )
    assert out.returncode == 1
    rep = json.loads(out.stdout.strip().splitlines()[-1])
    assert any(e.startswith("F1") for e in rep["errors"])


def test_describe_reports_snapshot_and_version_log(spark, tmp_path):
    """describe() reads ONLY manifests: snapshot totals match the store,
    the version log carries per-commit deltas, and a schema-evolving batch
    shows up as schema_added at exactly its version."""
    store = _build(spark, tmp_path, name="t4")
    head = store.current_version()
    d = store.describe()
    assert d["version"] == head and d["n_buckets"] == 4
    assert d["n_files"] > 0 and d["bytes"] > 0
    assert {"repo", "path"} <= set(d["schema_fields"])
    log = d["versions"]
    assert [e["version"] for e in log] == list(range(1, head + 1))
    assert log[0]["bytes_delta"] == log[0]["bytes"]

    # evolve the schema: apply a batch carrying a brand-new column
    ev = spark.createDataFrame(
        [(0, 10 ** 9, "c", "r0", "p_new", "body", "zz")],
        "partition int, lsn long, op string, repo string, path string, "
        "content string, brand_new string",
    ).select(
        "partition", "lsn", "op",
        F.lit(None).cast(
            "struct<repo:string,path:string,content:string,brand_new:string>"
        ).alias("before"),
        F.struct("repo", "path", "content", "brand_new").alias("after"),
        F.lit(None).cast("timestamp").alias("ts_ms"),
        F.lit(None).cast("map<string,string>").alias("headers"),
        F.lit("repos").alias("source_topic"),
    )
    from kp_data_replication_spark.streaming.apply import (
        CdcApplyEngine,
        EngineConfig,
    )

    CdcApplyEngine(store, EngineConfig(metrics=False)).apply_batch(ev, 99)
    d2 = store.describe()
    assert d2["version"] == head + 1
    last = d2["versions"][-1]
    assert last.get("schema_added") == ["brand_new"]
    assert "brand_new" in d2["schema_fields"]
    # CLI surface
    import json as _json
    import subprocess
    import sys

    out = subprocess.run(
        [sys.executable, "-m", "kp_data_replication_spark.cli",
         "describe", store.root],
        capture_output=True, text=True,
        env=dict(os.environ, PYTHONPATH=REPO_ROOT), cwd=REPO_ROOT,
    )
    assert out.returncode == 0, out.stderr[-1500:]
    rep = _json.loads(out.stdout.strip().splitlines()[-1])
    assert rep["version"] == head + 1
