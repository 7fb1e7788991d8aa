"""Streaming resume, duplicate injection, crash fault-injection, schema
evolution (SURVEY.md §2.9 T1-T4, §2.1 S6).

Rebuilds the reference's restart/HA experiments as automated tests:
  * restart-resume: "Starting connectors and tasks using config offset 6"
    (docs/local-to-es.md:92) -> checkpoint resume, no replay-from-0, no loss
  * duplicate window: consumer stops before committing its offset
    (docs/consideration.md:52-58) -> re-delivered batches must be no-ops
  * exactly-once: atomic transaction between target topic and checkpoint
    topic (docs/consideration.md:62) -> crash between data write and pointer
    swap must be invisible
  * schema evolution: source topic config changes propagate additively
    (docs/consideration.md:13-18)
"""

from __future__ import annotations

import hashlib
import time

import pytest

from kp_data_replication_spark.datagen import (
    ChangelogSpec,
    compute_expected_state_pandas,
    write_changelog,
)
from kp_data_replication_spark.schema import CHANGELOG_SCHEMA_EVOLVED
from kp_data_replication_spark.sources.table_store import TableStore
from kp_data_replication_spark.streaming.apply import (
    CdcApplyEngine,
    EngineConfig,
    final_state,
)

SPEC = ChangelogSpec(n_keys=120, versions_per_key=3, n_partitions=4, files=4)
FAST = EngineConfig(metrics=False)


@pytest.fixture(scope="module")
def changelog_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("cl"))
    write_changelog(spark, d, SPEC)
    return d


def _assert_matches_oracle(spark, store, changelog_dir):
    exp = compute_expected_state_pandas(changelog_dir)
    exp_sha = sorted(
        hashlib.sha256(c.encode()).hexdigest() for c in exp["content"]
    )
    got = final_state(spark, store).select("repo", "path", "content_sha").toPandas()
    assert len(got) == len(exp)
    assert sorted(got["content_sha"]) == exp_sha


def test_stream_kill_and_resume(spark, changelog_dir, tmp_path):
    """T1/T2: kill the query mid-replay; a restarted query resumes from the
    checkpoint and converges to the exact oracle state."""
    store = TableStore(str(tmp_path / "t"), n_buckets=8)
    cp = str(tmp_path / "cp")
    engine = CdcApplyEngine(store, FAST)

    q = engine.start_stream(spark, changelog_dir, cp, CHANGELOG_SCHEMA_EVOLVED, max_files_per_trigger=2)
    deadline = time.time() + 120
    while store.current_epoch() < 0 and time.time() < deadline:
        time.sleep(0.5)
    q.stop()  # kill after >=1 epoch committed
    q.awaitTermination()
    assert store.current_epoch() >= 0

    q2 = engine.start_stream(spark, changelog_dir, cp, CHANGELOG_SCHEMA_EVOLVED, max_files_per_trigger=2)
    q2.awaitTermination()
    _assert_matches_oracle(spark, store, changelog_dir)


def test_bytes_per_trigger_throttle(spark, changelog_dir, tmp_path):
    """T7: `--throughput`-style volume throttling (docs/perf-tests.md:166).
    A small maxBytesPerTrigger must split the drain into multiple bounded
    micro-batches (one file each here, since every file exceeds the cap)
    and still converge to the exact oracle state."""
    import os

    store = TableStore(str(tmp_path / "t"), n_buckets=8)
    cp = str(tmp_path / "cp")
    engine = CdcApplyEngine(store, FAST)
    n_files = len([f for f in os.listdir(changelog_dir) if f.endswith(".parquet")])

    q = engine.start_stream(
        spark, changelog_dir, cp, CHANGELOG_SCHEMA_EVOLVED,
        max_bytes_per_trigger="1",  # 1 byte — below any single file: 1 file per batch
    )
    q.awaitTermination()
    # one epoch per file -> the batch volume really was bounded
    assert store.current_epoch() == n_files - 1
    _assert_matches_oracle(spark, store, changelog_dir)


def test_crash_between_data_write_and_pointer_swap(spark, changelog_dir, tmp_path, monkeypatch):
    """T3/T4 fault injection: the commit 'crashes' after writing data files
    and the manifest but BEFORE the atomic pointer swap. The table must still
    read as the old version; re-delivering the same epoch must complete the
    commit with the exact same final state."""
    import os as _os

    store = TableStore(str(tmp_path / "t"), n_buckets=8)
    engine = CdcApplyEngine(store, FAST)
    df = spark.read.option("mergeSchema", "true").parquet(changelog_dir)

    real_replace = _os.replace
    crashes = {"armed": True}

    def crashing_replace(src, dst):
        if crashes["armed"] and dst.endswith("_current"):
            crashes["armed"] = False
            raise OSError("injected crash before pointer swap")
        return real_replace(src, dst)

    monkeypatch.setattr("kp_data_replication_spark.sources.table_store.os.replace", crashing_replace)
    with pytest.raises(OSError, match="injected crash"):
        engine.apply_batch(df, 0)

    # crash window: nothing visible
    assert store.current_version() == 0
    assert final_state(spark, store).count() == 0

    # re-delivery of the same epoch (what Structured Streaming does on restart)
    summary = engine.apply_batch(df, 0)
    assert summary["status"] == "committed"
    _assert_matches_oracle(spark, store, changelog_dir)


def test_duplicate_batch_redelivery_across_epochs(spark, changelog_dir, tmp_path):
    """Duplicate window (docs/consideration.md:52-58): after applying epoch
    0, a later batch containing a full copy of already-applied events plus
    nothing new must commit as a no-op."""
    store = TableStore(str(tmp_path / "t"), n_buckets=8)
    engine = CdcApplyEngine(store, FAST)
    df = spark.read.option("mergeSchema", "true").parquet(changelog_dir)
    engine.apply_batch(df, 0)
    v = store.current_version()

    dup = engine.apply_batch(df.limit(200), 1)  # all below the watermark
    assert dup["status"] == "committed" and dup["keys_changed"] == 0
    assert store.current_version() == v + 1  # lineage-only version
    _assert_matches_oracle(spark, store, changelog_dir)


def test_schema_evolution_additive(spark, tmp_path):
    """S6: a later batch carrying a new after-column widens the target
    additively; pre-existing rows are null-padded, new rows carry values."""
    spec = ChangelogSpec(
        n_keys=60, versions_per_key=2, n_partitions=2, files=2,
        evolve_at_frac=0.75, dup_every=0, deleted_every=10**9,
    )
    d = str(tmp_path / "cl")
    write_changelog(spark, d, spec)
    store = TableStore(str(tmp_path / "t"), n_buckets=4)
    engine = CdcApplyEngine(store, FAST)

    import os
    files = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
    pre = [f for f in files if f.endswith("-0.parquet")]
    post = [f for f in files if f.endswith("-1.parquet")]
    assert pre and post

    engine.apply_batch(spark.read.parquet(*[f"{d}/{f}" for f in pre]), 0)
    assert "stars" not in store.schema().fieldNames()

    engine.apply_batch(
        spark.read.option("mergeSchema", "true").parquet(*[f"{d}/{f}" for f in post]), 1
    )
    assert "stars" in store.schema().fieldNames()  # target DDL grew

    state = store.read_state(spark).toPandas()
    assert state["stars"].notna().any()  # evolved rows carry values
    # rows last touched before evolution read as null through the widened schema
    assert state["stars"].isna().any()


def test_auto_rebucket_scales_bucket_count_mid_stream(spark, tmp_path):
    """Round-4 #7: MM2's Manager role propagates partition-count increases
    to the target automatically (docs/perf-tests.md:15); the bucket
    analogue is a commit-time manifest probe (``bucket_bytes`` metadata —
    no filesystem walk) that doubles n_buckets via TableStore.rebucket
    when the average live bucket outgrows its byte budget.

    Volume grows ~100x over the stream relative to the per-bucket budget;
    the layout must rescale MID-stream (not as a final pass), state must
    stay sha-identical to the pandas oracle across the boundary, and the
    changefeed must keep working across the rebucket version (a rebucket
    is a logical no-op: it diffs to zero rows).
    """
    d = str(tmp_path / "cl")
    write_changelog(
        spark, d,
        ChangelogSpec(n_keys=400, versions_per_key=2, n_partitions=4,
                      files=4),
    )
    store = TableStore(str(tmp_path / "t"), n_buckets=2)
    engine = CdcApplyEngine(store, EngineConfig(
        metrics=False,
        auto_rebucket_target_bytes=6_000,
        auto_rebucket_max_buckets=16,
    ))
    q = engine.start_stream(
        spark, d, str(tmp_path / "cp"), CHANGELOG_SCHEMA_EVOLVED,
        max_files_per_trigger=1,
    )
    q.awaitTermination()

    head = store.current_version()
    assert store.n_buckets > 2  # the layout rescaled
    # ... and it rescaled MID-stream: some rebucket version is strictly
    # older than the last data commit
    growth_versions = [
        v for v in range(2, head + 1)
        if store.manifest(v)["n_buckets"] > store.manifest(v - 1)["n_buckets"]
    ]
    assert growth_versions and min(growth_versions) < head

    # state across the boundary is exactly the oracle
    _assert_matches_oracle(spark, store, d)

    # the changefeed crosses the rebucket boundary: cumulative upserts from
    # genesis equal final state, and each rebucket version alone diffs to
    # zero rows
    from kp_data_replication_spark.operators.changefeed import table_changes

    ch = table_changes(spark, store, 0, head)
    assert ch.filter("_change_type != 'delete'").count() == final_state(
        spark, store
    ).count()
    for v in growth_versions:
        assert table_changes(spark, store, v - 1, v).count() == 0
