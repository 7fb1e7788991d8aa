"""End-to-end batch replay vs independent pandas oracle.

Rebuild of the reference's primary correctness experiment: produce a known
record set, replicate, and compare payloads exactly on the target
(docs/local-to-es.md:29-47,97-106 — 5 products in, the same 5 out). The
oracle here is the pandas replay in datagen.compute_expected_state_pandas;
the invariant is per-row sha256(content) equality (BASELINE input_hint).
"""

from __future__ import annotations

import hashlib

import pandas as pd
import pytest

from kp_data_replication_spark.datagen import (
    ChangelogSpec,
    compute_expected_state_pandas,
    write_changelog,
)
from kp_data_replication_spark.sources.table_store import TableStore
from kp_data_replication_spark.streaming.apply import (
    CdcApplyEngine,
    EngineConfig,
    final_state,
)

SPEC = ChangelogSpec(n_keys=200, versions_per_key=3, n_partitions=4, files=3)
FAST = EngineConfig(metrics=False)


@pytest.fixture(scope="module")
def changelog_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("changelog"))
    write_changelog(spark, d, SPEC)
    return d


@pytest.fixture(scope="module")
def replayed(spark, changelog_dir, tmp_path_factory):
    store = TableStore(str(tmp_path_factory.mktemp("target")), n_buckets=8)
    engine = CdcApplyEngine(store, FAST)
    summary = engine.replay_batch(spark, changelog_dir)
    assert summary["status"] == "committed"
    return store, engine


def expected_with_sha(changelog_dir: str) -> pd.DataFrame:
    exp = compute_expected_state_pandas(changelog_dir)
    exp["content_sha"] = exp["content"].map(
        lambda c: hashlib.sha256(c.encode()).hexdigest()
    )
    return exp


def assert_state_matches(spark, store: TableStore, changelog_dir: str) -> None:
    exp = expected_with_sha(changelog_dir)
    got = (
        final_state(spark, store)
        .select("repo", "path", "commit", "lang", "content_sha", "stars")
        .toPandas()
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )
    exp_cmp = exp[["repo", "path", "commit", "lang", "content_sha", "stars"]].reset_index(
        drop=True
    )
    assert len(got) == len(exp_cmp), f"row count {len(got)} != {len(exp_cmp)}"
    pd.testing.assert_frame_equal(got, exp_cmp, check_dtype=False)


def test_full_replay_state_equality(spark, changelog_dir, replayed):
    store, _ = replayed
    assert_state_matches(spark, store, changelog_dir)


def test_epoch_fencing_noop(spark, changelog_dir, replayed):
    """A batch re-delivered by the SAME writer with an already-committed
    epoch is a no-op (exactly-once fencing, docs/consideration.md:62)."""
    store, engine = replayed
    df = spark.read.option("mergeSchema", "true").parquet(changelog_dir)
    assert engine.apply_batch(df, 0, writer_id="replay")["status"] == "fenced"
    assert_state_matches(spark, store, changelog_dir)


def test_cross_writer_epoch_never_fences_silently(spark, changelog_dir, replayed):
    """The ADVICE data-loss hazard: a DIFFERENT writer sequence re-using a
    low epoch number must NOT be silently dropped — its events go through
    the lineage-watermark dedup instead (all already applied here, so the
    commit is empty but real), and the state stays correct."""
    store, engine = replayed
    df = spark.read.option("mergeSchema", "true").parquet(changelog_dir)
    s = engine.apply_batch(df, 0, writer_id="stream:/some/checkpoint")
    assert s["status"] == "committed"  # processed, not fenced
    assert s["keys_changed"] == 0  # watermark dedup caught every event
    assert_state_matches(spark, store, changelog_dir)


def test_fresh_events_under_low_epoch_are_applied_not_lost(spark, tmp_path):
    """Regression for the fencing hazard proper: writer A commits epochs
    0..1; writer B (new checkpoint) delivers NEVER-APPLIED events under
    epoch 0. Pre-fix these were silently fenced (permanent data loss);
    now they must be applied."""
    d = str(tmp_path / "cl")
    write_changelog(
        spark, d,
        ChangelogSpec(n_keys=60, versions_per_key=2, n_partitions=2, files=2, dup_every=0),
    )
    store = TableStore(str(tmp_path / "t"), n_buckets=4)
    engine = CdcApplyEngine(store, FAST)
    files = sorted(f for f in __import__("os").listdir(d) if f.endswith(".parquet"))
    half = len(files) // 2
    first = spark.read.parquet(*[f"{d}/{f}" for f in files[:half]])
    second = spark.read.option("mergeSchema", "true").parquet(
        *[f"{d}/{f}" for f in files[half:]]
    )
    engine.apply_batch(first, 0, writer_id="stream:/cp-A")
    engine.apply_batch(first, 1, writer_id="stream:/cp-A")  # dup epoch, no-op content
    # writer B starts its own sequence at epoch 0 carrying FRESH events
    s = engine.apply_batch(second, 0, writer_id="stream:/cp-B")
    assert s["status"] == "committed"
    assert s["keys_changed"] > 0
    assert_state_matches(spark, store, d)


def test_replay_is_idempotent(spark, changelog_dir, replayed):
    """Re-applying the full changelog under a NEW epoch (duplicate redelivery
    of everything, docs/consideration.md:52-58) must not change the state."""
    store, engine = replayed
    v1 = store.current_version()
    summary = engine.replay_batch(spark, changelog_dir)
    assert summary["status"] == "committed"
    assert summary["keys_changed"] == 0  # all events below the watermark
    assert_state_matches(spark, store, changelog_dir)
    assert store.current_version() >= v1


def test_partition_count_mismatch_replay(spark, tmp_path):
    """The reference's flagship validation: 500 records through a
    10-partition source into a 5-partition target with count equality
    (docs/perf-tests.md:9-35,87-135). Here: a 10-partition changelog
    replays into differently-laid-out targets (5 and 16 hash buckets,
    different shuffle widths) — row count AND per-row sha256 must match
    the independent pandas oracle in every layout."""
    d = str(tmp_path / "cl")
    spec = ChangelogSpec(n_keys=100, versions_per_key=5, n_partitions=10, files=2)
    write_changelog(spark, d, spec)
    exp = expected_with_sha(d)

    for n_buckets, shuffle in ((5, 10), (16, 32)):
        store = TableStore(str(tmp_path / f"t{n_buckets}"), n_buckets=n_buckets)
        engine = CdcApplyEngine(
            store, EngineConfig(metrics=False, shuffle_partitions=shuffle)
        )
        summary = engine.replay_batch(spark, d)
        assert summary["status"] == "committed"
        got = (
            final_state(spark, store)
            .select("repo", "path", "content_sha")
            .toPandas()
            .sort_values(["repo", "path"])
            .reset_index(drop=True)
        )
        assert len(got) == len(exp), (n_buckets, len(got), len(exp))
        assert list(got["content_sha"]) == list(exp["content_sha"]), n_buckets
    # the two layouts carry identical state under different physical shapes
    s5 = TableStore(str(tmp_path / "t5"))
    s16 = TableStore(str(tmp_path / "t16"))
    assert s5.n_buckets == 5 and s16.n_buckets == 16



def test_key_spanning_two_partitions_fails_before_commit(spark, tmp_path):
    """One (repo, path) with events in log partitions 0 and 1 breaks the
    key->partition affinity contract: per-partition watermarks could let
    an older image overwrite a newer row, so the batch must raise before
    anything is committed."""
    from pyspark.sql import Row

    from kp_data_replication_spark.schema import CHANGELOG_SCHEMA

    def env(partition, lsn, path, content):
        img = Row(repo="r", path=path, commit="c0", lang="en", content=content)
        return Row(partition=partition, lsn=lsn, op="c", before=None,
                   after=img, ts_ms=None, headers=None, source_topic="repos")

    store = TableStore(str(tmp_path / "t"), n_buckets=4)
    engine = CdcApplyEngine(store, FAST)
    engine.apply_batch(
        spark.createDataFrame([env(0, 0, "ok", "v0")], CHANGELOG_SCHEMA), 0
    )
    head = store.current_version()
    split = spark.createDataFrame(
        [env(0, 1, "split", "old"), env(1, 1, "split", "new")],
        CHANGELOG_SCHEMA,
    )
    with pytest.raises(ValueError, match="affinity"):
        engine.apply_batch(split, 1)
    assert store.current_version() == head
