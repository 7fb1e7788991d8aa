"""Time travel, version-to-version changefeed, chained replication, and
small-file rewrite maintenance.

The reference composes mirrors: a replicated topic is itself a source for
the next hop (docs/index.md:32-52, mirror-maker-2/bi-directional). Here the
target TABLE re-emits row-level changes between committed versions (Delta
CDF / Iceberg incremental-read semantics), so replication chains A -> B
without re-reading A's changelog; `rewrite_buckets` is the Iceberg
rewrite_data_files analogue keeping per-bucket file counts bounded over
long streams.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kp_data_replication_spark.datagen import ChangelogSpec, write_changelog
from kp_data_replication_spark.operators.changefeed import (
    changed_buckets,
    changefeed_envelope,
    diff_states,
    table_changes,
)
from kp_data_replication_spark.sources.table_store import TableStore
from kp_data_replication_spark.streaming.apply import (
    CdcApplyEngine,
    EngineConfig,
    final_state,
)

FAST = EngineConfig(metrics=False)
SPEC = ChangelogSpec(n_keys=100, versions_per_key=3, n_partitions=4, files=6, dup_every=0)


@pytest.fixture(scope="module")
def stepped(spark, tmp_path_factory):
    """A store built by applying the changelog in 3 epochs (2 files each),
    so versions v1..v3 exist with known intermediate states."""
    d = str(tmp_path_factory.mktemp("cl"))
    write_changelog(spark, d, SPEC)
    store = TableStore(str(tmp_path_factory.mktemp("t")) + "/t", n_buckets=8)
    engine = CdcApplyEngine(store, FAST)
    files = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
    batches = [files[0:2], files[2:4], files[4:6]]
    for epoch, group in enumerate(batches):
        batch = spark.read.option("mergeSchema", "true").parquet(
            *[f"{d}/{f}" for f in group]
        )
        out = engine.apply_batch(batch, epoch)
        assert out["status"] == "committed"
    return d, store


def _sha_state(spark, store, version=None):
    df = store.read_state(spark, version=version)
    return sorted(
        (r["repo"], r["path"], r["sha"])
        for r in df.select(
            "repo", "path", F.sha2("content", 256).alias("sha")
        ).collect()
    )


def test_time_travel_reads_each_committed_version(spark, stepped):
    d, store = stepped
    assert store.versions() == [1, 2, 3]
    # replaying only the first epoch's files into a fresh store must equal
    # the time-travel read AS OF v1
    files = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))[:2]
    twin = TableStore(store.root + "_twin", n_buckets=8)
    CdcApplyEngine(twin, FAST).apply_batch(
        spark.read.option("mergeSchema", "true").parquet(*[f"{d}/{f}" for f in files]),
        0,
    )
    assert _sha_state(spark, store, version=1) == _sha_state(spark, twin)
    # current == explicit current version
    assert _sha_state(spark, store) == _sha_state(spark, store, version=3)


def test_diff_states_classifies_insert_update_delete(spark):
    old = spark.createDataFrame(
        [("r1", "a", "x"), ("r1", "b", "y"), ("r2", "c", "z")],
        "repo string, path string, content string",
    )
    new = spark.createDataFrame(
        [("r1", "a", "x"), ("r1", "b", "Y2"), ("r3", "d", "w")],
        "repo string, path string, content string",
    )
    got = {
        (r["repo"], r["path"]): (r["_change_type"], r["content"])
        for r in diff_states(old, new).collect()
    }
    assert got == {
        ("r1", "b"): ("update", "Y2"),   # post-image
        ("r2", "c"): ("delete", "z"),    # pre-image
        ("r3", "d"): ("insert", "w"),
    }  # ("r1","a") unchanged -> absent


def test_table_changes_replays_to_the_newer_state(spark, stepped):
    """Applying the v1->v3 changefeed on top of the v1 state must yield
    exactly the v3 state — the defining property of a changefeed."""
    d, store = stepped
    ch = table_changes(spark, store, 1, 3)
    old = store.read_state(spark, version=1)
    # apply: delete removed keys, upsert insert/update post-images
    data_cols = [c for c in old.columns]
    changes = {
        (r["repo"], r["path"]): r
        for r in ch.collect()
    }
    base = {(r["repo"], r["path"]): r for r in old.collect()}
    for k, r in changes.items():
        if r["_change_type"] == "delete":
            base.pop(k, None)
        else:
            base[k] = r
    import hashlib

    rebuilt = sorted(
        (k[0], k[1], hashlib.sha256(r["content"].encode()).hexdigest())
        for k, r in base.items()
    )
    assert rebuilt == _sha_state(spark, store, version=3)


def test_changed_buckets_prunes_at_manifest_level(spark, stepped):
    d, store = stepped
    # v3 committed only epoch-3's dirty buckets: the diff planning set for
    # v2->v3 must be exactly those buckets, not the whole table
    m2, m3 = store.manifest(2), store.manifest(3)
    expected = sorted(
        int(b)
        for b in set(m2["buckets"]) | set(m3["buckets"])
        if m2["buckets"].get(b, []) != m3["buckets"].get(b, [])
    )
    assert changed_buckets(store, 2, 3) == expected
    # self-diff is empty and reads nothing
    assert changed_buckets(store, 3, 3) == []
    assert table_changes(spark, store, 3, 3).count() == 0


def test_chained_replication_converges_and_is_idempotent(spark, stepped):
    """A -> B cascade: B tails A's changefeed version by version and ends
    sha-identical to A; re-delivering a version batch is a no-op (the
    lsn=version watermark dedups it)."""
    d, store_a = stepped
    store_b = TableStore(store_a.root + "_b", n_buckets=4)  # N->M layout too
    engine_b = CdcApplyEngine(store_b, FAST)
    prev = 0
    for epoch, v in enumerate(store_a.versions()):
        env = changefeed_envelope(spark, store_a, prev, v, n_partitions=4)
        out = engine_b.apply_batch(env, epoch, writer_id="cascade")
        assert out["status"] == "committed"
        prev = v
    assert _sha_state(spark, store_b) == _sha_state(spark, store_a)

    # re-deliver the last version's batch under a new epoch: zero fresh
    # events pass the watermark dedup -> state unchanged
    env = changefeed_envelope(spark, store_a, 2, 3, n_partitions=4)
    out = engine_b.apply_batch(env, 99, writer_id="cascade")
    assert out["keys_changed"] == 0
    assert _sha_state(spark, store_b) == _sha_state(spark, store_a)


def test_cascade_catchup_is_resumable_and_exactly_once(spark, tmp_path):
    """The catch-up loop tracks the last replicated source version in the
    destination's writer-fencing map: a restarted catch-up (new engine
    object, same table) resumes where it left off, re-runs are no-ops, and
    interleaved source commits are drained call by call."""
    from kp_data_replication_spark.operators.changefeed import cascade_catchup

    d = str(tmp_path / "cl")
    write_changelog(
        spark, d,
        ChangelogSpec(n_keys=80, versions_per_key=3, n_partitions=4, files=6,
                      dup_every=0),
    )
    src = TableStore(str(tmp_path / "a"), n_buckets=8)
    src_engine = CdcApplyEngine(src, FAST)
    files = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))

    def commit_src(lo, hi, epoch):
        src_engine.apply_batch(
            spark.read.option("mergeSchema", "true").parquet(
                *[f"{d}/{f}" for f in files[lo:hi]]
            ),
            epoch,
        )

    dst = TableStore(str(tmp_path / "b"), n_buckets=4)

    commit_src(0, 2, 0)
    commit_src(2, 4, 1)
    out1 = cascade_catchup(spark, src, CdcApplyEngine(dst, FAST), n_partitions=4)
    assert out1["applied_versions"] == [1, 2] and out1["at_version"] == 2

    # re-run with a FRESH engine object (restart): nothing to do
    out2 = cascade_catchup(spark, src, CdcApplyEngine(dst, FAST), n_partitions=4)
    assert out2["applied_versions"] == [] and out2["at_version"] == 2

    # more source commits, including a maintenance (physical-only) version:
    # the data commit applies, the rebucket diffs to zero rows and is
    # SKIPPED (no no-op version on the destination)
    commit_src(4, 6, 2)
    src.rebucket(spark, 16)
    out3 = cascade_catchup(spark, src, CdcApplyEngine(dst, FAST), n_partitions=4)
    assert out3["applied_versions"] == [3] and out3["at_version"] == 4

    assert _sha_state(spark, dst) == _sha_state(spark, src)


def test_rewrite_buckets_compacts_files_preserves_state_and_emits_empty_changefeed(
    spark, tmp_path
):
    """Commits are bucket-CoW, so multi-file buckets come from size-split /
    unaligned-clustered writes, not epoch accretion. Simulate one, then
    rewrite it back to one file per bucket."""
    from kp_data_replication_spark.schema import ROW_SCHEMA
    from kp_data_replication_spark.sources.table_store import BUCKET_COL, bucket_expr

    store = TableStore(str(tmp_path / "t"), n_buckets=4)
    rows = spark.range(400).select(
        F.format_string("org/r%d", F.col("id") % 7).alias("repo"),
        F.format_string("f%d.py", F.col("id")).alias("path"),
        F.sha2(F.col("id").cast("string"), 256).substr(1, 40).alias("commit"),
        F.lit("py").alias("lang"),
        F.format_string("content-%d", F.col("id")).alias("content"),
    ).withColumn(BUCKET_COL, bucket_expr(4))
    # clustered=True with round-robin partitioning: every task holds rows of
    # every bucket -> several files per bucket directory
    store.commit(
        rows.repartition(3), list(range(4)),
        [{"partition": 0, "applied_lsn": 0, "epoch": 0,
          "n_applied": 400, "updated_ts": None}],
        epoch=0, row_schema=ROW_SCHEMA, clustered=True,
    )
    m = store.current_manifest()
    fat = [int(b) for b, fl in m["buckets"].items() if len(fl) > 1]
    assert fat, "unaligned clustered commit should have left multi-file buckets"
    before_sha = _sha_state(spark, store)
    v_before = store.current_version()

    out = store.rewrite_buckets(spark, min_files=1)
    assert sorted(out["rewritten_buckets"]) == sorted(fat)
    assert out["version"] == v_before + 1

    m2 = store.current_manifest()
    for b in fat:
        assert len(m2["buckets"][str(b)]) == 1
    # logical state unchanged; epoch/writers untouched (no fencing impact)
    assert _sha_state(spark, store) == before_sha
    assert m2["epoch"] == m["epoch"]
    assert m2.get("writers") == m.get("writers")
    # physical rewrite emits an EMPTY changefeed (null-safe row compare)
    assert table_changes(spark, store, v_before, v_before + 1).count() == 0
    # and a second pass is a no-op
    again = store.rewrite_buckets(spark, min_files=1)
    assert again["rewritten_buckets"] == []


def test_rebucket_rescales_layout_preserves_state_and_future_applies(
    spark, stepped, tmp_path
):
    """Partition-spec evolution: a table grown 100x wants more buckets so a
    micro-batch stops rewriting huge files. Rebucket 8->16 in place; state
    is sha-identical, the changefeed across the rebucket is empty, and the
    next epoch applies against the NEW layout (engine reads n_buckets from
    the manifest per batch)."""
    d, store = stepped
    before_sha = _sha_state(spark, store)
    v_before = store.current_version()
    out = store.rebucket(spark, 16)
    assert out["n_buckets"] == 16 and store.n_buckets == 16
    m = store.current_manifest()
    assert m["n_buckets"] == 16 and len(m["buckets"]) == 16
    assert _sha_state(spark, store) == before_sha
    # physical-only change: empty changefeed (row-level null-safe compare)
    assert table_changes(spark, store, v_before, out["version"]).count() == 0
    # old versions still read through their own bucket map
    assert _sha_state(spark, store, version=v_before) == before_sha

    # a follow-on epoch lands in the 16-bucket layout
    extra_dir = str(tmp_path / "extra16")
    write_changelog(
        spark, extra_dir,
        ChangelogSpec(n_keys=30, versions_per_key=1, n_partitions=4, files=1,
                      dup_every=0, lsn_base=20_000),
    )
    engine = CdcApplyEngine(store, FAST)
    res = engine.apply_batch(
        spark.read.option("mergeSchema", "true").parquet(extra_dir),
        store.writer_epoch("default") + 1,
    )
    assert res["status"] == "committed"
    m2 = store.current_manifest()
    assert m2["n_buckets"] == 16
    # dirty buckets of the new epoch were hashed with the NEW bucket count
    assert all(int(b) < 16 for b in m2["buckets"])


def test_rewrite_then_apply_then_vacuum_keeps_working(spark, stepped, tmp_path):
    """Maintenance interleaves with ingest: rewrite -> new epoch applies on
    the compacted layout -> vacuum drops pre-rewrite files -> state intact."""
    d, store = stepped
    engine = CdcApplyEngine(store, FAST)
    # fresh follow-on changelog with higher lsns: reuse the same generator
    # but a later lsn base via a second write + filter on new events only
    extra_dir = str(tmp_path / "extra")
    write_changelog(
        spark, extra_dir,
        ChangelogSpec(n_keys=40, versions_per_key=1, n_partitions=4, files=1,
                      dup_every=0, lsn_base=10_000),
    )
    batch = spark.read.option("mergeSchema", "true").parquet(extra_dir)
    out = engine.apply_batch(batch, store.writer_epoch("default") + 1)
    assert out["status"] == "committed"
    state_after = _sha_state(spark, store)

    store.vacuum(keep_versions=1)
    assert _sha_state(spark, store) == state_after
    # time travel to vacuumed versions now raises cleanly
    with pytest.raises(FileNotFoundError):
        store.read_state(spark, version=1)


def test_snapshot_bootstrap_then_tail_skips_history(spark, tmp_path):
    """Debezium snapshot mode -> streaming handoff: bulk-load a consistent
    snapshot, initialize watermarks to the snapshot's log position, then
    tail the FULL log — pre-snapshot events dedup away, post-snapshot
    events apply, and the final state equals a from-scratch full replay."""
    d = str(tmp_path / "cl")
    write_changelog(
        spark, d,
        ChangelogSpec(n_keys=120, versions_per_key=3, n_partitions=4, files=6,
                      dup_every=0),
    )
    files = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
    half = len(files) // 2

    # reference: full replay from scratch
    ref = TableStore(str(tmp_path / "ref"), n_buckets=8)
    CdcApplyEngine(ref, FAST).apply_batch(
        spark.read.option("mergeSchema", "true").parquet(d), 0
    )

    # "snapshot source": the state + watermarks after the first half
    snap_src = TableStore(str(tmp_path / "snap_src"), n_buckets=8)
    CdcApplyEngine(snap_src, FAST).apply_batch(
        spark.read.option("mergeSchema", "true").parquet(
            *[f"{d}/{f}" for f in files[:half]]
        ),
        0,
    )
    snapshot = snap_src.read_state(spark)
    marks = {
        r["partition"]: r["applied_lsn"] for r in snap_src.read_lineage_rows()
    }

    # bootstrap a fresh target from the snapshot, then tail the WHOLE log
    tgt = TableStore(str(tmp_path / "tgt"), n_buckets=8)
    engine = CdcApplyEngine(tgt, FAST)
    out = engine.bootstrap_snapshot(snapshot, marks)
    assert out["status"] == "committed" and tgt.current_version() == 1
    assert _sha_state(spark, tgt) == _sha_state(spark, snap_src)

    full = spark.read.option("mergeSchema", "true").parquet(d)
    res = engine.apply_batch(full, 0)  # default writer, fresh sequence
    assert res["status"] == "committed"
    # history was deduped by the snapshot watermarks: the number of APPLIED
    # events is the post-snapshot tail only, well below the full log
    n_total_events = full.count()
    n_applied = sum(r["n_applied"] or 0 for r in tgt.read_lineage_rows())
    assert 0 < n_applied < n_total_events // 2 + 1

    assert _sha_state(spark, tgt) == _sha_state(spark, ref)

    # re-running the snapshot under its writer sequence is fenced
    assert engine.bootstrap_snapshot(snapshot, marks)["status"] == "fenced"


def test_bidirectional_cascade_converges_without_ping_pong(spark, tmp_path):
    """State-based bidirectional sync: A and B ingest disjoint changelogs,
    then cross-cascade via changefeed until both directions drain. Because
    the changefeed is a STATE diff (not a log), rows replicated A->B come
    back identical in B's feed and die in the null-safe compare — no topic
    prefixes needed to prevent loops, convergence is self-stabilizing.
    (Conflicting concurrent writes to the SAME key resolve last-cascade-
    wins — the documented caveat; this test uses disjoint key spaces, the
    normal bidirectional topology, docs/consideration.md:29-35.)"""
    from kp_data_replication_spark.operators.changefeed import cascade_catchup

    def mk_store(name, spec, n_buckets, langs):
        d = str(tmp_path / f"cl_{name}")
        write_changelog(spark, d, spec)
        store = TableStore(str(tmp_path / name), n_buckets=n_buckets)
        batch = spark.read.option("mergeSchema", "true").parquet(d).filter(
            F.coalesce(F.col("after.lang"), F.col("before.lang")).isin(*langs)
        )
        CdcApplyEngine(store, FAST).apply_batch(batch, 0)
        return store

    # DISJOINT key spaces by construction (complementary lang partitions of
    # the keyspace — lang is a pure function of the key): bidirectional
    # sync of OVERLAPPING keys with conflicting images is the documented
    # flip-flop caveat, the normal topology keeps each side authoritative
    # for its own keys (docs/consideration.md:29-35)
    a = mk_store("a", ChangelogSpec(n_keys=60, versions_per_key=2, n_partitions=2,
                                    files=2, dup_every=0, n_repos=3), 8,
                 langs=("py", "java", "go"))
    b = mk_store("b", ChangelogSpec(n_keys=40, versions_per_key=2, n_partitions=2,
                                    files=2, dup_every=0, n_repos=2,
                                    hot_key_share=0.0, lsn_base=50_000), 4,
                 langs=("md", "yaml"))

    eng_a, eng_b = CdcApplyEngine(a, FAST), CdcApplyEngine(b, FAST)
    versions_seen = []
    for _ in range(4):  # alternate directions until both drain
        r1 = cascade_catchup(spark, a, eng_b, n_partitions=2)
        r2 = cascade_catchup(spark, b, eng_a, n_partitions=2)
        versions_seen.append((r1["applied_versions"], r2["applied_versions"]))
        if not r1["applied_versions"] and not r2["applied_versions"]:
            break

    assert _sha_state(spark, a) == _sha_state(spark, b)
    # convergence: the final round applied nothing in either direction
    assert versions_seen[-1] == ([], [])
    # no ping-pong growth: version counts stay bounded (each side gained at
    # most the cross-cascade commits, not an ever-growing echo chain)
    assert a.current_version() <= 6 and b.current_version() <= 6


def test_vacuum_auto_pins_slow_consumer_then_releases(spark, tmp_path):
    """Retention auto-pin (round-2 VERDICT item 3): a registered cascade
    consumer's lag derives vacuum's keep-floor, so aggressive vacuum + a
    lagging consumer still catch up incrementally — no FileNotFoundError,
    no full resync; once the consumer advances, the pin releases and the
    old versions expire on the next vacuum."""
    from kp_data_replication_spark.operators.changefeed import cascade_catchup

    d = str(tmp_path / "cl")
    write_changelog(
        spark, d,
        ChangelogSpec(n_keys=80, versions_per_key=2, n_partitions=2, files=6,
                      dup_every=0),
    )
    src = TableStore(str(tmp_path / "src"), n_buckets=4)
    src_engine = CdcApplyEngine(src, FAST)
    files = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))

    # src applies batch 1; consumer cascades -> registered at v1
    src_engine.apply_batch(
        spark.read.option("mergeSchema", "true").parquet(f"{d}/{files[0]}"), 0
    )
    dst = TableStore(str(tmp_path / "dst"), n_buckets=4)
    out = cascade_catchup(spark, src, CdcApplyEngine(dst, FAST), n_partitions=2)
    assert out["at_version"] == 1
    assert src.consumers() == {f"cascade:{os.path.abspath(dst.root)}": 1}

    # src races ahead: 3 more versions; aggressive vacuum keeps only 1
    # version by window — but the consumer floor pins v1..v4
    for epoch, f in enumerate(files[1:4], start=1):
        src_engine.apply_batch(
            spark.read.option("mergeSchema", "true").parquet(f"{d}/{f}"), epoch
        )
    assert src.current_version() == 4
    report = src.vacuum(keep_versions=1)
    assert report["removed_manifests"] == 0  # everything >= floor retained
    assert src.manifest(1) is not None

    # the lagging consumer catches up INCREMENTALLY (no resync, no raise)
    out2 = cascade_catchup(spark, src, CdcApplyEngine(dst, FAST), n_partitions=2)
    assert out2["at_version"] == 4 and out2["applied_versions"]
    assert _sha_state(spark, dst) == _sha_state(spark, src)

    # pin advanced -> next vacuum expires the old versions
    assert src.consumers()[f"cascade:{os.path.abspath(dst.root)}"] == 4
    report2 = src.vacuum(keep_versions=1)
    assert report2["removed_manifests"] == 3
    with pytest.raises(FileNotFoundError):
        src.manifest(1)

    # deregistering removes the pin entirely
    src.record_consumer("dead-flow", 4)
    src.remove_consumer("dead-flow")
    assert "dead-flow" not in src.consumers()


def test_tags_pin_versions_through_vacuum(spark, tmp_path):
    """Named tags (Iceberg tag analogue) are retention pins: vacuum keeps a
    tagged version's files outside the keep window, so time travel AND a
    changefeed from the tagged baseline still work after aggressive
    expiry; deleting the tag releases it."""
    d = str(tmp_path / "cl")
    write_changelog(
        spark, d,
        ChangelogSpec(n_keys=60, versions_per_key=2, n_partitions=2, files=4,
                      dup_every=0),
    )
    store = TableStore(str(tmp_path / "t"), n_buckets=4)
    engine = CdcApplyEngine(store, FAST)
    files = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
    for epoch, f in enumerate(files):
        engine.apply_batch(
            spark.read.option("mergeSchema", "true").parquet(f"{d}/{f}"), epoch
        )
    n_versions = store.current_version()
    assert n_versions == len(files) >= 4

    baseline_sha = _sha_state(spark, store, version=1)
    assert store.create_tag("baseline", 1) == 1

    store.vacuum(keep_versions=1)
    # v1 survives via the tag; v2/v3 are expired
    assert _sha_state(spark, store, version=1) == baseline_sha
    with pytest.raises(FileNotFoundError):
        store.read_state(spark, version=2)
    # changefeed from the pinned baseline still plans and runs
    assert table_changes(spark, store, store.tag_version("baseline")).count() > 0

    store.delete_tag("baseline")
    store.vacuum(keep_versions=1)
    with pytest.raises(FileNotFoundError):
        store.read_state(spark, version=1)
    # live state untouched throughout
    assert store.current_version() == n_versions
    assert len(_sha_state(spark, store)) > 0

    # re-tagging the now-vacuumed version is rejected at tag time: the pin
    # could never deliver time travel / changefeed reads (its manifest is
    # gone), so failing later with FileNotFoundError would be a trap
    with pytest.raises(ValueError, match="vacuumed"):
        store.create_tag("late", 1)
    # tagging a live version still works
    assert store.create_tag("head", n_versions) == n_versions


def test_row_preserving_maintenance_narrows_changefeed_to_zero_reads(
    spark, tmp_path, monkeypatch
):
    """The one version pair spanning a rebucket used to degrade to a
    full-table row diff (bucket ids aren't comparable across layouts).
    Maintenance versions now tag their manifests ``row_preserving`` and
    incremental readers narrow the range across them: a maintenance-only
    range opens ZERO data files, and a range with real changes after the
    rebucket bucket-prunes again in the new layout."""
    from kp_data_replication_spark.operators.changefeed import (
        narrow_versions,
        table_changes_cdf,
    )

    d = str(tmp_path / "cl")
    write_changelog(
        spark, d,
        ChangelogSpec(n_keys=60, versions_per_key=2, n_partitions=4, files=4,
                      dup_every=0),
    )
    store = TableStore(str(tmp_path / "t"), n_buckets=8)
    engine = CdcApplyEngine(store, FAST)
    files = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
    engine.apply_batch(
        spark.read.option("mergeSchema", "true").parquet(
            *[f"{d}/{f}" for f in files[:2]]), 0)
    engine.apply_batch(
        spark.read.option("mergeSchema", "true").parquet(
            *[f"{d}/{f}" for f in files[2:]]), 1)
    v_data = store.current_version()
    sha = _sha_state(spark, store)

    store.rewrite_buckets(spark, min_files=0)          # v+1: row-preserving
    store.rebucket(spark, 16)                          # v+2: row-preserving
    head = store.current_version()
    assert (store.manifest(v_data + 1) or {}).get("row_preserving") is True
    assert (store.manifest(head) or {}).get("row_preserving") is True
    # maintenance-only range collapses to a point (forward narrowing wins:
    # the representative lands on the newest layout)
    assert narrow_versions(store, v_data, head) == (head, head)

    calls: list = []
    orig = TableStore.read_state

    def spy(self, spark_, buckets=None, **kw):
        calls.append(buckets)
        return orig(self, spark_, buckets=buckets, **kw)

    monkeypatch.setattr(TableStore, "read_state", spy)
    # spanning the rewrite+rebucket: empty diff over ZERO data files
    assert table_changes(spark, store, v_data, head).count() == 0
    assert calls and all(b == [] for b in calls)
    calls.clear()
    assert table_changes_cdf(spark, store, v_data, head).count() == 0
    assert calls and all(b == [] for b in calls)
    monkeypatch.undo()
    assert _sha_state(spark, store) == sha

    # real changes AFTER the rebucket: the pair spanning the rebucket
    # narrows at the edge and bucket-prunes in the NEW 16-bucket layout
    extra = str(tmp_path / "extra")
    write_changelog(
        spark, extra,
        ChangelogSpec(n_keys=5, versions_per_key=1, n_partitions=2, files=1,
                      dup_every=0, lsn_base=50_000),
    )
    engine.apply_batch(
        spark.read.option("mergeSchema", "true").parquet(extra), 2)
    v_new = store.current_version()
    assert narrow_versions(store, v_data, v_new) == (head, v_new)
    dirty = changed_buckets(store, head, v_new)
    assert 0 < len(dirty) < 16, "spanning pair should prune buckets again"
    diff = table_changes(spark, store, v_data, v_new)
    # exact same rows as the unnarrowed full diff of the two states
    full = diff_states(
        store.read_state(spark, version=v_data),
        store.read_state(spark, version=v_new),
    )
    assert diff.count() == full.count() > 0
    # reported version is the REQUESTED v_to, not the narrowed endpoint
    assert diff.select("_commit_version").distinct().collect()[0][0] == v_new

    # a purge must never inherit the flag from a preceding rewrite
    assert "row_preserving" not in (store.manifest(v_new) or {})


def test_version_as_of_timestamp_resolution(spark, stepped):
    """Commit stamps are strictly monotone per table and version_as_of
    resolves AS-OF-TIMESTAMP reads (Iceberg snapshot-at-timestamp /
    Delta timestampAsOf semantics)."""
    d, shared = stepped  # reuse only the changelog dir (the shared store
    store = TableStore(shared.root + "_asof", n_buckets=8)  # may be vacuumed)
    engine = CdcApplyEngine(store, FAST)
    files = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
    for epoch, group in enumerate([files[0:2], files[2:4], files[4:6]]):
        engine.apply_batch(
            spark.read.option("mergeSchema", "true").parquet(
                *[f"{d}/{f}" for f in group]
            ),
            epoch,
        )
    vs = store.versions()
    assert vs == [1, 2, 3]
    stamps = {v: store.manifest(v)["committed_at_ms"] for v in vs}
    ordered = [stamps[v] for v in vs]
    assert ordered == sorted(ordered) and len(set(ordered)) == len(ordered)
    for v in vs:
        assert store.version_as_of(stamps[v]) == v
    assert store.version_as_of(stamps[vs[-1]] + 10_000_000) == vs[-1]
    with pytest.raises(ValueError):
        store.version_as_of(stamps[vs[0]] - 1)
    # read path: timestamp resolves to the same state as the version read
    assert _sha_state(spark, store, version=1) == sorted(
        (r["repo"], r["path"], r["sha"])
        for r in store.read_state(spark, timestamp_ms=stamps[1])
        .select("repo", "path", F.sha2("content", 256).alias("sha"))
        .collect()
    )
    with pytest.raises(ValueError):
        store.read_state(spark, version=1, timestamp_ms=stamps[1])


def test_maintenance_versions_are_stamped_monotone(spark, stepped):
    """Layout-maintenance versions (rebucket) also land a commit stamp
    after their predecessor, so timestamp travel crosses maintenance
    versions without ambiguity."""
    d, store = stepped
    files = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))[:2]
    tw = TableStore(store.root + "_tsmono", n_buckets=8)
    CdcApplyEngine(tw, FAST).apply_batch(
        spark.read.option("mergeSchema", "true").parquet(
            *[f"{d}/{f}" for f in files]
        ),
        0,
    )
    before = tw.current_version()
    ts_before = tw.manifest(before)["committed_at_ms"]
    tw.rebucket(spark, new_n_buckets=4)
    after = tw.current_version()
    assert after > before
    ts_after = tw.manifest(after)["committed_at_ms"]
    assert ts_after > ts_before
    assert tw.version_as_of(ts_after) == after
    assert tw.version_as_of(ts_after - 1) == before
