"""TableStore.restore: roll the head back to a prior version as a NEW
metadata-only commit (Delta RESTORE / Iceberg rollback-to-snapshot
analogue) — the point-in-time-recovery half of the reference's DR story.

Covers: state equality with the restored version, the compensating
changefeed (a downstream cascade CONVERGES to the restored state instead
of diverging), vacuum keeping the re-referenced old files alive,
writer-epoch fencing carried forward (data mode) vs rewound (rewind
mode), and the guard rails (expired version, staged WAP pending, no-op).
"""

from __future__ import annotations

import hashlib
import os

import pytest

from kp_data_replication_spark.datagen import ChangelogSpec, write_changelog
from kp_data_replication_spark.operators.changefeed import (
    cascade_catchup,
    table_changes,
)
from kp_data_replication_spark.sources.table_store import TableStore
from kp_data_replication_spark.streaming.apply import CdcApplyEngine, EngineConfig


def _sha_state(spark, store, **kw):
    return sorted(
        hashlib.sha256(
            f"{r['repo']}|{r['path']}|{r['content']}".encode()
        ).hexdigest()
        for r in store.read_state(spark, **kw).collect()
    )


def _build(spark, tmp_path, name="t", files=4, metrics=False):
    """One committed version per generated file batch (deletes included)."""
    d = str(tmp_path / f"cl_{name}")
    write_changelog(
        spark, d,
        ChangelogSpec(n_keys=60, versions_per_key=3, n_partitions=2,
                      files=files, dup_every=0),
    )
    store = TableStore(str(tmp_path / name), n_buckets=4)
    engine = CdcApplyEngine(store, EngineConfig(metrics=metrics))
    batches = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
    dfs = [
        spark.read.option("mergeSchema", "true").parquet(f"{d}/{f}")
        for f in batches
    ]
    for i, df in enumerate(dfs):
        engine.apply_batch(df, i)
    return store, engine, dfs


def test_restore_state_equals_target_version_and_is_metadata_only(
    spark, tmp_path
):
    store, _, _ = _build(spark, tmp_path)
    head = store.current_version()
    assert head >= 4
    want = _sha_state(spark, store, version=2)
    n_data_files_before = sum(
        len(files) for _, _, files in os.walk(os.path.join(store.root, "data"))
    )

    v = store.restore(2)
    assert v == head + 1
    assert store.current_version() == v
    assert _sha_state(spark, store) == want
    # pure metadata: not one data file written
    n_data_files_after = sum(
        len(files) for _, _, files in os.walk(os.path.join(store.root, "data"))
    )
    assert n_data_files_after == n_data_files_before
    m = store.manifest(v)
    assert m["restored_from"] == 2
    assert m["buckets"] == store.manifest(2)["buckets"]
    # history stays linear and time-travelable: the rolled-back head is
    # still readable as a version
    assert _sha_state(spark, store, version=head) != want
    # commit stamps stay strictly monotone across the restore
    assert m["committed_at_ms"] > store.manifest(head)["committed_at_ms"]


def test_restore_changefeed_is_compensating_and_cascade_converges(
    spark, tmp_path
):
    src, _, _ = _build(spark, tmp_path, "src")
    dst = TableStore(str(tmp_path / "dst"), n_buckets=4)
    dst_engine = CdcApplyEngine(dst, EngineConfig(metrics=False))
    cascade_catchup(spark, src, dst_engine, n_partitions=2)
    assert _sha_state(spark, dst) == _sha_state(spark, src)

    head = src.current_version()
    v = src.restore(2)
    # the diff head -> restored head is exactly state(2) vs state(head):
    # compensating deletes/updates, no spurious rows
    cf = table_changes(spark, src, v_from=head, v_to=v)
    kinds = {r["_change_type"] for r in cf.select("_change_type").collect()}
    assert kinds and kinds <= {"insert", "update", "delete"}
    # a tailing replica applies the compensation and converges to the
    # restored state — replication chains survive a restore
    r = cascade_catchup(spark, src, dst_engine, n_partitions=2)
    assert r["applied_versions"]
    assert _sha_state(spark, dst) == _sha_state(spark, src)
    assert _sha_state(spark, dst) == _sha_state(spark, src, version=2)


def test_restore_survives_vacuum_and_keeps_reading(spark, tmp_path):
    store, _, _ = _build(spark, tmp_path)
    want = _sha_state(spark, store, version=2)
    store.restore(2)
    report = store.vacuum(keep_versions=1)
    # intermediate manifests expire but every data file the restored head
    # references is live via its own manifest walk
    assert report["removed_manifests"] > 0
    assert _sha_state(spark, store) == want


def test_restore_data_mode_keeps_fencing_rewind_reapplies(spark, tmp_path):
    store, engine, dfs = _build(spark, tmp_path)
    head = store.current_version()
    restored = _sha_state(spark, store, version=2)

    # data mode (default): writer map AND lineage watermarks carried
    # forward — replaying an already-applied epoch is fenced to a noop and
    # a redelivery of the rolled-back tail under its ORIGINAL lsns is
    # watermark-deduped: the tail stays dropped, per Delta RESTORE
    store.restore(2)
    engine.apply_batch(dfs[-1], len(dfs) - 1)
    assert store.current_version() == head + 1  # fenced: no new commit
    assert _sha_state(spark, store) == restored

    # ...but genuinely NEW log events (a follow-on segment above the
    # applied watermarks) land on top of the restored state exactly as
    # they would on any other head
    seg = str(tmp_path / "cl_seg")
    write_changelog(
        spark, seg,
        # content_chains differs from the base log so the segment's
        # upserts genuinely CHANGE rows (the generator is deterministic:
        # same spec -> same bodies -> no-op upserts)
        ChangelogSpec(n_keys=60, versions_per_key=1, n_partitions=2,
                      files=1, dup_every=0, lsn_base=100_000,
                      content_chains=6),
    )
    seg_df = spark.read.option("mergeSchema", "true").parquet(
        seg + "/" + sorted(
            f for f in os.listdir(seg) if f.endswith(".parquet")
        )[0]
    )
    engine.apply_batch(seg_df, len(dfs))
    assert store.current_version() == head + 2
    # equivalence oracle: a twin table that NEVER overshot — built from
    # the same first two batches, no restore — converges to the same
    # state under the same follow-on segment
    twin = TableStore(str(tmp_path / "twin"), n_buckets=4)
    twin_engine = CdcApplyEngine(twin, EngineConfig(metrics=False))
    for i, df in enumerate(dfs[:2]):
        twin_engine.apply_batch(df, i)
    assert _sha_state(spark, twin) == restored
    twin_engine.apply_batch(seg_df, 2)
    assert _sha_state(spark, store) == _sha_state(spark, twin)
    assert _sha_state(spark, store) != restored

    # rewind mode: writer map + lineage watermarks roll back too, so the
    # SAME tail re-applies (fresh delivery of the rolled-back events)
    store2, engine2, dfs2 = _build(spark, tmp_path, "t2")
    head2 = store2.current_version()
    full = _sha_state(spark, store2)
    store2.restore(2, rewind=True)
    for i, df in enumerate(dfs2):
        engine2.apply_batch(df, i)
    assert _sha_state(spark, store2) == full
    assert store2.current_version() > head2 + 1


def test_restore_guards(spark, tmp_path):
    store, engine, dfs = _build(spark, tmp_path, files=4)
    head = store.current_version()
    # no-op restore to current
    assert store.restore(head) == head
    with pytest.raises(ValueError, match="cannot restore"):
        store.restore(0)
    with pytest.raises(ValueError, match="cannot restore"):
        store.restore(head + 5)
    # expired target version
    store.vacuum(keep_versions=1)
    with pytest.raises(ValueError, match="expired by vacuum"):
        store.restore(1)
    # staged WAP version pending -> refuse (the staged manifest owns
    # current+1; a restore commit would clobber the audited bytes)
    from pyspark.sql import functions as F

    from kp_data_replication_spark.schema import ROW_SCHEMA
    from kp_data_replication_spark.sources.table_store import (
        BUCKET_COL,
        bucket_expr,
    )

    store2 = TableStore(str(tmp_path / "t3"), n_buckets=4)

    def _commit(df, epoch, publish=True):
        return store2.commit(
            df.withColumn(BUCKET_COL, bucket_expr(store2.n_buckets)),
            list(range(store2.n_buckets)), [], epoch=epoch,
            row_schema=ROW_SCHEMA, publish=publish,
        )

    def _corpus(n, tag):
        return spark.range(n).select(
            F.lit("corpus").alias("repo"),
            F.col("id").cast("string").alias("path"),
            F.lit(tag).alias("commit"),
            F.lit("py").alias("lang"),
            F.concat(F.lit("body "), F.col("id")).alias("content"),
        )

    _commit(_corpus(20, "c0"), 1)
    _commit(_corpus(30, "c1"), 2)
    _commit(_corpus(10, "c2"), 3, publish=False)
    with pytest.raises(ValueError, match="staged"):
        store2.restore(1)
    store2.abort_staged()
    assert store2.restore(1) == store2.current_version()
    assert store2.read_state(spark).count() == 20


def test_restore_compensating_diff_keeps_incremental_index_consistent(
    spark, tmp_path
):
    """A derived incremental index tailing the table's changefeed sees a
    restore as ONE compensating change set and converges to full-recompute
    parity over the RESTORED state — no rebuild, no special-casing."""
    from test_dedup_incremental import (
        BASE,
        _env,
        _pairs_set,
        _state_docs,
    )

    from kp_data_replication_spark.operators.dedup_docs import minhash_lsh_pairs
    from kp_data_replication_spark.operators.dedup_incremental import (
        IncrementalDedupIndex,
    )
    from kp_data_replication_spark.schema import CHANGELOG_SCHEMA

    src = TableStore(str(tmp_path / "src"), n_buckets=4)
    engine = CdcApplyEngine(src, EngineConfig(metrics=False))
    index = IncrementalDedupIndex(str(tmp_path / "idx"), n_buckets=4)

    batches = [
        [_env(d, "c", BASE[d], lsn=d) for d in (0, 1, 2, 3, 12)],
        [_env(10, "c", BASE[10], lsn=100), _env(11, "c", BASE[11], lsn=101),
         _env(2, "u", BASE[0] + " now a copy of doc zero text", lsn=102)],
        [_env(10, "d", BASE[10], lsn=200),
         _env(1, "u", "entirely new text sharing nothing with doc zero",
              lsn=201)],
    ]
    for i, b in enumerate(batches):
        engine.apply_batch(spark.createDataFrame(b, CHANGELOG_SCHEMA), i)
        index.update(spark, src)

    # restore to v2 (after epoch 1): doc 10 reappears, doc 1 reverts to
    # its near-dup-of-0 text — the index must follow through the
    # changefeed alone
    src.restore(2)
    out = index.update(spark, src)
    assert out["status"] == "committed"

    full = _pairs_set(minhash_lsh_pairs(_state_docs(spark, src)).collect())
    inc = _pairs_set(index.all_pairs(spark).collect(), incremental=True)
    assert inc == full and any({a, b} == {0, 1} for a, b, _ in inc)
    assert any({a, b} == {10, 11} for a, b, _ in inc)
