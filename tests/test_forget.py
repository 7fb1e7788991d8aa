"""TableStore.forget_keys: right-to-be-forgotten / repo-takedown scrub
across the LIVE state and ALL retained history (the GDPR Article-17 op
vacuum+time-travel makes necessary: expiring versions is not deleting a
key that lives in versions you keep).

The hard property tested here is PHYSICAL absence: after the call, no
parquet file anywhere under the table root — data, MoR layers, change
files — contains the key, at any retained version, while every other
row's bytes are untouched and the changefeed/cascade machinery sees the
live deletes as a normal version.
"""

from __future__ import annotations

import hashlib
import json
import os

import pytest
from pyspark.sql import functions as F

from kp_data_replication_spark.datagen import ChangelogSpec, write_changelog
from kp_data_replication_spark.operators.changefeed import cascade_catchup
from kp_data_replication_spark.sources.table_store import TableStore
from kp_data_replication_spark.streaming.apply import CdcApplyEngine, EngineConfig


def _sha_state(spark, store, **kw):
    return sorted(
        hashlib.sha256(
            f"{r['repo']}|{r['path']}|{r['content']}".encode()
        ).hexdigest()
        for r in store.read_state(spark, **kw).collect()
    )


def _build(spark, tmp_path, name="t", **eng_kw):
    d = str(tmp_path / f"cl_{name}")
    write_changelog(
        spark, d,
        ChangelogSpec(n_keys=60, versions_per_key=3, n_partitions=2,
                      files=4, dup_every=0),
    )
    store = TableStore(str(tmp_path / name), n_buckets=4)
    engine = CdcApplyEngine(store, EngineConfig(metrics=False, **eng_kw))
    batches = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
    for i, f in enumerate(batches):
        engine.apply_batch(
            spark.read.option("mergeSchema", "true").parquet(f"{d}/{f}"), i
        )
    return store, engine


def _physical_hits(spark, root, pred_cols):
    """Count rows matching the key predicate in EVERY parquet file under
    the table root (data + changes), read raw — the compliance check.
    Key-only delete-marker files are exempt by design: the identifier
    survives (the Kafka tombstone convention), the payload must not."""
    files = []
    for sub in ("data", "changes"):
        base = os.path.join(root, sub)
        for dirpath, _, fs in os.walk(base):
            if "forget_deletes" in dirpath:
                continue
            files += [
                os.path.join(dirpath, f) for f in fs
                if f.endswith(".parquet") and not f.startswith(".")
            ]
    if not files:
        return 0
    df = spark.read.schema("repo STRING, path STRING").parquet(*files)
    return df.filter(pred_cols).count()


def _pick_keys(spark, store):
    """One key still live at head, one key whose last op was a delete
    (history-only presence)."""
    live = store.read_state(spark).select("repo", "path").first()
    all_hist = {
        (r["repo"], r["path"])
        for r in store.read_state(spark, version=2)
        .select("repo", "path").collect()
    }
    head = {
        (r["repo"], r["path"])
        for r in store.read_state(spark).select("repo", "path").collect()
    }
    gone = sorted(all_hist - head)
    assert gone, "fixture needs a key that died before head"
    return (live["repo"], live["path"]), gone[0]


def test_forget_scrubs_live_and_history_keeps_everything_else(
    spark, tmp_path
):
    store, _ = _build(spark, tmp_path)
    (lr, lp), (gr, gp) = _pick_keys(spark, store)
    keys = [(lr, lp), (gr, gp)]
    pred = ((F.col("repo") == lr) & (F.col("path") == lp)) | (
        (F.col("repo") == gr) & (F.col("path") == gp)
    )
    assert _physical_hits(spark, store.root, pred) > 0
    head = store.current_version()
    keep_head = {
        (r["repo"], r["path"]): r["content"]
        for r in store.read_state(spark).collect()
        if (r["repo"], r["path"]) not in keys
    }
    keep_v2 = {
        (r["repo"], r["path"]): r["content"]
        for r in store.read_state(spark, version=2).collect()
        if (r["repo"], r["path"]) not in keys
    }

    out = store.forget_keys(spark, keys=keys)
    assert out["live_deleted"] >= 1
    assert out["files_rewritten"] >= 1 and out["rows_removed"] >= 1
    assert store.current_version() == head + 1

    # physical absence everywhere under the root
    assert _physical_hits(spark, store.root, pred) == 0
    # live state: only the forgotten live key is gone, byte-for-byte
    now = {
        (r["repo"], r["path"]): r["content"]
        for r in store.read_state(spark).collect()
    }
    assert now == keep_head
    assert (lr, lp) not in now and (gr, gp) not in now
    # every retained version still reads, minus exactly the forgotten keys
    v2 = {
        (r["repo"], r["path"]): r["content"]
        for r in store.read_state(spark, version=2).collect()
    }
    assert v2 == keep_v2
    # audit trail
    lines = open(os.path.join(store.root, "_redactions.jsonl")).readlines()
    assert json.loads(lines[-1])["rows_removed"] == out["rows_removed"]
    # idempotent re-run: nothing left to do
    again = store.forget_keys(spark, keys=keys)
    assert again["live_deleted"] == 0 and again["files_rewritten"] == 0
    # vacuum afterwards: no live file lost, orphan-free walk still works
    store.vacuum(keep_versions=2)
    assert (lr, lp) not in {
        (r["repo"], r["path"]) for r in
        store.read_state(spark).select("repo", "path").collect()
    }


def test_forget_repo_takedown_and_cascade_propagation(spark, tmp_path):
    src, _ = _build(spark, tmp_path, name="src")
    dst = TableStore(str(tmp_path / "dst"), n_buckets=4)
    dst_engine = CdcApplyEngine(dst, EngineConfig(metrics=False))
    cascade_catchup(spark, src, dst_engine, n_partitions=2)

    # take down the busiest repo entirely
    repo = (
        src.read_state(spark).groupBy("repo").count()
        .orderBy(F.desc("count")).first()["repo"]
    )
    out = src.forget_keys(spark, repos=[repo])
    assert out["live_deleted"] > 0
    assert _physical_hits(spark, src.root, F.col("repo") == repo) == 0

    # the head delete commit is a NORMAL version: the tailing replica
    # applies the deletes and its live state converges
    cascade_catchup(spark, src, dst_engine, n_partitions=2)
    assert dst.read_state(spark).filter(F.col("repo") == repo).count() == 0
    assert _sha_state(spark, dst) == _sha_state(spark, src)
    # ...but the replica's HISTORY still holds the repo until it scrubs
    # itself (documented per-replica duty, like purge_tombstones)
    assert _physical_hits(spark, dst.root, F.col("repo") == repo) > 0
    dst.forget_keys(spark, repos=[repo])
    assert _physical_hits(spark, dst.root, F.col("repo") == repo) == 0


def test_forget_under_merge_on_read_layers(spark, tmp_path):
    store, engine = _build(spark, tmp_path, table_mode="mor")
    assert store.current_manifest().get("mor"), "fixture should be layered"
    (lr, lp), (gr, gp) = _pick_keys(spark, store)
    pred = ((F.col("repo") == lr) & (F.col("path") == lp)) | (
        (F.col("repo") == gr) & (F.col("path") == gp)
    )
    keep = {
        (r["repo"], r["path"]): r["content"]
        for r in store.read_state(spark).collect()
        if (r["repo"], r["path"]) not in {(lr, lp), (gr, gp)}
    }
    out = store.forget_keys(spark, keys=[(lr, lp), (gr, gp)])
    assert out["rows_removed"] + out["live_deleted"] > 0
    # base layers under the head that only SHADOWED the key are scrubbed
    assert _physical_hits(spark, store.root, pred) == 0
    # every surviving row byte-identical; the forgotten keys gone
    now = {
        (r["repo"], r["path"]): r["content"]
        for r in store.read_state(spark).collect()
    }
    assert now == keep


def test_forget_guards(spark, tmp_path):
    store, _ = _build(spark, tmp_path)
    with pytest.raises(ValueError, match="pass keys"):
        store.forget_keys(spark)
    clone_dir = str(tmp_path / "cl0")
    store.clone(clone_dir)
    key = store.read_state(spark).select("repo", "path").first()
    with pytest.raises(ValueError, match="clones"):
        store.forget_keys(spark, keys=[(key["repo"], key["path"])])
    # force proceeds; borrowed refs in the clone are left intact
    out = store.forget_keys(
        spark, keys=[(key["repo"], key["path"])], force=True
    )
    assert out["live_deleted"] >= 1


def test_forget_flows_to_incremental_index_and_cdf_refuses(spark, tmp_path):
    """The dedup index (key-level retraction via table_changes) converges
    across a forget through the delete markers; the full-CDF retraction
    feed refuses the range because the pre-images it needs are scrubbed."""
    from test_dedup_incremental import BASE, _env, _pairs_set, _state_docs

    from kp_data_replication_spark.operators.changefeed import (
        table_changes_cdf,
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
        [_env(10, "c", BASE[10], lsn=100), _env(11, "c", BASE[11], lsn=101)],
    ]
    for i, b in enumerate(batches):
        engine.apply_batch(spark.createDataFrame(b, CHANGELOG_SCHEMA), i)
        index.update(spark, src)
    pre = _pairs_set(index.all_pairs(spark).collect(), incremental=True)
    assert any({a, b} == {0, 1} for a, b, _ in pre)

    v_before = src.current_version()
    src.forget_keys(spark, keys=[("corpus", "0"), ("corpus", "10")])
    out = index.update(spark, src)
    assert out["status"] == "committed"
    full = _pairs_set(minhash_lsh_pairs(_state_docs(spark, src)).collect())
    inc = _pairs_set(index.all_pairs(spark).collect(), incremental=True)
    assert inc == full
    assert not any(0 in (a, b) or 10 in (a, b) for a, b, _ in inc)

    # the retraction feed is honest about what it cannot express
    with pytest.raises(ValueError, match="redaction"):
        table_changes_cdf(spark, src, v_before).collect()


def test_forget_between_stream_runs_keeps_table_and_index_consistent(
    spark, tmp_path
):
    """Operator-invoked forget between two runs of the SAME stream: the
    resumed stream keeps applying from its checkpoint, and the
    streaming-integrated dedup index catches up ACROSS the forget version
    through the delete markers — no rebuild, full parity, and the key
    stays physically absent."""
    import glob
    import shutil

    from test_dedup_incremental import BASE, _env, _pairs_set, _state_docs

    from kp_data_replication_spark.operators.dedup_docs import minhash_lsh_pairs
    from kp_data_replication_spark.operators.dedup_incremental import (
        IncrementalDedupIndex,
    )
    from kp_data_replication_spark.schema import CHANGELOG_SCHEMA

    def parity(src, index):
        # normalize pair order: the index sorts STRING paths, the
        # recompute sorts numeric doc ids — same pairs either way
        full = {
            (min(a, b), max(a, b), n) for a, b, n in
            _pairs_set(minhash_lsh_pairs(_state_docs(spark, src)).collect())
        }
        inc = {
            (min(a, b), max(a, b), n) for a, b, n in
            _pairs_set(index.all_pairs(spark).collect(), incremental=True)
        }
        assert inc == full, (sorted(inc), sorted(full))
        return inc

    cl = tmp_path / "cl"
    cl.mkdir()
    src = TableStore(str(tmp_path / "src"), n_buckets=4)
    cp = str(tmp_path / "cp")
    idx_dir = str(tmp_path / "idx")
    engine = CdcApplyEngine(src, EngineConfig(metrics=False))
    index = IncrementalDedupIndex(idx_dir, n_buckets=4)

    def put(name, rows):
        tmp = str(tmp_path / ("_w_" + name))
        spark.createDataFrame(rows, CHANGELOG_SCHEMA).coalesce(1).write.mode(
            "overwrite").parquet(tmp)
        shutil.move(glob.glob(tmp + "/part-*.parquet")[0],
                    str(cl / (name + ".parquet")))

    put("f0", [_env(d, "c", BASE[d], lsn=d) for d in (0, 1, 2, 3)])
    put("f1", [_env(10, "c", BASE[10], lsn=100),
               _env(11, "c", BASE[11], lsn=101)])
    q = engine.start_stream(spark, str(cl), cp, CHANGELOG_SCHEMA,
                            max_files_per_trigger=1,
                            derived=[index.update])
    q.awaitTermination()
    parity(src, index)

    # operator compliance action while the stream is down; the index is
    # now BEHIND the table (forget committed a new version)
    src.forget_keys(spark, keys=[("corpus", "1")])
    assert _physical_hits(
        spark, src.root,
        (F.col("repo") == "corpus") & (F.col("path") == "1"),
    ) == 0

    # resume with new upstream events for OTHER docs: the stream applies
    # them and the index crosses the forget version via the markers
    put("f2", [_env(2, "u", BASE[10] + " drifted toward ten", lsn=200)])
    q = engine.start_stream(spark, str(cl), cp, CHANGELOG_SCHEMA,
                            max_files_per_trigger=1,
                            derived=[index.update])
    q.awaitTermination()
    pairs = parity(src, index)
    live = {r["path"] for r in src.read_state(spark).collect()}
    assert "1" not in live and "2" in live
    assert not any(1 in (a, b) for a, b, _ in pairs)


def test_forget_then_agg_view_rebuild_resumes_incremental(spark, tmp_path):
    """A full-CDF consumer (the incremental aggregate view) refuses the
    range crossing a forget; rebuild_derived_view rebuilds it from live
    state (from-zero cdf = all inserts, no scrubbed pre-image needed) and
    subsequent updates resume incrementally past the redaction."""
    from test_agg_view import MEASURES, _assert_parity, _env

    from kp_data_replication_spark.operators.agg_view import IncrementalAggView
    from kp_data_replication_spark.operators.changefeed import (
        rebuild_derived_view,
    )
    from kp_data_replication_spark.schema import CHANGELOG_SCHEMA

    src = TableStore(str(tmp_path / "src"), n_buckets=4)
    engine = CdcApplyEngine(src, EngineConfig(metrics=False))
    view = IncrementalAggView(
        str(tmp_path / "view"), ["lang"], MEASURES, n_buckets=4
    )
    b0 = [
        _env(0, "c", "tiny!", "en", 0),
        _env(1, "c", "medium words", "en", 1),
        _env(2, "c", "bonjour", "fr", 2),
    ]
    b1 = [_env(3, "c", "the longest english row of them all", "en", 10)]
    engine.apply_batch(spark.createDataFrame(b0, CHANGELOG_SCHEMA), 0)
    view.update(spark, src)
    engine.apply_batch(spark.createDataFrame(b1, CHANGELOG_SCHEMA), 1)
    view.update(spark, src)
    _assert_parity(spark, src, view)

    src.forget_keys(spark, keys=[("corpus", "0")])
    with pytest.raises(ValueError, match="redaction"):
        view.update(spark, src)
    rebuild_derived_view(spark, view, src)
    _assert_parity(spark, src, view)  # en min is no longer doc 0's 5

    # incremental maintenance resumes past the redaction
    b2 = [_env(4, "c", "salut", "fr", 20), _env(1, "d", None, "en", 21)]
    engine.apply_batch(spark.createDataFrame(b2, CHANGELOG_SCHEMA), 2)
    out = view.update(spark, src)
    assert out["status"] == "committed"
    _assert_parity(spark, src, view)


def test_second_forget_merges_markers_and_stays_idempotent(spark, tmp_path):
    """A second forget at the same head (its key is already gone from live
    state, so it commits no new version) merges its keys into the first
    one's delete-marker set; both keys are physically gone, every retained
    version still reads, and a third pass over the same keys is a no-op."""
    store, _ = _build(spark, tmp_path)
    (lr, lp), (gr, gp) = _pick_keys(spark, store)

    store.forget_keys(spark, keys=[(lr, lp)])
    store.forget_keys(spark, keys=[(gr, gp)])

    pred = ((F.col("repo") == lr) & (F.col("path") == lp)) | (
        (F.col("repo") == gr) & (F.col("path") == gp)
    )
    assert _physical_hits(spark, store.root, pred) == 0
    # merged marker carries BOTH keys; every retained version still reads
    marker = store.current_manifest()["forget_deletes"]
    mk = {
        (r["repo"], r["path"])
        for r in spark.read.parquet(
            os.path.join(store.root, marker)
        ).collect()
    }
    assert {(lr, lp), (gr, gp)} <= mk
    for v in store.versions():
        store.read_state(spark, version=v).count()
    # a third pass over the SAME keys stays a no-op that still succeeds
    out3 = store.forget_keys(spark, keys=[(lr, lp), (gr, gp)])
    assert out3["rows_removed"] == 0


def test_forget_nonmatching_keys_writes_no_marker(spark, tmp_path):
    """Keys that match nothing live, nothing in retained history, with no
    prior marker: no marker file, no forget_deletes flag — a zero-row
    redaction must not poison table_changes_cdf ranges forever."""
    from kp_data_replication_spark.operators.changefeed import (
        table_changes_cdf,
    )

    store, _ = _build(spark, tmp_path)
    head = store.current_version()
    out = store.forget_keys(spark, keys=[("no-such-repo", "no/such/path")])
    assert out["live_deleted"] == 0 and out["rows_removed"] == 0
    assert out["files_rewritten"] == 0
    assert store.current_version() == head  # no delete commit either
    assert "forget_deletes" not in store.current_manifest()
    # the retraction feed still serves ranges crossing the no-op
    assert table_changes_cdf(spark, store, 1, head).count() >= 0


def test_forget_markers_reject_custom_key_cols(spark, tmp_path):
    """Delete markers carry the table key (repo, path); a table_changes
    read with different key_cols crossing the redaction gets a clear
    refusal instead of an AnalysisException or wrong-key padding."""
    from kp_data_replication_spark.operators.changefeed import table_changes

    store, _ = _build(spark, tmp_path)
    k = store.read_state(spark).select("repo", "path").first()
    v_before = store.current_version()
    store.forget_keys(spark, keys=[(k["repo"], k["path"])])
    with pytest.raises(ValueError, match="table key"):
        table_changes(
            spark, store, 1, store.current_version(),
            key_cols=["repo"],
        ).collect()
    # the table-key read over the same range works
    assert table_changes(
        spark, store, 1, store.current_version()
    ).count() >= 0
    del v_before


def test_forget_markers_pass_fsck_and_survive_vacuum(spark, tmp_path):
    """The delete-marker file is first-class store metadata: fsck's
    linkage/orphan audit accepts it, vacuum's live-ref walk retains it
    while its version is retained, and the store stays fsck-clean after
    the expiry pass removes the scrubbed history's other artifacts."""
    from kp_data_replication_spark.sources.fsck import fsck

    store, _ = _build(spark, tmp_path)
    k = store.read_state(spark).select("repo", "path").first()
    store.forget_keys(spark, keys=[(k["repo"], k["path"])])
    marker = store.current_manifest()["forget_deletes"]
    assert marker.startswith("changes/forget_deletes_")
    assert fsck(store, spark=spark, deep=True)["ok"]
    store.vacuum(keep_versions=2)
    assert os.path.isdir(os.path.join(store.root, marker))
    assert fsck(store, spark=spark, deep=True)["ok"]
