"""LWW conflict stamps for bidirectional same-key writes (the round-2
documented limitation): concurrent conflicting writes to the SAME key on
two active/active replicas converge to one winner on BOTH sides instead of
flip-flopping per cascade round (reference active/active topology,
docs/consideration.md:29-35; the normal topology keeps each side
authoritative for its own keys — LWW is the extension for when it doesn't).

Total order: (_lww_ts, _lww_src) — origin event time, then origin cluster
id. Both replicas compare the same two stamps, pick the same winner, and
the losing application leaves the state byte-identical, so the next
cascade's state diff is empty and the topology drains."""

from __future__ import annotations

import hashlib
from datetime import datetime, timezone

from pyspark.sql import Row

from kp_data_replication_spark.operators.changefeed import cascade_catchup
from kp_data_replication_spark.schema import CHANGELOG_SCHEMA
from kp_data_replication_spark.sources.fsck import fsck
from kp_data_replication_spark.sources.table_store import TableStore
from kp_data_replication_spark.streaming.apply import (
    CdcApplyEngine,
    EngineConfig,
    final_state,
)


def _img(repo, path, content):
    return Row(repo=repo, path=path, commit="c0", lang="py", content=content)


def _ev(partition, lsn, op, after, ts):
    return Row(partition=partition, lsn=lsn, op=op,
               before=None if op != "d" else after,
               after=after if op != "d" else None,
               ts_ms=ts, headers=None, source_topic="repos")


def _ts(s):
    return datetime.strptime(s, "%Y-%m-%d %H:%M:%S").replace(tzinfo=timezone.utc)


def _sha_state(spark, store):
    return sorted(
        hashlib.sha256(f"{r['repo']}|{r['path']}|{r['content']}".encode()).hexdigest()
        for r in store.read_state(spark).collect()
    )


def _mk(tmp_path, name, cluster_id):
    store = TableStore(str(tmp_path / name), n_buckets=4)
    engine = CdcApplyEngine(
        store,
        EngineConfig(metrics=False, conflict_policy="lww", cluster_id=cluster_id),
    )
    return store, engine


def _drain(spark, a, eng_a, b, eng_b, rounds=6):
    history = []
    for _ in range(rounds):
        r1 = cascade_catchup(spark, a, eng_b, n_partitions=2)
        r2 = cascade_catchup(spark, b, eng_a, n_partitions=2)
        history.append((r1["applied_versions"], r2["applied_versions"]))
        if not r1["applied_versions"] and not r2["applied_versions"]:
            break
    return history


def test_bidirectional_concurrent_same_key_converges(spark, tmp_path):
    a, eng_a = _mk(tmp_path, "a", "a")
    b, eng_b = _mk(tmp_path, "b", "b")

    # CONCURRENT conflicting writes to the same key, plus a local-only key
    # each; A's write is EARLIER than B's -> B's image must win everywhere
    eng_a.apply_batch(spark.createDataFrame([
        _ev(0, 0, "c", _img("org/shared", "k.py", "K-from-A"), _ts("2026-01-01 00:00:00")),
        _ev(1, 0, "c", _img("org/a", "a.py", "A-local"), _ts("2026-01-01 00:00:01")),
    ], CHANGELOG_SCHEMA), 0)
    eng_b.apply_batch(spark.createDataFrame([
        _ev(0, 0, "c", _img("org/shared", "k.py", "K-from-B"), _ts("2026-01-01 00:00:05")),
        _ev(1, 0, "c", _img("org/b", "b.py", "B-local"), _ts("2026-01-01 00:00:02")),
    ], CHANGELOG_SCHEMA), 0)

    history = _drain(spark, a, eng_a, b, eng_b)
    # the topology DRAINED (the final round applied nothing) — without LWW
    # stamps the conflicting key flip-flops and rounds never go empty
    assert history[-1] == ([], [])

    assert _sha_state(spark, a) == _sha_state(spark, b)
    for store in (a, b):
        state = {r["path"]: r["content"] for r in store.read_state(spark).collect()}
        assert state == {
            "k.py": "K-from-B",   # later origin timestamp wins on BOTH sides
            "a.py": "A-local",
            "b.py": "B-local",
        }
        # the winner kept its ORIGIN stamp through the cascade
        stamps = {
            r["path"]: (r["_lww_ts"], r["_lww_src"])
            for r in store.read_state(spark).collect()
        }
        assert stamps["k.py"] == (
            int(_ts("2026-01-01 00:00:05").timestamp() * 1000), "b",
        )


def test_equal_timestamp_tie_breaks_by_cluster_id(spark, tmp_path):
    a, eng_a = _mk(tmp_path, "a", "a")
    b, eng_b = _mk(tmp_path, "b", "b")
    ts = _ts("2026-01-01 12:00:00")
    eng_a.apply_batch(spark.createDataFrame(
        [_ev(0, 0, "c", _img("org/shared", "k.py", "tie-A"), ts)], CHANGELOG_SCHEMA), 0)
    eng_b.apply_batch(spark.createDataFrame(
        [_ev(0, 0, "c", _img("org/shared", "k.py", "tie-B"), ts)], CHANGELOG_SCHEMA), 0)

    history = _drain(spark, a, eng_a, b, eng_b)
    assert history[-1] == ([], [])
    assert _sha_state(spark, a) == _sha_state(spark, b)
    for store in (a, b):
        state = {r["path"]: r["content"] for r in store.read_state(spark).collect()}
        # deterministic total order: higher cluster id wins the tie
        assert state == {"k.py": "tie-B"}


def test_lww_apply_order_independence(spark, tmp_path):
    """The CRDT register property behind bidirectional convergence: the
    SAME set of stamped writes applied in DIFFERENT orders (each replica's
    own log order, own lsn space) yields identical final state — winner
    per key = the max (ts, src) stamp, regardless of delivery order."""
    from pyspark.sql import types as T

    img_t = T.StructType([
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("commit", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("content", T.StringType()),
        # stamps ride in the image — these are cascade-delivered writes
        # whose ORIGIN stamp must survive re-application anywhere
        T.StructField("_lww_ts", T.LongType()),
        T.StructField("_lww_src", T.StringType()),
    ])
    schema = T.StructType([
        T.StructField("partition", T.IntegerType()),
        T.StructField("lsn", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("before", img_t),
        T.StructField("after", img_t),
        T.StructField("ts_ms", T.TimestampType()),
        T.StructField("headers", T.MapType(T.StringType(), T.StringType())),
        T.StructField("source_topic", T.StringType()),
    ])

    def w(path, content, ts, src):
        return Row(repo="org/r", path=path, commit="c0", lang="py",
                   content=content, _lww_ts=ts, _lww_src=src)

    # 6 writes, 3 keys, interleaved stamps from two origins
    writes = [
        w("k1.py", "k1-old", 100, "a"),
        w("k1.py", "k1-new", 200, "b"),
        w("k2.py", "k2-b", 150, "b"),
        w("k2.py", "k2-a", 150, "a"),   # tie -> src 'b' must win
        w("k3.py", "k3-only", 50, "a"),
        w("k3.py", "k3-late", 51, "a"),
    ]

    def env(write, lsn):
        return Row(partition=0, lsn=lsn, op="u", before=None, after=write,
                   ts_ms=None, headers=None, source_topic="repos")

    def apply_order(name, order):
        store = TableStore(str(tmp_path / name), n_buckets=4)
        engine = CdcApplyEngine(
            store, EngineConfig(metrics=False, conflict_policy="lww",
                                cluster_id=name)
        )
        # two batches, local lsn space of THIS replica's log
        half = len(order) // 2
        for epoch, chunk in enumerate((order[:half], order[half:])):
            batch = [env(writes[i], lsn) for lsn, i in enumerate(
                chunk, start=epoch * 100)]
            engine.apply_batch(spark.createDataFrame(batch, schema), epoch)
        return {
            r["path"]: (r["content"], r["_lww_ts"], r["_lww_src"])
            for r in store.read_state(spark).collect()
        }

    s1 = apply_order("x", [0, 1, 2, 3, 4, 5])
    s2 = apply_order("y", [5, 3, 1, 4, 2, 0])
    s3 = apply_order("z", [2, 0, 5, 1, 3, 4])
    # the in-batch hazard: same key twice in ONE batch with the LATER lsn
    # carrying the OLDER stamp — compaction must pick the stamp winner
    s4 = apply_order("w", [1, 0, 3, 2, 5, 4])
    assert s1 == s2 == s3 == s4
    assert s1["k1.py"] == ("k1-new", 200, "b")
    assert s1["k2.py"] == ("k2-b", 150, "b")   # tie broken by src
    assert s1["k3.py"] == ("k3-late", 51, "a")


def test_lww_losing_direct_write_leaves_newer_row(spark, tmp_path):
    """Single-replica sanity: under lww, a DIRECT ingest whose stamp is
    older than the stored row's loses at merge time (out-of-order backfill
    cannot clobber a newer image)."""
    store, engine = _mk(tmp_path, "t", "a")
    engine.apply_batch(spark.createDataFrame(
        [_ev(0, 0, "c", _img("org/r", "f.py", "new"), _ts("2026-06-01 00:00:00"))],
        CHANGELOG_SCHEMA), 0)
    # later lsn (passes the watermark dedup) but OLDER origin timestamp
    engine.apply_batch(spark.createDataFrame(
        [_ev(0, 1, "u", _img("org/r", "f.py", "stale-backfill"), _ts("2025-01-01 00:00:00"))],
        CHANGELOG_SCHEMA), 1)
    state = {r["path"]: r["content"] for r in store.read_state(spark).collect()}
    assert state == {"f.py": "new"}

    # source-wins default keeps CDC semantics: same sequence overwrites
    store2 = TableStore(str(tmp_path / "t2"), n_buckets=4)
    engine2 = CdcApplyEngine(store2, EngineConfig(metrics=False))
    engine2.apply_batch(spark.createDataFrame(
        [_ev(0, 0, "c", _img("org/r", "f.py", "new"), _ts("2026-06-01 00:00:00"))],
        CHANGELOG_SCHEMA), 0)
    engine2.apply_batch(spark.createDataFrame(
        [_ev(0, 1, "u", _img("org/r", "f.py", "stale-backfill"), _ts("2025-01-01 00:00:00"))],
        CHANGELOG_SCHEMA), 1)
    state2 = {r["path"]: r["content"] for r in store2.read_state(spark).collect()}
    assert state2 == {"f.py": "stale-backfill"}


def test_bidirectional_delete_vs_concurrent_update_delete_newer(spark, tmp_path):
    """The round-3 advisory scenario: a delete CONCURRENT with an update on
    the other replica. The delete's ORIGIN stamp must travel through the
    cascade (never a fabricated cascade-time stamp) and its tombstone must
    persist, so both replicas compare the same two stamps and converge —
    here the delete is newer, so the key dies everywhere."""
    a, eng_a = _mk(tmp_path, "a", "a")
    b, eng_b = _mk(tmp_path, "b", "b")
    img = _img("org/shared", "k.py", "v0")

    # seed the same row on both sides via a cascade round
    eng_a.apply_batch(spark.createDataFrame(
        [_ev(0, 0, "c", img, _ts("2026-01-01 00:00:00"))], CHANGELOG_SCHEMA), 0)
    _drain(spark, a, eng_a, b, eng_b)
    assert {r["path"] for r in b.read_state(spark).collect()} == {"k.py"}

    # CONCURRENT: A deletes at 00:02, B updates at 00:01 (update older)
    eng_a.apply_batch(spark.createDataFrame(
        [_ev(0, 1, "d", img, _ts("2026-01-01 00:02:00"))], CHANGELOG_SCHEMA), 1)
    eng_b.apply_batch(spark.createDataFrame(
        [_ev(0, 1, "u", _img("org/shared", "k.py", "B-concurrent"),
             _ts("2026-01-01 00:01:00"))], CHANGELOG_SCHEMA), 1)

    history = _drain(spark, a, eng_a, b, eng_b)
    assert history[-1] == ([], [])  # no delete/insert echo ping-pong

    del_ts = int(_ts("2026-01-01 00:02:00").timestamp() * 1000)
    for store in (a, b):
        # visible state: the key is deleted on BOTH replicas
        assert store.read_state(spark).filter("path = 'k.py'").count() == 0
        # the tombstone persists with the DELETE'S OWN origin stamp
        raw = store.read_state(spark, include_deleted=True).filter(
            "path = 'k.py'").collect()
        assert len(raw) == 1
        r = raw[0]
        assert r["_lww_deleted"] is True
        assert (r["_lww_ts"], r["_lww_src"]) == (del_ts, "a")


def test_bidirectional_delete_vs_concurrent_update_update_newer(spark, tmp_path):
    """Mirror case: the concurrent update is NEWER than the delete — the
    update must win everywhere, resurrecting the row at the deleting
    replica with the update's origin stamp."""
    a, eng_a = _mk(tmp_path, "a", "a")
    b, eng_b = _mk(tmp_path, "b", "b")
    img = _img("org/shared", "k.py", "v0")

    eng_a.apply_batch(spark.createDataFrame(
        [_ev(0, 0, "c", img, _ts("2026-01-01 00:00:00"))], CHANGELOG_SCHEMA), 0)
    _drain(spark, a, eng_a, b, eng_b)

    # CONCURRENT: A deletes at 00:01, B updates at 00:02 (update newer)
    eng_a.apply_batch(spark.createDataFrame(
        [_ev(0, 1, "d", img, _ts("2026-01-01 00:01:00"))], CHANGELOG_SCHEMA), 1)
    eng_b.apply_batch(spark.createDataFrame(
        [_ev(0, 1, "u", _img("org/shared", "k.py", "B-wins"),
             _ts("2026-01-01 00:02:00"))], CHANGELOG_SCHEMA), 1)

    history = _drain(spark, a, eng_a, b, eng_b)
    assert history[-1] == ([], [])
    assert _sha_state(spark, a) == _sha_state(spark, b)

    upd_ts = int(_ts("2026-01-01 00:02:00").timestamp() * 1000)
    for store in (a, b):
        rows = {r["path"]: r for r in store.read_state(spark).collect()}
        assert rows["k.py"]["content"] == "B-wins"
        assert (rows["k.py"]["_lww_ts"], rows["k.py"]["_lww_src"]) == (upd_ts, "b")


def test_old_insert_redelivered_after_newer_delete_stays_deleted(spark, tmp_path):
    """The round-3 documented boundary, now a mechanism: a log re-delivering
    an arbitrarily old insert AFTER a newer delete (raw apply_batch, outside
    any monotone changefeed) must lose to the persisted tombstone instead of
    resurrecting the row."""
    store, engine = _mk(tmp_path, "t", "a")
    img = _img("org/r", "f.py", "alive")
    engine.apply_batch(spark.createDataFrame(
        [_ev(0, 0, "c", img, _ts("2026-01-01 00:00:00"))], CHANGELOG_SCHEMA), 0)
    engine.apply_batch(spark.createDataFrame(
        [_ev(0, 1, "d", img, _ts("2026-06-01 00:00:00"))], CHANGELOG_SCHEMA), 1)
    # fresh lsn (passes the watermark), arbitrarily old origin timestamp
    engine.apply_batch(spark.createDataFrame(
        [_ev(0, 2, "c", _img("org/r", "f.py", "zombie"),
             _ts("2025-01-01 00:00:00"))], CHANGELOG_SCHEMA), 2)

    assert store.read_state(spark).count() == 0  # still deleted
    raw = store.read_state(spark, include_deleted=True).collect()
    assert len(raw) == 1 and raw[0]["_lww_deleted"] is True
    assert raw[0]["_lww_ts"] == int(_ts("2026-06-01 00:00:00").timestamp() * 1000)


def test_purge_tombstones_gc_and_cascade_skip(spark, tmp_path):
    """Expired tombstones are GC'd by a flagged maintenance commit that
    cascades must SKIP (each replica purges on its own schedule; a purge
    re-emitted as deletes would re-create tombstones on a replica that
    already purged)."""
    from kp_data_replication_spark.operators.changefeed import table_changes

    a, eng_a = _mk(tmp_path, "a", "a")
    b, eng_b = _mk(tmp_path, "b", "b")
    img = _img("org/shared", "k.py", "v0")
    eng_a.apply_batch(spark.createDataFrame(
        [_ev(0, 0, "c", img, _ts("2026-01-01 00:00:00"))], CHANGELOG_SCHEMA), 0)
    _drain(spark, a, eng_a, b, eng_b)
    eng_a.apply_batch(spark.createDataFrame(
        [_ev(0, 1, "d", img, _ts("2026-01-01 01:00:00"))], CHANGELOG_SCHEMA), 1)
    _drain(spark, a, eng_a, b, eng_b)
    for store in (a, b):
        assert store.read_state(spark, include_deleted=True).filter(
            "_lww_deleted").count() == 1

    del_ts = int(_ts("2026-01-01 01:00:00").timestamp() * 1000)
    # not expired yet: retention window still open -> no-op
    res0 = a.purge_tombstones(spark, older_than_ms=3_600_000, now_ms=del_ts + 1000)
    assert res0["purged"] == 0
    # expired: tombstone physically removed
    res = a.purge_tombstones(spark, older_than_ms=3_600_000,
                             now_ms=del_ts + 7_200_000)
    assert res["purged"] == 1
    assert a.read_state(spark, include_deleted=True).count() == 0
    assert fsck(a)["errors"] == []

    # the purge version is excluded from cascades: B applies nothing, keeps
    # its own tombstone until IT purges
    r = cascade_catchup(spark, a, eng_b, n_partitions=2)
    assert r["applied_versions"] == []
    assert b.read_state(spark, include_deleted=True).filter(
        "_lww_deleted").count() == 1
    # ...but a direct changefeed read across the purge still reports the
    # physical removal (it is a real state transition for terminal readers)
    ch = table_changes(spark, a, res["version"] - 1, res["version"])
    assert [r["_change_type"] for r in ch.collect()] == ["delete"]

    b.purge_tombstones(spark, older_than_ms=3_600_000, now_ms=del_ts + 7_200_000)
    assert b.read_state(spark, include_deleted=True).count() == 0


def test_purge_tombstones_folds_mor_layers_of_rewritten_buckets(spark, tmp_path):
    """A purge rewrites whole buckets from their resolved read: the new
    base files hold every layer, so the manifest must drop those buckets'
    merge-on-read layer counts and record their new byte sizes."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from kp_data_replication_spark.schema import (
        LWW_DELETED_COL,
        LWW_TS_COL,
        MOR_DELETED_COL,
        MOR_V_COL,
        ROW_SCHEMA,
    )
    from kp_data_replication_spark.sources.table_store import BUCKET_COL, bucket_expr

    schema = T.StructType(ROW_SCHEMA.fields + [
        T.StructField(LWW_TS_COL, T.LongType()),
        T.StructField(LWW_DELETED_COL, T.BooleanType()),
    ])

    def rows(lo, hi):
        dead = F.col("id") % 4 == 0
        return spark.range(lo, hi).select(
            F.lit("org/m").alias("repo"),
            F.col("id").cast("string").alias("path"),
            F.lit("c0").alias("commit"),
            F.lit("py").alias("lang"),
            F.when(~dead, F.concat(F.lit("body "), F.col("id"))).alias("content"),
            F.lit(1_000).cast("long").alias(LWW_TS_COL),
            dead.alias(LWW_DELETED_COL),
        ).withColumn(BUCKET_COL, bucket_expr(4))

    store = TableStore(str(tmp_path / "m"), n_buckets=4)
    store.commit(rows(0, 40), [0, 1, 2, 3], [], epoch=1, row_schema=schema)
    delta = (
        rows(40, 60)
        .withColumn(MOR_V_COL, F.lit(2).cast("long"))
        .withColumn(MOR_DELETED_COL, F.lit(False))
    )
    store.commit(delta, [0, 1, 2, 3], [], epoch=2, row_schema=schema, mor=True)
    assert store.current_manifest()["mor"]

    res = store.purge_tombstones(spark, older_than_ms=0, now_ms=10**15)
    assert res["purged"] == 15
    m = store.current_manifest()
    assert res["buckets"]
    assert not {str(b) for b in res["buckets"]} & set(m.get("mor", {}))
    assert fsck(store)["errors"] == []
    assert store.read_state(spark, include_deleted=True).count() == 45
