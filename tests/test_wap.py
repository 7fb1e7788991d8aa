"""Write-audit-publish (Iceberg WAP analogue): stage a version without
moving the pointer, audit the exact staged bytes, publish with one swap
or abort without a trace."""

from __future__ import annotations

import hashlib
import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kp_data_replication_spark.schema import LWW_DELETED_COL, LWW_TS_COL, ROW_SCHEMA
from kp_data_replication_spark.sources.fsck import fsck
from kp_data_replication_spark.sources.table_store import (
    BUCKET_COL,
    ConcurrentWriteError,
    TableStore,
    bucket_expr,
)

_LWW_SCHEMA = T.StructType(
    ROW_SCHEMA.fields
    + [
        T.StructField(LWW_TS_COL, T.LongType()),
        T.StructField(LWW_DELETED_COL, T.BooleanType()),
    ]
)


def _corpus(spark, n, tag="c0"):
    return spark.range(n).select(
        F.lit("corpus").alias("repo"),
        F.col("id").cast("string").alias("path"),
        F.lit(tag).alias("commit"),
        F.lit("en").alias("lang"),
        F.concat(F.lit("body "), F.col("id").cast("string")).alias("content"),
    )


def _commit(store, df, epoch, publish=True, schema=ROW_SCHEMA):
    return store.commit(
        df.withColumn(BUCKET_COL, bucket_expr(store.n_buckets)),
        list(range(store.n_buckets)),
        [],
        epoch=epoch,
        row_schema=schema,
        publish=publish,
    )


def test_wap_stage_audit_publish(spark, tmp_path):
    store = TableStore(str(tmp_path / "t"), n_buckets=4)
    _commit(store, _corpus(spark, 50), 1)
    v1 = store.current_version()

    sv = _commit(store, _corpus(spark, 80, tag="c1"), 2, publish=False)
    # readers are untouched: the pointer still serves v1
    assert store.current_version() == v1
    assert store.read_state(spark).count() == 50
    assert store.staged_version() == sv

    # the audit reads the exact staged bytes
    staged = store.read_staged(spark)
    assert staged.count() == 80
    assert staged.filter(F.col("commit") == "c1").count() == 80

    # audit passed -> one pointer swap exposes those bytes
    assert store.publish_staged() == sv
    assert store.current_version() == sv
    assert store.read_state(spark).count() == 80
    assert store.staged_version() is None


def test_wap_abort_leaves_no_trace_and_allows_recommit(spark, tmp_path):
    store = TableStore(str(tmp_path / "t"), n_buckets=4)
    _commit(store, _corpus(spark, 30), 1)
    v1 = store.current_version()

    _commit(store, _corpus(spark, 10, tag="bad"), 2, publish=False)
    store.abort_staged()
    assert store.staged_version() is None
    assert store.current_version() == v1
    with pytest.raises(FileNotFoundError):
        store.manifest(v1 + 1)  # staged manifest gone

    # the SAME epoch re-commits the corrected batch (the writer map never
    # activated for the aborted stage)
    _commit(store, _corpus(spark, 40, tag="fixed"), 2)
    assert store.read_state(spark).count() == 40
    assert store.read_state(spark).filter(F.col("commit") == "fixed").count() == 40


def _lww_corpus(spark, n, tag):
    """``n`` live rows plus 10 tombstones stamped long ago (LWW layout)."""
    live = _corpus(spark, n, tag).select(
        "*",
        F.lit(2_000).cast("long").alias(LWW_TS_COL),
        F.lit(False).alias(LWW_DELETED_COL),
    )
    dead = spark.range(10).select(
        F.lit("corpus").alias("repo"),
        F.concat(F.lit("gone-"), F.col("id").cast("string")).alias("path"),
        *[F.lit(None).cast("string").alias(c) for c in ("commit", "lang", "content")],
        F.lit(1_000).cast("long").alias(LWW_TS_COL),
        F.lit(True).alias(LWW_DELETED_COL),
    )
    return live.unionByName(dead)


def _tree(root):
    """{relpath: sha256} of every file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


# every method that advances (or, for vacuum, garbage-collects around) a
# version, each with arguments that give it real work — a no-op call
# returns before it would ever reach the staged-version guard
_WRITERS = {
    "commit": lambda spark, s: _commit(s, _lww_corpus(spark, 30, "c3"), 4, schema=_LWW_SCHEMA),
    "rewrite_buckets": lambda spark, s: s.rewrite_buckets(
        spark, min_files=0, buckets=list(range(s.n_buckets))),
    "rebucket": lambda spark, s: s.rebucket(spark, 2 * s.n_buckets),
    "purge_tombstones": lambda spark, s: s.purge_tombstones(
        spark, older_than_ms=0, now_ms=10**15),
    "restore": lambda spark, s: s.restore(1),
    "forget_keys": lambda spark, s: s.forget_keys(spark, keys=[("corpus", "0")]),
    "vacuum": lambda spark, s: s.vacuum(keep_versions=1),
}

# what each writer leaves on top of the published v3 (80 audited live rows
# + 10 old tombstones): (live rows, their ``commit`` tag, rows incl. tombstones)
_AFTER = {
    "commit": (30, "c3", 40),
    "forget_keys": (79, "audited", 89),
    "purge_tombstones": (80, "audited", 80),
    "rebucket": (80, "audited", 90),
    "restore": (50, "c1", 60),
    "rewrite_buckets": (80, "audited", 90),
    "vacuum": (80, "audited", 90),
}


@pytest.mark.parametrize("writer", sorted(_WRITERS))
def test_wap_pending_blocks_commit_and_vacuum(spark, tmp_path, writer):
    """While a staged version is pending, every writer refuses — none may
    take the staged version's number and overwrite its audited data."""
    store = TableStore(str(tmp_path / "t"), n_buckets=4)
    _commit(store, _lww_corpus(spark, 50, "c1"), 1, schema=_LWW_SCHEMA)
    _commit(store, _lww_corpus(spark, 50, "c2"), 2, schema=_LWW_SCHEMA)
    sv = _commit(
        store, _lww_corpus(spark, 80, "audited"), 3, publish=False,
        schema=_LWW_SCHEMA,
    )
    staged_dir = os.path.join(store.root, "data", f"v{sv}")
    staged_files = _tree(staged_dir)
    assert staged_files

    with pytest.raises(ValueError, match="staged"):
        _WRITERS[writer](spark, store)

    assert _tree(staged_dir) == staged_files
    assert store.staged_version() == sv == store.current_version() + 1
    # the audited bytes are the published bytes
    assert store.publish_staged() == sv
    got = store.read_state(spark)
    assert got.count() == 80
    assert got.filter(F.col("commit") == "audited").count() == 80
    assert _tree(staged_dir) == staged_files

    # publish unblocks the writer, and what it then publishes on top of the
    # audited version is what it computed
    _WRITERS[writer](spark, store)
    live, tag, total = _AFTER[writer]
    assert store.current_version() == (sv if writer == "vacuum" else sv + 1)
    got = store.read_state(spark)
    assert got.count() == got.filter(F.col("commit") == tag).count() == live
    assert store.read_state(spark, include_deleted=True).count() == total
    assert fsck(store)["errors"] == []


def test_publish_refuses_a_marker_at_or_below_the_head(spark, tmp_path):
    """A staged marker that no longer names the version after the head
    (a table damaged by an overwrite of its staged version) is refused,
    not re-pointed; aborting it drops only the marker."""
    store = TableStore(str(tmp_path / "t"), n_buckets=4)
    _commit(store, _corpus(spark, 20), 1)
    v2 = _commit(store, _corpus(spark, 30, tag="c1"), 2)
    with open(os.path.join(store.root, "_staged"), "w") as f:
        json.dump({"version": v2}, f)

    with pytest.raises(ConcurrentWriteError):
        store.publish_staged()
    assert store.abort_staged() == {"aborted_version": v2}
    assert store.staged_version() is None
    assert store.current_version() == v2
    assert store.read_state(spark).count() == 30


def test_wap_time_travel_and_changefeed_after_publish(spark, tmp_path):
    """A published staged version behaves like any committed version:
    time travel reaches the pre-publish state, the changefeed diffs
    across the publish."""
    from kp_data_replication_spark.operators.changefeed import table_changes

    store = TableStore(str(tmp_path / "t"), n_buckets=4)
    _commit(store, _corpus(spark, 20), 1)
    v1 = store.current_version()
    _commit(store, _corpus(spark, 20, tag="c1"), 2, publish=False)
    v2 = store.publish_staged()

    assert store.read_state(spark, version=v1).filter(
        F.col("commit") == "c0").count() == 20
    ch = table_changes(spark, store, v1, v2)
    assert ch.count() == 20  # every row's commit column changed
