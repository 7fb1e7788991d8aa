"""Time/predicate-based row expiry — the ``retention.ms`` analogue.

The reference provisions its replicated topics with a retention window
(``retention.ms: 7200000``, provisioning.md:188): records older than the
window leave the topic. The lake analogue is ROW EXPIRY on the applied
table: rows matching a retention predicate are removed by a maintenance
commit. Unlike Kafka — where each cluster's log expires independently
and invisibly — this engine's downstream state (cascades to other
replicas, dedup/ANN indexes, aggregate and join views) is maintained
from the CHANGEFEED, so expiry must surface as ordinary deletes in the
version diff: every consumer then retracts the expired rows' contributions
exactly like any other delete, and derived state never silently diverges
from its base. (A Kafka-style replica-local expiry would break exactly
the consumers this engine's incremental machinery exists to serve; if
two replicas both run the same deterministic retention rule, each one's
expiry cascades as a no-op upsert/delete of already-absent keys.)

Scale shape (100 TB table): the expiry predicate is the same conjunct
spec as the predicate-pruned scan, so candidate files are chosen from
MANIFEST ZONEMAPS alone — a file whose [min,max] bounds prove no row can
match is never opened, never rewritten. On a table whose layout clusters
the retention timestamp (``rewrite_buckets(cluster_by=[ts_col])`` — the
natural layout for append-mostly event tables, where file min/max on
event time is tight even unclustered), an expiry pass touches only the
files that actually hold the expiring prefix: O(expired), not O(table).

LWW tables: persisted tombstone rows carry null data columns, so a
predicate over data columns evaluates NULL and they are KEPT — conflict
stamps survive an expiry pass untouched. Live rows that expire are
removed outright; choose a retention window longer than the redelivery
horizon (the same contract Kafka's retention has with producer retries).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.table_store import (
    BUCKET_COL,
    TableStore,
    _file_may_match,
    bucket_expr,
    where_column,
)


def candidate_buckets(store: TableStore, where: list[tuple]) -> list[int]:
    """Buckets that MAY hold matching rows, from manifest zonemaps alone
    (no file opened): a bucket is a candidate if any of its files'
    [min,max,null_count] bounds admit the conjuncts — merge-on-read
    layered buckets are always candidates (delta layers are not pruned,
    same rule as the predicate-pruned scan)."""
    m = store.current_manifest()
    if m is None:
        return []
    mor_map: dict[str, int] = m.get("mor") or {}
    stats = m.get("stats") or {}
    out = []
    for b, files in m["buckets"].items():
        if mor_map.get(b) or any(
            _file_may_match(stats.get(p), where) for p in files
        ):
            out.append(int(b))
    return sorted(out)


def expire_rows(
    spark: SparkSession,
    store: TableStore,
    where: list[tuple],
    writer_id: str = "retention",
) -> dict:
    """Remove every live row matching ``where`` (the ``read_state(where=)``
    conjunct spec: ``[(col, op, value), ...]``, op in ``=,<,<=,>,>=,prefix``)
    in ONE maintenance commit whose version diff — and persisted change
    file — shows the expired rows as deletes.

    NULL predicate results keep the row (a row whose retention column is
    null never expires — ANSI semantics, and what protects LWW tombstone
    stamp rows). Optimistic concurrency: the commit carries
    ``expected_version``; a concurrent writer raises
    ``ConcurrentWriteError`` — re-run the pass.

    Returns ``{"status", "n_expired", "buckets_scanned", "files_skipped"}``.
    """
    import os

    head = store.current_version()
    if head == 0:
        return {"status": "noop", "n_expired": 0, "buckets_scanned": 0,
                "files_skipped": 0}
    m = store.current_manifest()
    stats = m.get("stats") or {}
    mor_map: dict[str, int] = m.get("mor") or {}
    schema = T.StructType.fromJson(m["schema"])

    # FILE-level split: within a dirty bucket, only MAY-MATCH files are
    # read and rewritten — proven-clean files are carried by reference
    # (commit(retain=)), never opened. This is what makes expiry
    # O(expired) even though bucket assignment is key-hash (a time-based
    # predicate touches every bucket, but only each bucket's old files).
    rewrite: dict[int, list[str]] = {}
    retain: dict[int, list[str]] = {}
    mor_buckets: list[int] = []
    files_skipped = 0
    for b, files in m["buckets"].items():
        if mor_map.get(b):
            if files:
                mor_buckets.append(int(b))  # layered: resolve + rewrite whole
            continue
        may = [f for f in files if _file_may_match(stats.get(f), where)]
        if may:
            rewrite[int(b)] = may
            clean = [f for f in files if f not in set(may)]
            retain[int(b)] = clean
            files_skipped += len(clean)
        else:
            files_skipped += len(files)
    if not rewrite and not mor_buckets:
        return {"status": "noop", "n_expired": 0, "buckets_scanned": 0,
                "files_skipped": files_skipped}

    # LWW stamp tombstones ride through the rewrite unchanged (their null
    # data columns make the predicate NULL -> kept); old files missing
    # later-evolved columns are null-padded by the explicit manifest
    # schema, exactly like read_state
    frames = []
    if rewrite:
        paths = [
            os.path.join(store.root, f)
            for fs in rewrite.values()
            for f in fs
        ]
        frames.append(spark.read.schema(schema).parquet(*paths))
    if mor_buckets:
        frames.append(
            store.read_state(spark, buckets=mor_buckets, include_deleted=True)
        )
    slice_ = frames[0]
    for fr in frames[1:]:
        slice_ = slice_.unionByName(fr, allowMissingColumns=True)

    cand = sorted([*rewrite, *mor_buckets])
    pred = F.coalesce(where_column(where), F.lit(False))
    expired = slice_.filter(pred)
    n_expired = expired.count()
    if n_expired == 0:
        return {"status": "noop", "n_expired": 0,
                "buckets_scanned": len(cand),
                "files_skipped": files_skipped}
    keep = slice_.filter(~pred)

    row_schema = T.StructType(slice_.schema.fields)
    store.commit(
        keep.withColumn(BUCKET_COL, bucket_expr(store.n_buckets)),
        cand,
        [],
        # maintenance epochs fence on the version they produce: replaying
        # the same pass against the same head is a no-op, and later passes
        # (larger head) stay monotone under the same writer id
        head + 1,
        row_schema,
        writer_id=writer_id,
        expected_version=head,
        retain={b: fs for b, fs in retain.items() if fs},
    )
    return {
        "status": "committed",
        "n_expired": int(n_expired),
        "buckets_scanned": len(cand),
        "files_skipped": files_skipped,
        "version": store.current_version(),
    }
