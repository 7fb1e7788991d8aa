"""Incremental table reads: version-to-version changefeed + chained replication.

The reference's MirrorMaker topology composes: a mirrored topic is itself a
source for the next hop (docs/index.md:32-52 shows event-store -> local and
local -> event-store flows; mirror-maker-2/bi-directional runs two at once).
The lakehouse analogue is a CHANGEFEED: the target table can re-emit the
row-level changes between any two of its committed versions (Delta CDF /
Iceberg incremental-read semantics), so a downstream engine can tail this
table exactly like the upstream engine tails the changelog — replication
chains A -> B -> C without re-reading A's log.

Scale shape (100 TB):
  * `changed_buckets` prunes at the MANIFEST level — only buckets whose
    data-file lists differ between the two versions are read at all. A
    micro-batch commit touches few buckets, so an incremental read costs
    O(changed data), never O(table).
  * `diff_states` is a single full-outer join of two bucket-restricted
    states, both sides hash-partitioned on the same key columns — one
    shuffle each, no broadcast assumption (both sides can be large), no
    driver-side row handling.
  * unchanged rows inside a rewritten bucket (e.g. after a small-file
    `rewrite_buckets` maintenance pass) are dropped by a null-safe
    column comparison, so maintenance commits emit an EMPTY changefeed.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema import KEY_COLS
from ..sources.table_store import TableStore, bucket_expr

CHANGE_TYPE_COL = "_change_type"
VERSION_COL = "_commit_version"


def changed_buckets(store: TableStore, v_from: int, v_to: int) -> list[int]:
    """Buckets whose data-file lists differ between two committed versions.

    Pure manifest metadata — no data files are opened. This is the Iceberg
    incremental-read planning step: a version's manifest names exactly the
    files each bucket consists of, so identical file lists mean identical
    bucket contents (files are immutable, written once per commit attempt).
    """
    m_from = store.manifest(v_from)
    m_to = store.manifest(v_to)
    if m_to is None:
        raise ValueError(f"version {v_to} does not exist in {store.root}")
    b_from = (m_from or {}).get("buckets", {})
    b_to = m_to.get("buckets", {})
    out = set()
    for b in set(b_from) | set(b_to):
        if b_from.get(b, []) != b_to.get(b, []):
            out.add(int(b))
    return sorted(out)


def narrow_versions(store: TableStore, v_from: int, v_to: int) -> tuple[int, int]:
    """Shrink a changefeed range across row-preserving maintenance
    versions (``rebucket`` / ``rewrite_buckets`` tag their manifests
    ``row_preserving``: state(v) == state(v-1) row-for-row, tombstones
    included), replacing either endpoint by its representative on the
    other side of the maintenance commit. Pure manifest metadata — O(1)
    reads per narrowed version, no data files touched.

    This is what keeps the one version pair spanning a REBUCKET from
    degrading to a full-table row diff: bucket ids are not comparable
    across layouts, so :func:`changed_buckets` would return every bucket;
    narrowing removes the rebucket from the range edge, and the remaining
    endpoints share a layout again (a maintenance-only range collapses to
    p == q — an empty diff over zero files). Only a rebucket strictly
    inside a range with real changes on BOTH sides still pays the full
    diff, and that pair never arises for a version-by-version tailer.
    """
    def _preserving(v: int) -> bool:
        try:
            m = store.manifest(v) or {}
            # a version carrying forget_keys delete markers is never
            # narrowable: the markers are the ONLY remaining evidence of
            # the scrubbed deletes and must stay inside the range
            return bool(m.get("row_preserving")) and not m.get(
                "forget_deletes"
            )
        except FileNotFoundError:
            # vacuumed intermediate manifest: can't prove preservation —
            # stop narrowing; the endpoint reads below validate retention
            return False

    p, q = v_from, v_to
    while p < q and _preserving(p + 1):
        p += 1
    while q > p and _preserving(q):
        q -= 1
    return p, q


def diff_states(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str] | None = None,
    emit_preimages: bool = False,
) -> DataFrame:
    """Row-level diff of two table states: insert / update / delete.

    Output: key cols + data cols (post-image for insert/update, pre-image
    for delete — the Delta CDF convention minus the update_preimage rows)
    + ``_change_type``. Rows identical in both states are dropped via a
    null-safe comparison, so a physical rewrite with no logical change
    produces no rows.

    ``emit_preimages``: full Delta-CDF row convention — an update emits
    TWO rows, ``update_preimage`` (old data cols) then
    ``update_postimage`` (new data cols), instead of one ``update`` row.
    This is what a retraction consumer (incremental aggregate view
    maintenance, operators/agg_view.py) needs: the pre-image is the
    contribution to retract. Same single full-outer join — the pre/post
    pair comes from one explode over the joined row, not a second pass.

    Schemas may differ additively (the new state may carry columns the old
    lacks); the old side is null-padded to the union, matching the additive
    evolution contract (docs/consideration.md:13-18).
    """
    key_cols = key_cols or KEY_COLS
    # null-pad old for columns added after v_from; align columns whose type
    # WIDENED between the versions (incl. structs that gained nested
    # fields) so the null-safe comparison compares like with like
    from .merge import cast_up, widen_type

    new_types = {f.name: f.dataType for f in new.schema.fields}
    old_types = {f.name: f.dataType for f in old.schema.fields}
    for c in new.columns:
        if c not in old.columns:
            old = old.withColumn(c, F.lit(None).cast(new_types[c]))
        elif old_types[c] != new_types[c]:
            w = widen_type(old_types[c], new_types[c])
            if w is None:
                raise ValueError(
                    f"column '{c}' changed incompatibly between versions: "
                    f"{old_types[c].simpleString()} -> "
                    f"{new_types[c].simpleString()}"
                )
            if w != old_types[c]:
                old = old.withColumn(c, cast_up(F.col(c), old_types[c], w))
            if w != new_types[c]:
                new = new.withColumn(c, cast_up(F.col(c), new_types[c], w))
    data_cols = [c for c in new.columns if c not in key_cols]

    o = old.select(*key_cols, F.lit(True).alias("_o_present"),
                   *[F.col(c).alias(f"_o_{c}") for c in data_cols])
    n = new.select(*key_cols, F.lit(True).alias("_n_present"),
                   *[F.col(c).alias(f"_n_{c}") for c in data_cols])
    j = o.join(n, key_cols, "full_outer")

    in_old = F.col("_o_present").isNotNull()
    in_new = F.col("_n_present").isNotNull()
    same = F.lit(True)
    for c in data_cols:
        same = same & F.col(f"_n_{c}").eqNullSafe(F.col(f"_o_{c}"))

    change = (
        F.when(~in_old, F.lit("insert"))
        .when(~in_new, F.lit("delete"))
        .when(~same, F.lit("update"))
    )  # else null -> unchanged, filtered
    if emit_preimages:
        pre = F.struct(*[F.col(f"_o_{c}").alias(c) for c in data_cols])
        post = F.struct(*[F.col(f"_n_{c}").alias(c) for c in data_cols])

        def entry(img: F.Column, t: str) -> F.Column:
            return F.struct(img.alias("img"), F.lit(t).alias("t"))

        rows = (
            F.when(change == "insert", F.array(entry(post, "insert")))
            .when(change == "delete", F.array(entry(pre, "delete")))
            .when(
                change == "update",
                F.array(
                    entry(pre, "update_preimage"),
                    entry(post, "update_postimage"),
                ),
            )
        )  # null (unchanged) -> explode emits nothing
        return j.select(*key_cols, F.explode(rows).alias("_e")).select(
            *key_cols,
            *[F.col(f"_e.img.{c}").alias(c) for c in data_cols],
            F.col("_e.t").alias(CHANGE_TYPE_COL),
        )
    return (
        j.withColumn(CHANGE_TYPE_COL, change)
        .filter(F.col(CHANGE_TYPE_COL).isNotNull())
        .select(
            *key_cols,
            *[
                F.when(in_new, F.col(f"_n_{c}")).otherwise(F.col(f"_o_{c}")).alias(c)
                for c in data_cols
            ],
            CHANGE_TYPE_COL,
        )
    )


def table_changes(
    spark: SparkSession,
    store: TableStore,
    v_from: int,
    v_to: int | None = None,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Changefeed between two committed versions of a :class:`TableStore`.

    ``v_from`` may be 0 (empty table — everything in ``v_to`` is an
    insert); ``v_to`` defaults to the current version. Only buckets whose
    manifest file lists differ are read (see :func:`changed_buckets`).
    Raises if either manifest has been vacuumed away. Keys a
    :meth:`TableStore.forget_keys` scrub erased from history surface as
    deletes from its key-only markers.
    """
    if v_to is None:
        v_to = store.current_version()
    if v_to < v_from:
        raise ValueError(f"v_to={v_to} < v_from={v_from}")
    p, q = narrow_versions(store, v_from, v_to)
    dirty = changed_buckets(store, p, q)
    # include_deleted: a persisted LWW tombstone is a state transition like
    # any other — the diff must see it so its stamp travels downstream (a
    # row becoming a tombstone surfaces as an update whose post-image is
    # the tombstone; _encode_envelope re-encodes that as op='d' with the
    # stamp in the before image). Tables without the column are unaffected.
    old = store.read_state(spark, buckets=dirty, version=p, include_deleted=True)
    new = store.read_state(spark, buckets=dirty, version=q, include_deleted=True)
    diff = diff_states(old, new, key_cols).withColumn(
        VERSION_COL, F.lit(v_to).cast("long")
    )
    # a from-zero read needs no markers: the empty->head diff already
    # reflects the forgotten keys' absence, and the consumer holds nothing
    markers = (
        _forget_markers(spark, store, v_from, v_to, key_cols)
        if v_from > 0 else None
    )
    if markers is not None:
        # a key with a real row in the diff resolves by the diff (its
        # final-state transition is authoritative — e.g. the upstream log
        # lawfully re-created the path); only keys the scrub made
        # invisible need the explicit delete. A delete for a key the
        # consumer never held is an idempotent no-op.
        kc = key_cols or KEY_COLS
        pad = markers.join(diff.select(*kc), kc, "left_anti")
        for f in diff.schema.fields:
            if f.name in kc:
                continue
            if f.name == CHANGE_TYPE_COL:
                pad = pad.withColumn(f.name, F.lit("delete"))
            elif f.name == VERSION_COL:
                pad = pad.withColumn(
                    f.name, F.lit(v_to).cast("long")
                )
            else:
                pad = pad.withColumn(
                    f.name, F.lit(None).cast(f.dataType)
                )
        diff = diff.unionByName(pad.select(diff.columns))
    return diff


def _forget_markers(
    spark: SparkSession,
    store: TableStore,
    v_from: int,
    v_to: int,
    key_cols: list[str] | None,
) -> DataFrame | None:
    """Key-only delete markers :meth:`TableStore.forget_keys` attached to
    versions in ``(v_from, v_to]`` — the surviving evidence of deletes
    whose state-diff footprint the history scrub erased. None when the
    range crosses no redaction."""
    rels = []
    for v in range(v_from + 1, v_to + 1):
        try:
            m = store.manifest(v)
        except FileNotFoundError:
            continue
        if m and m.get("forget_deletes"):
            rels.append(m["forget_deletes"])
    if not rels:
        return None
    kc = list(key_cols or KEY_COLS)
    if kc != list(KEY_COLS):
        # marker files are key-only parquet with the TABLE key schema
        # (repo, path); padding delete rows on any other key set would
        # either fail analysis or fabricate deletes on the wrong identity
        raise ValueError(
            f"changefeed range ({v_from}, {v_to}] crosses a forget_keys "
            f"redaction whose delete markers carry the table key "
            f"{list(KEY_COLS)}; key_cols={kc} cannot be derived from "
            "them — read with the table key, or start the range at or "
            "after the redaction version"
        )
    return (
        spark.read.schema("repo STRING, path STRING")
        .parquet(*[os.path.join(store.root, r) for r in rels])
        .select(*kc)
        .distinct()
    )


def table_changes_cdf(
    spark: SparkSession,
    store: TableStore,
    v_from: int,
    v_to: int | None = None,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Full Delta-CDF changefeed over LOGICAL states: insert / delete /
    update_preimage / update_postimage rows between two versions.

    Differences vs :func:`table_changes` that make this the retraction
    feed for incremental view maintenance (operators/agg_view.py):

      * updates carry BOTH images (the pre-image is the contribution a
        downstream aggregate must retract);
      * states are read logically (LWW tombstones hidden), so a row that
        became a tombstone surfaces as a plain ``delete`` of its last
        live image — an aggregate never sees stamp-only tombstone rows.

    Like :func:`table_changes` it is the exact state diff, manifest-bucket
    pruned like every incremental read.
    """
    if v_to is None:
        v_to = store.current_version()
    if v_to < v_from:
        raise ValueError(f"v_to={v_to} < v_from={v_from}")
    # a from-zero read is a FULL BUILD: old state is empty, every row is
    # an insert, no pre-image is ever consulted — safe across any
    # redaction (this is what rebuild_derived_view relies on)
    for v in range(v_from + 1, v_to + 1) if v_from > 0 else ():
        try:
            m = store.manifest(v)
        except FileNotFoundError:
            continue
        if m and m.get("forget_deletes"):
            # the retraction feed NEEDS pre-images, and forget_keys
            # scrubbed exactly those — emitting null-padded deletes would
            # silently corrupt downstream aggregates. Refusing is the
            # honest contract: rebuild the derived view from current
            # state and resume past the redaction.
            raise ValueError(
                f"changefeed range ({v_from}, {v_to}] crosses a "
                f"forget_keys redaction at v{v}: the scrubbed pre-images "
                "cannot be retracted — full_recompute the derived view, "
                "then resume from the current version"
            )
    p, q = narrow_versions(store, v_from, v_to)
    dirty = changed_buckets(store, p, q)
    old = store.read_state(spark, buckets=dirty, version=p)
    new = store.read_state(spark, buckets=dirty, version=q)
    return diff_states(old, new, key_cols, emit_preimages=True).withColumn(
        VERSION_COL, F.lit(v_to).cast("long")
    )


def changefeed_envelope(
    spark: SparkSession,
    store: TableStore,
    v_from: int,
    v_to: int | None = None,
    key_cols: list[str] | None = None,
    n_partitions: int = 8,
    source_topic: str = "repos",
) -> DataFrame:
    """Changefeed re-encoded as a changelog-envelope batch — the chaining
    adapter: feed this straight into a downstream ``CdcApplyEngine.
    apply_batch`` and the downstream table converges to this table's state
    (replication chain A -> B, the MM2 cascading-mirror topology).

    Envelope contract the downstream engine depends on:
      * partition = pmod(hash(key), n_partitions) — key->partition affinity
        holds by construction (SendProductToKafka.py:48 key-hash routing);
      * lsn = v_to for every row — monotone per partition across versions,
        so the downstream lineage watermark dedups a re-delivered version
        batch to zero rows (idempotent chaining);
      * op: insert->'c', update->'u', delete->'d' with before/after images
        in Debezium form.
    """
    if v_to is None:
        v_to = store.current_version()
    key_cols = key_cols or KEY_COLS
    ch = table_changes(spark, store, v_from, v_to, key_cols)
    return _encode_envelope(ch, key_cols, n_partitions, source_topic)


def _encode_envelope(
    ch: DataFrame, key_cols: list[str], n_partitions: int, source_topic: str
) -> DataFrame:
    from ..schema import LWW_DELETED_COL

    data_cols = [c for c in ch.columns if c not in (CHANGE_TYPE_COL, VERSION_COL)]
    image = F.struct(*[F.col(c) for c in data_cols])
    is_del = F.col(CHANGE_TYPE_COL) == "delete"
    if LWW_DELETED_COL in ch.columns:
        # a row whose post-image is a persisted tombstone cascades as a
        # DELETE whose before image carries the tombstone (nulls + the
        # delete's own origin stamp) — never a fabricated cascade-time
        # stamp; the downstream unpack coalesces the stamps from before
        is_del = is_del | F.coalesce(F.col(LWW_DELETED_COL), F.lit(False))
    return ch.select(
        F.pmod(F.hash(*[F.col(c) for c in key_cols]), F.lit(n_partitions))
        .cast("int")
        .alias("partition"),
        F.col(VERSION_COL).alias("lsn"),
        # is_del FIRST: a tombstone row can be NEW at this source (a delete
        # applied for a key that was never live here — e.g. it out-raced
        # the create in a ring), surfacing in the diff as change_type=
        # 'insert' with the tombstone marker set. Encoding that as op='c'
        # would pair a create with a NULL after image and the downstream
        # unpack would apply a live null row (losing the tombstone — the
        # d.py divergence the three-cluster ring test pins down).
        F.when(is_del, F.lit("d"))
        .when(F.col(CHANGE_TYPE_COL) == "insert", F.lit("c"))
        .otherwise(F.lit("u"))
        .alias("op"),
        F.when(is_del, image).alias("before"),
        F.when(~is_del, image).alias("after"),
        F.current_timestamp().alias("ts_ms"),
        F.create_map(
            F.lit("cascade_version"), F.col(VERSION_COL).cast("string")
        ).alias("headers"),
        F.lit(source_topic).alias("source_topic"),
    )


def cascade_catchup(
    spark: SparkSession,
    src: TableStore,
    dst_engine,
    n_partitions: int = 8,
    source_topic: str = "repos",
) -> dict:
    """Incrementally replicate ``src``'s committed versions into a
    downstream engine's table — the resumable A -> B catch-up loop.

    The last source version this destination applied is tracked in the
    destination's own writer-fencing map under ``cascade:<src root>``
    (epoch = source version — the Delta txnAppId pattern doing double duty
    as replication bookkeeping), so a crashed or restarted catch-up resumes
    from exactly where it left off with no side-channel state; a re-applied
    version batch is additionally deduped by the lsn=version watermark.
    One call drains everything new: ``while`` the source commits, call
    again — each call costs O(changed data since last call).

    The cascade runs under its OWN consumer group (= the writer name): its
    lsn-space is source-version numbers, which must never be compared
    against the watermarks of a direct-ingest flow on the same table —
    per-flow checkpoint lineage, exactly the reference's per-consumer-group
    offset tracking (docs/consideration.md:37-48). This is what makes
    bidirectional topologies work: each direction's cascade dedups against
    its own watermark sequence only.

    Retention contract (same as Delta CDF / Iceberg incremental reads):
    the destination's position is REGISTERED on the source
    (:meth:`~TableStore.record_consumer`), and the source's
    :meth:`~TableStore.vacuum` derives its keep-floor from the slowest
    registered flow — a lagging consumer auto-pins the versions it still
    needs. Only an UNREGISTERED consumer (or one whose registration was
    explicitly removed) can fall behind the retained window and need a
    full resync.
    """
    from dataclasses import replace as _dc_replace

    writer = f"cascade:{os.path.abspath(src.root)}"
    engine = type(dst_engine)(
        dst_engine.store, _dc_replace(dst_engine.config, consumer_group=writer)
    )
    last = max(engine.store.writer_epoch(writer), 0)
    # register this flow's position on the SOURCE so its vacuum keep-floor
    # covers our lag (retention auto-pin — docs/consideration.md:37-48's
    # checkpoint contract; without it a slow consumer silently needs a
    # full resync, the reference's core failure mode)
    group = f"cascade:{os.path.abspath(engine.store.root)}"
    if last > 0:
        src.record_consumer(group, last)
    applied = []
    for v in src.versions():
        if v <= last:
            continue
        # free metadata short-circuit: identical bucket file lists means an
        # identical state (lineage-only commit — e.g. the version a cascade
        # in the OTHER direction wrote after an empty diff). This is the
        # loop-prevention of the bidirectional topology: echo versions die
        # here without a job, so A<->B cascades terminate instead of
        # ping-ponging versions (the state-diff analogue of MM2's
        # cluster-prefix loop guard, docs/consideration.md:29-35).
        if not changed_buckets(src, last, v):
            last = v
            continue
        # a tombstone-purge commit is replica-local maintenance: each side
        # GCs on its own schedule, and re-emitting a purge as deletes would
        # re-create tombstones on a replica that already purged (ping-pong)
        if (src.manifest(v) or {}).get("changefeed_skip"):
            last = v
            continue
        # a row-preserving maintenance version (rebucket/rewrite) diffs to
        # zero rows by construction: skip with ZERO jobs. Guarded on
        # consecutive versions — with a gap (shouldn't happen under the
        # retention pin) the full diff below still covers everything.
        if last == v - 1 and (src.manifest(v) or {}).get("row_preserving"):
            last = v
            continue
        env = changefeed_envelope(
            spark, src, last, v,
            n_partitions=n_partitions, source_topic=source_topic,
        ).persist()
        try:
            # a physical-only source change (rewrite/rebucket, or the
            # source's own identical-content echo-rewrite from a reverse
            # cascade) diffs to zero rows: skip, so the destination's
            # version chain stops growing — together with the metadata
            # guard above, a bidirectional echo dies within two hops.
            # persist() so the probe's partial evaluation is reused by
            # apply_batch instead of re-running the full-outer diff twice.
            if env.isEmpty():
                last = v
                continue
            out = engine.apply_batch(env, v, writer_id=writer)
        finally:
            env.unpersist()
        if out.get("status") == "committed":
            applied.append(v)
        last = v
    if last > 0:
        # advance the retention pin to where this flow now stands: vacuum
        # may expire everything before it, nothing it still needs
        src.record_consumer(group, last)
    return {"applied_versions": applied, "at_version": last}


def key_history(
    spark: SparkSession,
    store: TableStore,
    keys: list[tuple],
    v_from: int = 0,
    v_to: int | None = None,
    max_keys: int = 100,
) -> DataFrame:
    """Audit trail of specific keys across committed versions — the
    per-key form of the changefeed (Debezium's "all changes for key X" /
    an Iceberg changelog scan filtered to a key): one row per version in
    which a requested key changed, with ``_commit_version``,
    ``_change_type`` (insert/update/delete) and the post-image data
    columns (pre-image for deletes, the diff_states convention).

    Cost model (control-plane bounded, NOT a data-path op): the version
    loop runs driver-side over manifests. A version is skipped with ZERO
    jobs when it is row-preserving maintenance, a replica-local GC, or
    when none of the keys' bucket file lists changed (pure manifest
    metadata — the common case for an uncorrelated key). A changed
    version pays two key-prefiltered bucket point reads + a diff (net
    state transitions).
    Bucket ids are computed per layout (rebuckets in range are handled),
    via one small Spark job per distinct layout, not per version.
    """
    if not keys:
        raise ValueError("key_history needs at least one (repo, path) key")
    if len(keys) > max_keys:
        raise ValueError(
            f"key_history is a point-audit op: {len(keys)} keys > "
            f"max_keys={max_keys} (use table_changes for bulk history)"
        )
    if v_to is None:
        v_to = store.current_version()
    keys = [tuple(k) for k in keys]
    kdf = spark.createDataFrame(keys, schema="repo string, path string")

    # per-layout bucket ids for the key set: ONE job per distinct
    # n_buckets value in range (Spark's murmur3 is not reproducible
    # driver-side, so ask the JVM once per layout)
    layouts = set()
    for v in range(max(1, v_from), v_to + 1):
        m = store.manifest(v)
        if m is not None:
            layouts.add(int(m["n_buckets"]))
    buckets_for: dict[int, dict[tuple, int]] = {}
    for n in sorted(layouts):
        rows = kdf.select(
            "repo", "path", bucket_expr(n).alias("b")
        ).collect()
        buckets_for[n] = {(r["repo"], r["path"]): r["b"] for r in rows}

    key_set = set(keys)
    pred = None
    for r, p in keys:
        leg = (F.col("repo") == F.lit(r)) & (F.col("path") == F.lit(p))
        pred = leg if pred is None else (pred | leg)

    frames: list[DataFrame] = []
    for v in range(max(1, v_from + 1), v_to + 1):
        m = store.manifest(v)
        if m is None:
            # vacuumed out of range: nothing to reconstruct for v
            continue
        if m.get("row_preserving") or m.get("changefeed_skip"):
            continue
        prev = store.manifest(v - 1)
        n_b = int(m["n_buckets"])
        my_buckets = sorted(
            {buckets_for[n_b][k] for k in key_set}
        )
        if prev is not None and int(prev["n_buckets"]) == n_b:
            # manifest-only skip: none of the keys' buckets changed files
            if all(
                (m["buckets"].get(str(b)) or [])
                == (prev["buckets"].get(str(b)) or [])
                for b in my_buckets
            ):
                continue
        prev_buckets = (
            my_buckets
            if prev is None or int(prev["n_buckets"]) == n_b
            else sorted({buckets_for[int(prev["n_buckets"])][k] for k in key_set})
        )
        # LOGICAL states (tombstones hidden): an audit reader wants a
        # delete row, not an update-to-stamp-tombstone transition
        old = store.read_state(
            spark, buckets=prev_buckets, version=v - 1, key_prefilter=pred
        )
        new = store.read_state(
            spark, buckets=my_buckets, version=v, key_prefilter=pred
        )
        frames.append(
            diff_states(old, new).withColumn(
                VERSION_COL, F.lit(v).cast("long")
            )
        )
    if not frames:
        empty = store.read_state(spark, buckets=[]).withColumn(
            CHANGE_TYPE_COL, F.lit(None).cast("string")
        ).withColumn(VERSION_COL, F.lit(None).cast("long"))
        return empty
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr, allowMissingColumns=True)
    return out


# --------------------------------------------------------------------- #
# JSON-lines wire export: the PRODUCER half of engine-to-engine
# replication over a durable wire (the reference's MirrorSourceConnector
# writing to the remote topic, mirror-maker-2/SendProductToKafka.py:43-54
# — records on the wire ARE JSON). `export_changefeed_json` turns every
# newly committed version into one ordered JSON-lines envelope file; a
# REMOTE engine (separate process/cluster, no shared TableStore) tails
# the directory with `start_stream(source_format="json",
# schema=wire_read_schema(dir))` and converges to this table's state
# under the same lsn-watermark exactly-once contract as the in-process
# cascade.

WIRE_CURSOR = "_cursor.json"
WIRE_SCHEMA = "_schema.json"


def wire_read_schema(out_dir: str):
    """The exported envelope schema, from the self-describing sidecar the
    exporter maintains (`_schema.json` — a schema-registry-lite: JSON has
    no types, so the reader needs the producer's schema; inference over
    100 TB of wire files is not a plan). Re-read it after a producer-side
    schema evolution and restart the reader stream — the downstream apply
    then evolves the target additively, same as any source."""
    import json

    from pyspark.sql import types as T

    with open(os.path.join(out_dir, WIRE_SCHEMA)) as f:
        return T.StructType.fromJson(json.load(f))


def _wire_cursor(out_dir: str) -> int:
    import json

    p = os.path.join(out_dir, WIRE_CURSOR)
    if not os.path.exists(p):
        return 0
    with open(p) as f:
        return int(json.load(f)["exported_to"])


def export_changefeed_json(
    spark: SparkSession,
    store: TableStore,
    out_dir: str,
    n_partitions: int = 8,
    source_topic: str = "repos",
    key_cols: list[str] | None = None,
    files_per_version: int = 1,
) -> dict:
    """Export every version committed since the last call as ordered
    JSON-lines envelope files — resumable, crash-safe, idempotent.

    Wire contract (what the remote reader can rely on):
      * one file per source version, named ``changes_{v:010d}.json`` —
        lexicographic order IS commit order, and the remote file-stream's
        own maxFilesPerTrigger re-batches freely because every row's
        lsn (= source version) stays monotone per partition;
      * files appear ATOMICALLY (temp + os.replace) — a tailing reader
        never sees a partial file;
      * the EXACT state diff per version, so an exported A->B->A ring
        stays echo-damped like the in-process cascade;
      * crash between file write and cursor write replays that version
        into the SAME filename (deterministic name, atomic replace) — and
        even if the reader consumed the earlier copy, redelivery dedups
        to zero rows at the lsn watermark (at-least-once wire, exactly-
        once apply);
      * `_schema.json` sidecar carries the envelope schema for
        `wire_read_schema` (rewritten whenever the source schema evolves).

    Scale shape: per call O(changed data since last call) — each
    version's diff is manifest-bucket pruned; a version's wire file is
    epoch-sized (coalesce(1) is the Kafka-file analogue of one producer
    batch, not a table rewrite). Do NOT export the initial bulk load
    through the wire — snapshot-bootstrap the remote (streaming/apply.py)
    and let the wire carry the tail, exactly like MM2 does.

    The exporter registers as a changefeed consumer on the source, so
    vacuum retains the versions it still needs (retention auto-pin)."""
    import json

    key_cols = key_cols or KEY_COLS
    os.makedirs(out_dir, exist_ok=True)
    last = _wire_cursor(out_dir)
    head = store.current_version()
    if head <= last:
        return {"status": "noop", "from": last, "to": head, "files": 0,
                "rows": 0}
    consumer = f"wire-export:{os.path.abspath(out_dir)}"
    if last > 0:
        store.record_consumer(consumer, last)

    n_files = 0
    n_rows = 0
    for v in range(last + 1, head + 1):
        env = changefeed_envelope(
            spark, store, v - 1, v, key_cols=key_cols,
            n_partitions=n_partitions, source_topic=source_topic,
        )
        rows = env.count()
        if rows == 0:
            # maintenance / row-preserving version: nothing on the wire
            continue
        schema_json = env.schema.jsonValue()
        sp = os.path.join(out_dir, WIRE_SCHEMA)
        cur = None
        if os.path.exists(sp):
            with open(sp) as f:
                cur = json.load(f)
        if cur != schema_json:
            tmp = sp + ".tmp"
            with open(tmp, "w") as f:
                json.dump(schema_json, f)
            os.replace(tmp, sp)
        # files_per_version > 1: a very large epoch writes its wire file
        # in parallel slices instead of serializing through one task —
        # slice order within a version is free (every row carries the
        # same lsn), so sorted names stay commit-ordered across versions.
        # Slicing hashes the envelope partition (DETERMINISTIC by content,
        # unlike round-robin): a crash re-export reproduces the same
        # row->file assignment, so a reader that consumed some old slices
        # and some re-exported ones still sees every row (size the wire's
        # n_partitions >= files_per_version for balanced slices)
        tmp_dir = os.path.join(out_dir, f"_tmp_v{v}")
        k = max(1, int(files_per_version))
        (
            env.coalesce(1) if k == 1
            else env.repartition(k, F.col("partition"))
        ).write.mode("overwrite").json(tmp_dir)
        parts = sorted(
            x for x in os.listdir(tmp_dir)
            if x.endswith(".json") and not x.startswith("_")
        )
        for i, part in enumerate(parts):
            name = (
                f"changes_{v:010d}.json" if k == 1
                else f"changes_{v:010d}_{i:04d}.json"
            )
            os.replace(os.path.join(tmp_dir, part),
                       os.path.join(out_dir, name))
            n_files += 1
        import shutil as _shutil

        _shutil.rmtree(tmp_dir, ignore_errors=True)
        n_rows += rows

    tmp = os.path.join(out_dir, WIRE_CURSOR + ".tmp")
    with open(tmp, "w") as f:
        json.dump({"exported_to": head}, f)
    os.replace(tmp, os.path.join(out_dir, WIRE_CURSOR))
    store.record_consumer(consumer, head)
    return {"status": "exported", "from": last, "to": head,
            "files": n_files, "rows": n_rows}


def rebuild_derived_view(spark: SparkSession, view, src: TableStore) -> dict:
    """Rebuild a changefeed-maintained derived store from the source's
    CURRENT state — the documented escape hatch after
    :meth:`~..sources.table_store.TableStore.forget_keys`
    (``table_changes_cdf`` refuses ranges crossing a redaction because
    the pre-images its retractions need are scrubbed).

    Works on any maintained view with a ``.root`` directory and an
    ``update(spark, src)`` method (IncrementalAggView, IncrementalLmCounts,
    the HLL/CMS/HDR sketch stores, the text/join/SCD indexes, the
    dedup/clone/fork/cluster index family): the view store is wiped and
    ``update`` runs its ordinary FIRST-BUILD path — a from-zero cdf read
    is all-inserts over live state, so no scrubbed pre-image is ever
    needed, and the forgotten keys simply never enter the rebuilt view.
    The writer fence restarts with the store, so subsequent updates
    resume incrementally past the redaction.
    """
    import shutil as _sh

    _sh.rmtree(view.root, ignore_errors=True)
    return view.update(spark, src)
