"""Physical-plan audits: the plans we designed are the plans Spark runs
(SURVEY.md §7 hard part c; §4 built-in strategy table)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kp_data_replication_spark.datagen import ChangelogSpec, write_changelog
from kp_data_replication_spark.functions.envelope import unpack_envelope
from kp_data_replication_spark.operators.compact import last_write_wins
from kp_data_replication_spark.operators.dedup_cdc import filter_applied
from kp_data_replication_spark.operators.filters import select_topics
from kp_data_replication_spark.operators.merge import merge_upsert
from kp_data_replication_spark.plans.audit import (
    assert_broadcast_join,
    assert_no_row_python,
    assert_pushed_filter,
    count_exchanges,
    plan_string,
    scan_read_schema,
)
from kp_data_replication_spark.schema import LINEAGE_SCHEMA


@pytest.fixture(scope="module")
def changelog_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("cl"))
    write_changelog(
        spark, d, ChangelogSpec(n_keys=50, versions_per_key=2, n_partitions=2, files=1)
    )
    return d


def _pipeline(spark, changelog_dir):
    df = spark.read.parquet(changelog_dir)
    events = select_topics(df, "^repos$")
    lineage = spark.createDataFrame([("cdc-engine", 0, 5, 0, 5, None)], LINEAGE_SCHEMA)
    fresh = filter_applied(events, lineage)
    return last_write_wins(unpack_envelope(fresh, normalize=False), count_col="_n")


def test_apply_pipeline_is_arrow_only(spark, changelog_dir):
    """BASELINE mandate: no per-row Python anywhere in the apply plan."""
    from kp_data_replication_spark.functions.envelope import normalize_content

    comp = _pipeline(spark, changelog_dir).withColumn(
        "content", normalize_content(F.col("content"))
    )
    assert_no_row_python(comp)
    assert "ArrowEvalPython" in plan_string(comp)


def test_lineage_dedup_is_broadcast(spark, changelog_dir):
    """J3: the watermark anti-filter must broadcast the lineage side —
    the event stream is never shuffled for dedup."""
    df = spark.read.parquet(changelog_dir)
    lineage = spark.createDataFrame([("cdc-engine", 0, 5, 0, 5, None)], LINEAGE_SCHEMA)
    assert_broadcast_join(filter_applied(df, lineage))


def test_compact_then_merge_adds_no_extra_exchange(spark, changelog_dir):
    """A2->J2: the compaction aggregate hash-partitions on (repo, path);
    the MERGE join reuses it — exactly one exchange for the batch side plus
    one for the target side, never a re-shuffle of the compacted batch."""
    comp = _pipeline(spark, changelog_dir)
    target = spark.createDataFrame(
        [("r", "p", "c", "l", "x", 1)],
        "repo string, path string, commit string, lang string, content string, stars int",
    )
    merged = merge_upsert(target, comp.drop("_n"))
    n = count_exchanges(merged)
    # expected: 1x batch-side (groupBy) + 1x target-side (join) = 2
    assert n <= 2, f"unexpected extra exchanges ({n}):\n{plan_string(merged, 'simple')}"


def test_compaction_broadcast_join_back_never_shuffles_rows_wide(
    spark, changelog_dir
):
    """The compaction's in-budget join-back must BROADCAST the slim winner
    aggregate — the raw (wide) rows side must reach the join without any
    exchange of its own, so content bytes are never shuffled for winner
    selection (they shuffle once, post-join, in the key-dedup aggregate)."""
    from kp_data_replication_spark.operators.compact import (
        lww_join_winners,
        lww_winners,
    )

    df = spark.read.parquet(changelog_dir)
    rows = unpack_envelope(select_topics(df, "^repos$"), normalize=False)
    winners = lww_winners(rows, count_col="_n")
    comp = lww_join_winners(rows, winners, broadcast=True)
    plan = plan_string(comp)
    assert "BroadcastExchange" in plan, plan
    # exactly 2 shuffles end-to-end: the slim winner aggregate + the final
    # key dedup; a full-width rows-side exchange would make it 3
    n = count_exchanges(comp)
    assert n <= 2, f"unexpected exchanges ({n}):\n{plan_string(comp, 'simple')}"


def test_topic_filter_pushed_to_scan(spark, changelog_dir):
    """F1/F2 feed the scan: the source_topic predicate appears in
    PushedFilters (StartsWith/IsNotNull family; rlike itself can't push,
    so the engine also prunes with the cheap prefix when configured)."""
    df = spark.read.parquet(changelog_dir).filter(F.col("source_topic") == "repos")
    assert_pushed_filter(df, "IsNotNull(source_topic)")
    assert_pushed_filter(df, "EqualTo(source_topic,repos)")


def test_unpack_prunes_nested_columns(spark, changelog_dir):
    """F4: reading only keys + commit must NOT read content/headers from
    parquet (nested schema pruning)."""
    df = spark.read.parquet(changelog_dir)
    slim = unpack_envelope(df, normalize=False).select("repo", "path", "commit")
    rs = scan_read_schema(slim)
    assert "content" not in rs, rs
    assert "headers" not in rs, rs


# ------------------------------------------------------------------ #
# corpus-curation operators (operators/clustering.py)
# ------------------------------------------------------------------ #
def test_sample_stratified_is_scan_only(spark, tmp_path):
    """Stratified sampling must stay a pure scan-side filter: zero
    exchanges, no Python, and only the needed columns read."""
    from kp_data_replication_spark.operators.clustering import sample_stratified

    p = str(tmp_path / "docs")
    spark.range(0, 500).selectExpr(
        "id as doc_id", "'t' as text", "case when id % 2 = 0 then 'en' else 'fr' end as lang"
    ).write.parquet(p)
    out = sample_stratified(
        spark.read.parquet(p).select("doc_id", "lang"), {"en": 0.5}
    )
    assert count_exchanges(out) == 0
    assert_no_row_python(out)
    rs = scan_read_schema(out)
    assert "text" not in rs  # column pruning reached the scan


def test_pack_chunks_single_exchange(spark, tmp_path):
    """Concat-and-chunk packing = one shard-key exchange feeding both the
    window cumsum and the chunk aggregate (no second shuffle: the groupBy
    keys are a superset of the window partition key only via shard, so a
    second exchange on (shard, chunk_id) is acceptable — assert <= 2 and
    no Python)."""
    from kp_data_replication_spark.operators.clustering import pack_chunks

    p = str(tmp_path / "docs")
    spark.range(0, 300).selectExpr("id as doc_id", "'w w w w' as text").write.parquet(p)
    out = pack_chunks(spark.read.parquet(p), budget=64, n_shards=4)
    assert count_exchanges(out) <= 2
    assert_no_row_python(out)


def test_pack_greedy_is_arrow(spark, tmp_path):
    """Greedy packing is applyInPandas: exactly one exchange (the shard
    shuffle) and Arrow-batched Python, never row-at-a-time."""
    from kp_data_replication_spark.operators.clustering import pack_greedy

    p = str(tmp_path / "docs")
    spark.range(0, 300).selectExpr("id as doc_id", "'w w w w' as text").write.parquet(p)
    out = pack_greedy(spark.read.parquet(p), budget=64, n_shards=4)
    s = plan_string(out)
    assert "FlatMapGroupsInPandas" in s or "FlatMapGroupsInArrow" in s
    assert "BatchEvalPython" not in s
    assert count_exchanges(out) == 1


def test_compaction_shuffle_fallback_has_no_broadcast(spark, changelog_dir):
    """Over-budget compaction path: the shuffle join-back must not
    plan a broadcast (that is exactly the driver-OOM it avoids); both join
    sides hash-exchange instead."""
    from kp_data_replication_spark.operators.compact import (
        lww_join_winners,
        lww_winners,
    )

    # emulate the over-budget winner set the fallback exists for: disable
    # auto-broadcast (at real scale the size estimate does this)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = spark.read.parquet(changelog_dir)
        rows = unpack_envelope(select_topics(df, "^repos$"), normalize=False)
        winners = lww_winners(rows, count_col="_n")
        comp = lww_join_winners(rows, winners, broadcast=False)
        plan = plan_string(comp)
        assert "BroadcastExchange" not in plan, plan
        assert_no_row_python(comp)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_table_changes_reads_only_changed_bucket_files(spark, tmp_path):
    """Incremental read costs O(changed data), never O(table): the diff
    plan's input files are exactly the changed buckets' files from the two
    manifests — untouched buckets are pruned at the MANIFEST level, before
    Spark ever lists a file. Also: no per-row Python, and the two
    bucket-restricted sides add at most one exchange each."""
    import os

    from kp_data_replication_spark.operators.changefeed import (
        changed_buckets,
        table_changes,
    )
    from kp_data_replication_spark.sources.table_store import TableStore
    from kp_data_replication_spark.streaming.apply import CdcApplyEngine, EngineConfig

    d = str(tmp_path / "cl")
    write_changelog(
        spark, d,
        ChangelogSpec(n_keys=200, versions_per_key=2, n_partitions=4, files=2,
                      dup_every=0),
    )
    store = TableStore(str(tmp_path / "t"), n_buckets=16)
    engine = CdcApplyEngine(store, EngineConfig(metrics=False))
    files = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
    half = len(files) // 2
    engine.apply_batch(spark.read.parquet(*[f"{d}/{f}" for f in files[:half]]), 0)
    # second epoch touches a SUBSET of keys -> a subset of buckets is dirty
    second = spark.read.option("mergeSchema", "true").parquet(
        *[f"{d}/{f}" for f in files[half:]]
    )
    engine.apply_batch(second.filter(F.col("lsn") % 7 == 0), 1)

    dirty = changed_buckets(store, 1, 2)
    assert 0 < len(dirty) < store.n_buckets, "need partial-bucket change"

    ch = table_changes(spark, store, 1, 2)
    allowed = set()
    for v in (1, 2):
        m = store.manifest(v)
        for b in dirty:
            allowed |= {
                os.path.join(store.root, p) for p in m["buckets"].get(str(b), [])
            }
    from urllib.parse import urlparse

    read = {urlparse(f).path for f in ch.inputFiles()}
    assert read <= allowed, f"diff read beyond changed buckets: {read - allowed}"
    all_files = {
        os.path.join(store.root, p)
        for v in (1, 2)
        for fl in store.manifest(v)["buckets"].values()
        for p in fl
    }
    assert read < all_files, "diff read the whole table"
    assert_no_row_python(ch)
    assert count_exchanges(ch) <= 2  # one hash exchange per join side


def test_cdf_changefeed_is_manifest_pruned_single_join(spark, tmp_path):
    """The full-CDF feed (update_preimage/postimage rows for the IVM
    consumer) keeps every property of the exact diff: reads only changed
    buckets' files, one full-outer join (<=2 exchanges — the pre/post pair
    comes from an explode over the SAME joined row, not a second pass),
    no per-row Python."""
    import os
    from urllib.parse import urlparse

    from kp_data_replication_spark.operators.changefeed import (
        changed_buckets,
        table_changes_cdf,
    )
    from kp_data_replication_spark.sources.table_store import TableStore
    from kp_data_replication_spark.streaming.apply import CdcApplyEngine, EngineConfig

    d = str(tmp_path / "cl")
    write_changelog(
        spark, d,
        ChangelogSpec(n_keys=200, versions_per_key=2, n_partitions=4, files=2,
                      dup_every=0),
    )
    store = TableStore(str(tmp_path / "t"), n_buckets=16)
    engine = CdcApplyEngine(store, EngineConfig(metrics=False))
    files = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
    half = len(files) // 2
    engine.apply_batch(spark.read.parquet(*[f"{d}/{f}" for f in files[:half]]), 0)
    second = spark.read.option("mergeSchema", "true").parquet(
        *[f"{d}/{f}" for f in files[half:]]
    )
    engine.apply_batch(second.filter(F.col("lsn") % 7 == 0), 1)

    dirty = changed_buckets(store, 1, 2)
    assert 0 < len(dirty) < store.n_buckets

    ch = table_changes_cdf(spark, store, 1, 2)
    allowed = set()
    for v in (1, 2):
        m = store.manifest(v)
        for b in dirty:
            allowed |= {
                os.path.join(store.root, p) for p in m["buckets"].get(str(b), [])
            }
    read = {urlparse(f).path for f in ch.inputFiles()}
    assert read <= allowed, f"CDF read beyond changed buckets: {read - allowed}"
    assert_no_row_python(ch)
    assert count_exchanges(ch) <= 2
    # the pair convention: every update key contributes exactly 2 rows
    from collections import Counter

    ops = Counter(r["_change_type"] for r in ch.collect())
    assert ops["update_preimage"] == ops["update_postimage"]


def test_sq8_plan_broadcasts_queries_and_stays_jvm(spark, tmp_path):
    """SQ8 ANN: the candidate scoring is ONE broadcast (nested-loop) join
    of the corpus scan against the tiny query side, the quantize/dequant/
    dot expressions are pure JVM array transforms (no Python anywhere),
    and the two rank stages add no extra shuffle beyond the two windows."""
    from kp_data_replication_spark.operators.similarity import cosine_topk_sq8

    rows = [(i, [float((i * 7 + j) % 13) for j in range(8)]) for i in range(50)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = cosine_topk_sq8(emb, emb.filter(F.col("vec_id") < 3), k=3)
    s = plan_string(out)
    assert "BroadcastNestedLoopJoin" in s or "BroadcastExchange" in s
    assert_no_row_python(out)


def test_pii_scrub_is_map_side_only(spark, tmp_path):
    """The scrub is a regexp_replace chain over the scan: ZERO exchanges
    (at 100 TB it pipelines with the read), no Python."""
    from kp_data_replication_spark.functions.text import scrub_documents

    docs = spark.createDataFrame(
        [(i, f"text {i} a@b.io") for i in range(20)], "doc_id long, text string"
    )
    out = scrub_documents(docs)
    assert count_exchanges(out) == 0
    assert_no_row_python(out)


def test_hll_registers_single_exchange_partial_agg(spark):
    """The register table is one grouped max: exactly one shuffle, carrying
    at most (groups x 256) partially-aggregated rows — the map side combines
    before the exchange (partial HashAggregate below it)."""
    from kp_data_replication_spark.operators.sketches import hll_registers

    df = spark.createDataFrame(
        [(i, f"t{i % 3}", i * 17) for i in range(500)],
        "event_id long, event_type string, user_id long",
    )
    out = hll_registers(df, ["event_type"], "user_id")
    assert count_exchanges(out) == 1
    s = plan_string(out)
    assert s.count("HashAggregate") >= 2  # partial + final around the exchange
    assert_no_row_python(out)


def test_sessionize_rollup_reuses_the_window_exchange(spark):
    """Direct sessionization is ONE exchange total: the gap window hashes
    on the user key and the per-(user, session) aggregate reuses that
    partitioning (its keys are a superset)."""
    from kp_data_replication_spark.operators.sessions import session_stats

    df = spark.createDataFrame(
        [(i, None, i % 5, "a", 1.0) for i in range(50)],
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double",
    ).withColumn("ts", F.timestamp_seconds(F.col("event_id") * 600).cast("timestamp_ntz"))
    out = session_stats(df, 30)
    assert count_exchanges(out) == 1
    assert_no_row_python(out)


def test_join_view_epoch_is_broadcast_only_one_write_shuffle(spark, tmp_path):
    """The delta-join epoch's committed frame: every join against an
    O(batch) side frame is a BROADCAST join (no sort-merge over the view
    slice), no per-row Python, and the only shuffle exchanges are the
    commit's bucket repartition path — the view slice is never shuffled
    for the joins themselves. The dim read is bucket-pruned: the epoch
    touches a strict subset of the dim's files."""
    import os
    from urllib.parse import urlparse

    from kp_data_replication_spark.operators.join_view import IncrementalJoinView
    from kp_data_replication_spark.schema import CHANGELOG_SCHEMA
    from kp_data_replication_spark.sources.table_store import TableStore
    from kp_data_replication_spark.streaming.apply import CdcApplyEngine, EngineConfig
    from pyspark.sql import Row

    def env(path, op, content, fk, lsn):
        img = Row(repo="t", path=str(path), commit="c0", lang=fk, content=content)
        return Row(partition=hash(str(path)) % 4, lsn=lsn, op=op,
                   before=img if op == "d" else None,
                   after=None if op == "d" else img,
                   ts_ms=None, headers=None, source_topic="repos")

    fact = TableStore(str(tmp_path / "f"), n_buckets=8)
    dim = TableStore(str(tmp_path / "d"), n_buckets=8)
    fe = CdcApplyEngine(fact, EngineConfig(metrics=False))
    de = CdcApplyEngine(dim, EngineConfig(metrics=False))
    jv = IncrementalJoinView(
        str(tmp_path / "jv"),
        fk_exprs={"repo": "'t'", "path": "lang"},
        fact_cols={"fc": "content"}, dim_cols={"dc": "content"}, n_buckets=8,
    )
    de.apply_batch(spark.createDataFrame(
        [env(f"d{i}", "c", f"D{i}", None, i) for i in range(16)],
        CHANGELOG_SCHEMA), 0)
    fe.apply_batch(spark.createDataFrame(
        [env(f"f{i}", "c", f"F{i}", f"d{i % 16}", 100 + i) for i in range(64)],
        CHANGELOG_SCHEMA), 0)
    jv.update(spark, fact, dim)

    # epoch: one dim key + two fact rows change
    de.apply_batch(spark.createDataFrame(
        [env("d3", "u", "D3v2", None, 500)], CHANGELOG_SCHEMA), 1)
    fe.apply_batch(spark.createDataFrame(
        [env("f1", "u", "F1v2", "d5", 600), env("f2", "d", None, "d2", 601)],
        CHANGELOG_SCHEMA), 1)

    captured = {}
    orig = TableStore.commit

    def spy(self, merged, *a, **kw):
        if self.root == jv.view.root and merged is not None:
            captured["df"] = merged
        return orig(self, merged, *a, **kw)

    import pytest as _pytest
    mp = _pytest.MonkeyPatch()
    mp.setattr(TableStore, "commit", spy)
    try:
        jv.update(spark, fact, dim)
    finally:
        mp.undo()

    df = captured["df"]
    plan = plan_string(df, mode="simple")
    assert_no_row_python(df)
    # the ONLY sort-merge joins are the two CDF state diffs (FullOuter —
    # data-scale on both sides, correctly not broadcast); every join the
    # view adds (anti on fact keys, dim patch, additions, semi on needed
    # keys) builds a broadcast side
    smj = [ln for ln in plan.splitlines() if "SortMergeJoin" in ln]
    assert smj and all("FullOuter" in ln for ln in smj), plan
    assert "BroadcastHashJoin" in plan, plan
    # dim point read was bucket-pruned
    dim_files = {
        urlparse(f).path
        for f in df.inputFiles()
        if urlparse(f).path.startswith(os.path.abspath(dim.root))
    }
    all_dim_files = set()
    for v in range(1, dim.current_version() + 1):
        m = dim.manifest(v)
        for files in m["buckets"].values():
            all_dim_files |= {
                os.path.abspath(os.path.join(dim.root, p)) for p in files
            }
    assert dim_files and dim_files < all_dim_files


def test_retention_expiry_skips_proven_files_and_stays_jvm(spark, tmp_path):
    """The expiry pass opens NO file whose zonemap bounds prove no
    expiring row: on a time-clustered layout the kept-rows frame reads a
    strict subset of the table's files, and the whole pass is JVM-side
    (no Python of any kind in the rewrite plan)."""
    import os
    from urllib.parse import urlparse

    from kp_data_replication_spark.operators.retention import (
        candidate_buckets,
        expire_rows,
    )
    from kp_data_replication_spark.schema import CHANGELOG_SCHEMA
    from kp_data_replication_spark.sources.table_store import TableStore
    from kp_data_replication_spark.streaming.apply import CdcApplyEngine, EngineConfig
    from pyspark.sql import types as T

    IMG = T.StructType(CHANGELOG_SCHEMA["after"].dataType.fields
                       + [T.StructField("updated_at", T.LongType())])
    ENV = T.StructType([
        T.StructField("partition", T.IntegerType()),
        T.StructField("lsn", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("before", IMG),
        T.StructField("after", IMG),
        T.StructField("ts_ms", T.TimestampType()),
        T.StructField("headers", T.MapType(T.StringType(), T.StringType())),
        T.StructField("source_topic", T.StringType()),
    ])
    rows = [
        (i % 2, i, "c", None, ("t", f"k{i}", "c0", None, f"C{i}", i * 100),
         None, None, "repos")
        for i in range(64)
    ]
    store = TableStore(str(tmp_path / "t"), n_buckets=4)
    CdcApplyEngine(store, EngineConfig(metrics=False)).apply_batch(
        spark.createDataFrame(rows, ENV), 0)
    store.rewrite_buckets(spark, min_files=0, cluster_by=["updated_at"],
                          split_files=4)

    where = [("updated_at", "<", 1600)]
    cand = candidate_buckets(store, where)
    assert 0 < len(cand) <= store.n_buckets

    captured = {}
    orig = TableStore.commit

    def spy(self, merged, *a, **kw):
        captured["df"] = merged
        return orig(self, merged, *a, **kw)

    import pytest as _pytest
    mp = _pytest.MonkeyPatch()
    mp.setattr(TableStore, "commit", spy)
    try:
        out = expire_rows(spark, store, where)
    finally:
        mp.undo()
    assert out["status"] == "committed" and out["files_skipped"] > 0

    df = captured["df"]
    plan = plan_string(df)
    assert "Python" not in plan and "Pandas" not in plan, plan
    read = {urlparse(f).path for f in df.inputFiles()}
    m = store.manifest(store.current_version() - 1)
    all_files = set()
    for files in m["buckets"].values():
        all_files |= {os.path.abspath(os.path.join(store.root, p)) for p in files}
    assert read and read < all_files, "expiry must not open proven-clean files"


def test_scd2_epoch_broadcasts_closers_and_prunes_history_buckets(
    spark, tmp_path
):
    """The SCD2 epoch's committed frame: the open-interval close joins a
    BROADCAST batch-key side (the history slice is never shuffled for the
    close), the only sort-merge joins are the per-version CDF state diffs
    (FullOuter — data-scale both sides), no per-row Python anywhere, and
    the history read is bucket-pruned to a strict subset of the
    timeline's files."""
    import os
    from urllib.parse import urlparse

    from pyspark.sql import Row

    from kp_data_replication_spark.operators.scd import Scd2View
    from kp_data_replication_spark.schema import CHANGELOG_SCHEMA
    from kp_data_replication_spark.sources.table_store import TableStore
    from kp_data_replication_spark.streaming.apply import CdcApplyEngine, EngineConfig

    def env(path, op, content, lsn):
        img = Row(repo="t", path=str(path), commit="c0", lang="en",
                  content=content)
        return Row(partition=hash(str(path)) % 4, lsn=lsn, op=op,
                   before=img if op == "d" else None,
                   after=None if op == "d" else img,
                   ts_ms=None, headers=None, source_topic="repos")

    src = TableStore(str(tmp_path / "src"), n_buckets=8)
    engine = CdcApplyEngine(src, EngineConfig(metrics=False))
    view = Scd2View(str(tmp_path / "scd2"), n_buckets=8)
    engine.apply_batch(spark.createDataFrame(
        [env(f"k{i}", "c", f"C{i}", i) for i in range(64)],
        CHANGELOG_SCHEMA), 0)
    view.update(spark, src)

    # epoch touching two keys only
    engine.apply_batch(spark.createDataFrame(
        [env("k1", "u", "C1v2", 100), env("k2", "d", None, 101)],
        CHANGELOG_SCHEMA), 1)

    captured = {}
    orig = TableStore.commit

    def spy(self, merged, *a, **kw):
        if self.root == view.hist.root and merged is not None:
            captured["df"] = merged
        return orig(self, merged, *a, **kw)

    import pytest as _pytest
    mp = _pytest.MonkeyPatch()
    mp.setattr(TableStore, "commit", spy)
    try:
        view.update(spark, src)
    finally:
        mp.undo()

    df = captured["df"]
    plan = plan_string(df, mode="simple")
    assert_no_row_python(df)
    smj = [ln for ln in plan.splitlines() if "SortMergeJoin" in ln]
    assert all("FullOuter" in ln for ln in smj), plan
    assert "BroadcastHashJoin" in plan, plan
    # history read was bucket-pruned to the two touched keys' buckets
    hist_files = {
        urlparse(f).path
        for f in df.inputFiles()
        if urlparse(f).path.startswith(os.path.abspath(view.hist.root))
    }
    all_hist = set()
    m = view.hist.manifest(1)
    for files in m["buckets"].values():
        all_hist |= {
            os.path.abspath(os.path.join(view.hist.root, p)) for p in files
        }
    assert hist_files and hist_files < all_hist


def test_bm25_search_broadcasts_idf_and_reads_only_term_buckets(
    spark, tmp_path
):
    """search_bm25's committed plan: the per-term df/idf side is a
    BROADCAST join (postings are never shuffled for it), no per-row
    Python anywhere, and the postings scan reads ONLY the query terms'
    bucket files (manifest pruning via the write path's own hash)."""
    import os

    from kp_data_replication_spark.operators.text_index import (
        IncrementalTextIndex,
    )
    from kp_data_replication_spark.schema import CHANGELOG_SCHEMA
    from kp_data_replication_spark.sources.table_store import TableStore
    from kp_data_replication_spark.streaming.apply import (
        CdcApplyEngine,
        EngineConfig,
    )
    from pyspark.sql import Row

    def env(path, op, content, lsn):
        img = Row(repo="t", path=str(path), commit="c0", lang="en",
                  content=content)
        return Row(partition=hash(str(path)) % 4, lsn=lsn, op=op,
                   before=img if op == "d" else None,
                   after=None if op == "d" else img,
                   ts_ms=None, headers=None, source_topic="repos")

    src = TableStore(str(tmp_path / "src"), n_buckets=4)
    CdcApplyEngine(src, EngineConfig(metrics=False)).apply_batch(
        spark.createDataFrame(
            [env(i, "c", f"word{i % 7} merge stream doc {i}", i)
             for i in range(32)],
            CHANGELOG_SCHEMA,
        ),
        0,
    )
    idx = IncrementalTextIndex(str(tmp_path / "idx"), n_buckets=8)
    idx.update(spark, src)

    out = idx.search_bm25(spark, ["merge", "stream"], k=5)
    assert_broadcast_join(out)
    assert_no_row_python(out)

    term_buckets = idx.term_buckets(spark, ["merge", "stream"])
    allowed = {
        os.path.abspath(p)
        for p in idx.postings._bucket_files(term_buckets)
    }
    postings_root = os.path.abspath(idx.postings.root)
    read = {
        os.path.abspath(p.replace("file:", ""))
        for p in out.inputFiles()
        if os.path.abspath(p.replace("file:", "")).startswith(postings_root)
    }
    assert read and read <= allowed
    # and the pruning is real: some index bucket is NOT read
    all_files = {os.path.abspath(p) for p in idx.postings._bucket_files()}
    assert read < all_files


def test_shuffle_rank_never_plans_a_global_window(spark):
    """shards.shuffle_rank: the ranking window partitions by the hash
    slice — the plan must contain NO SinglePartition exchange (the global
    row_number trap), the slice-offset side joins broadcast, and the
    whole plan stays JVM-side."""
    from kp_data_replication_spark.operators.shards import shuffle_rank

    docs = spark.range(512).select(
        F.col("id").cast("string").alias("doc_id")
    )
    ranked = shuffle_rank(docs, ["doc_id"], seed="s")
    p = plan_string(ranked)
    assert "SinglePartition" not in p
    assert_broadcast_join(ranked)
    assert_no_row_python(ranked)


def test_dsir_plan_takeordered_topk_and_broadcast_ratios(spark):
    """dsir_select's global top-k must compile to TakeOrderedAndProject
    (per-partition heap + driver merge) — never a corpus-wide
    single-partition sort — and the bucket-ratio table must broadcast into
    the scoring join. Pure JVM end-to-end."""
    from kp_data_replication_spark.operators.clustering import dsir_select

    corpus = spark.range(0, 200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("word"), (F.col("id") % 17).cast("string"),
                 F.lit(" tail")).alias("text"),
    )
    target = spark.range(0, 3).select(
        F.col("id").alias("doc_id"), F.lit("word1 tail").alias("text")
    )
    out = dsir_select(corpus, target, n_keep=10)
    plan = plan_string(out)
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastExchange" in plan, plan
    assert_no_row_python(out)


def test_semdedup_plan_is_broadcast_and_equijoin_only(spark):
    """semdedup: the nearest-cell argmax is INLINED (round-6: the codebook
    is bounded by construction and collected driver-side, so the
    assignment is a map-side projection — the plan must contain NO
    nested-loop join at all, where it previously carried a
    crossJoin(broadcast centroids) fan-out + re-group); the pairwise
    cosine is a hash equi-join on cell; no CartesianProduct over data.
    Pure JVM end-to-end."""
    from kp_data_replication_spark.operators.similarity import semdedup

    emb = spark.range(0, 50).select(
        F.col("id").alias("vec_id"),
        F.array(F.col("id").cast("double"), F.lit(1.0)).alias("embedding"),
    )
    out = semdedup(emb, n_cells=4)
    plan = plan_string(out)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert_no_row_python(out)


def test_bpe_pair_counts_aggregates_vocab_before_explode(spark):
    """bpe_pair_counts must aggregate words BEFORE the bigram explode
    (vocab-first: the explode input is the distinct-word table, not raw
    token occurrences) — visible as an aggregate below the Generate node."""
    from kp_data_replication_spark.functions.text import bpe_pair_counts

    docs = spark.range(0, 20).select(
        F.col("id").alias("doc_id"),
        F.lit("alpha beta alpha gamma").alias("text"),
    )
    out = bpe_pair_counts(docs, top_n=5)
    plan = plan_string(out, mode="simple")
    # two Generates: word explode, then pair explode; a HashAggregate
    # must sit between them (the word-count compression step)
    gen_positions = [i for i, ln in enumerate(plan.splitlines())
                     if "Generate explode" in ln]
    agg_positions = [i for i, ln in enumerate(plan.splitlines())
                     if "HashAggregate" in ln]
    assert len(gen_positions) >= 2, plan
    # plan prints top-down: the pair explode (first Generate) must have an
    # aggregate BELOW it (higher line index) before the word explode (last)
    assert any(gen_positions[0] < a < gen_positions[-1] for a in agg_positions), plan
    assert_no_row_python(out)


def test_lm_score_stays_jvm_and_scans_corpus_once(spark):
    """lm_score: no Python anywhere (pure JVM expressions + joins), the
    scalar token total rides BROADCAST nested-loop crossJoins (never a
    shuffle of the corpus against a 1-row side), and the corpus relation
    appears exactly twice in the scan set — once as the training slice,
    once as the scoring side — i.e. the count-table joins never re-scan
    the corpus per leg."""
    from kp_data_replication_spark.operators.lm import lm_counts, lm_score

    docs = spark.range(0, 40).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta gamma doc"), F.col("id")).alias("text"),
        F.lit("en").alias("lang"),
    )
    out = lm_score(docs, lm_counts(docs.filter("lang = 'en'")))
    assert_no_row_python(out)
    plan = plan_string(out, mode="simple")
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # the 1-row totals side
    assert "CartesianProduct" not in plan, plan


def test_bpe_encoder_is_expression_only_trainer_aggregates_vocab(spark):
    """bpe_encode_tokens: the merge chain is literal replace expressions —
    no UDF, no join, nothing but scan -> explode -> project -> aggregate."""
    from kp_data_replication_spark.functions.bpe import (
        bpe_encode_tokens,
        bpe_train_merges,
    )

    docs = spark.range(0, 20).select(
        F.col("id").alias("doc_id"),
        F.lit("lower lowest newer newest").alias("text"),
    )
    merges = bpe_train_merges(docs, n_merges=3)
    out = bpe_encode_tokens(docs, merges)
    plan = plan_string(out, mode="simple")
    assert "Join" not in plan, plan
    assert_no_row_python(out)
    assert "ArrowEvalPython" not in plan, plan


def test_winnow_selection_single_doc_exchange_pure_jvm(spark):
    """winnow_fingerprints: both sliding-extremum windows share one
    (partition by doc, order by pos) sort — the plan must contain exactly
    ONE shuffle exchange (on doc) and ONE sort, no Python anywhere (the
    whole selection is expression + window), no broadcast/cartesian."""
    from kp_data_replication_spark.operators.winnow import winnow_fingerprints

    docs = spark.range(0, 64).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("the quick brown fox jumps over the lazy dog "),
                 F.col("id").cast("string")).alias("text"),
    )
    out = winnow_fingerprints(docs, k=16, w=8)
    plan = plan_string(out, mode="simple")
    # one doc-key exchange at most (zero here: the Range source already
    # clusters doc, and Spark proves it through the alias)
    assert count_exchanges(out) <= 1, plan
    assert plan.count("+- Sort ") == 1, plan  # one sort feeds both windows
    assert plan.count("Window") == 2, plan
    assert "Join" not in plan, plan
    assert_no_row_python(out)
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan, plan


def test_winnow_match_pairs_df_cap_before_equijoin(spark):
    """winnow_match_pairs: candidate-bounded fp equi-join only — no
    cartesian product, no SinglePartition exchange, JVM-side throughout."""
    from kp_data_replication_spark.operators.winnow import winnow_match_pairs

    docs = spark.range(0, 64).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("shared prefix of realistic length here "),
                 (F.col("id") % 7).cast("string")).alias("text"),
    )
    out = winnow_match_pairs(docs, k=16, w=8)
    plan = plan_string(out, mode="simple")
    assert "CartesianProduct" not in plan, plan
    assert "SinglePartition" not in plan, plan
    assert_no_row_python(out)


def test_fork_pairs_equijoin_only_no_cartesian(spark):
    """fork_pairs: repo pair space must never materialize — sha equi-join
    with the df cap upstream; no cartesian, no global exchange, pure JVM."""
    from kp_data_replication_spark.operators.forks import fork_pairs

    files = spark.range(0, 400).select(
        F.concat(F.lit("r"), (F.col("id") % 20).cast("string")).alias("repo"),
        F.concat(F.lit("sha"), (F.col("id") % 97).cast("string")).alias("sha"),
    )
    out = fork_pairs(files, min_jaccard=0.01, max_df=50)
    plan = plan_string(out, mode="simple")
    assert "CartesianProduct" not in plan, plan
    assert "SinglePartition" not in plan, plan
    assert_no_row_python(out)


def _epoch(spark, path, n_keys, version, lsn0):
    """One parquet file of ``n_keys`` events over 4 log partitions (key k
    lives on partition k % 4): creates at version 0, updates after."""
    from pyspark.sql import Row

    from kp_data_replication_spark.schema import CHANGELOG_SCHEMA

    rows = [
        Row(
            partition=k % 4,
            lsn=lsn0 + k,
            op="c" if version == 0 else "u",
            before=None,
            after=Row(
                repo=f"org/r{k % 7}",
                path=f"src/file_{k}.py",
                commit=f"c{version}",
                lang="py",
                content=f"content-{k}-v{version}",
            ),
            ts_ms=None,
            headers=None,
            source_topic="repos",
        )
        for k in range(n_keys)
    ]
    spark.createDataFrame(rows, CHANGELOG_SCHEMA).write.parquet(path)
    return spark.read.schema(CHANGELOG_SCHEMA).parquet(path)


def test_warm_apply_runs_one_stats_job_plus_the_write(spark, tmp_path):
    """A warm copy-on-write apply runs one aggregate over the slim winner
    stubs plus the merge write: no broadcast-size probe, no materialized
    full-width join-back, no lineage join. On a 4-bucket table (bootstrap,
    then one update epoch of 200 keys) the update's apply ran 14 Spark
    jobs with the probe + wide-cache stats + write plan and runs 10 with
    the one-stats-action plan."""
    from kp_data_replication_spark.sources.table_store import TableStore
    from kp_data_replication_spark.streaming.apply import (
        CdcApplyEngine,
        EngineConfig,
    )

    store = TableStore(str(tmp_path / "t"), n_buckets=4)
    engine = CdcApplyEngine(store, EngineConfig(metrics=False))
    boot = engine.apply_batch(_epoch(spark, str(tmp_path / "e0"), 200, 0, 0), 0)
    assert boot["status"] == "committed"
    update = _epoch(spark, str(tmp_path / "e1"), 200, 1, 1000)

    sc = spark.sparkContext
    gid = "plan-audit-warm-apply"
    sc.setJobGroup(gid, "warm apply")
    try:
        out = engine.apply_batch(update, 1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(gid))
    assert out["status"] == "committed" and out["keys_changed"] == 200
    assert out["compact_path"] == "broadcast"
    assert n_jobs < 14, n_jobs


def test_watermark_filter_is_a_literal_predicate_not_a_join(spark):
    """J3 on the apply path: the lineage is read driver-side, so the fresh
    filter is a literal map lookup — no join, no broadcast job."""
    from kp_data_replication_spark.operators.dedup_cdc import above_watermarks

    events = spark.createDataFrame(
        [(0, 3), (1, 9)], "partition int, lsn long"
    )
    fresh = events.filter(above_watermarks({0: 5, 1: 2}))
    plan = plan_string(fresh)
    assert "Join" not in plan, plan
    assert "BroadcastExchange" not in plan, plan
    assert [tuple(r) for r in fresh.collect()] == [(1, 9)]


def test_watermark_predicate_keeps_the_rows_filter_applied_keeps(spark):
    """Parity with the broadcast-join form: a partition with no lineage row
    (or a null watermark) passes every lsn >= 0, a null-lsn row is
    dropped, and an event at the watermark is already applied."""
    from kp_data_replication_spark.operators.dedup_cdc import above_watermarks

    events = spark.createDataFrame(
        [
            (0, 4, "a"), (0, 5, "b"), (0, 6, "c"),  # watermark 5
            (1, 0, "d"), (1, 1, "e"),  # watermark 0
            (2, 0, "f"), (2, 7, "g"),  # no lineage row
            (3, 0, "h"),  # null watermark
            (0, None, "i"), (2, None, "j"),  # unsequenceable
        ],
        "partition int, lsn long, v string",
    )
    applied = {0: 5, 1: 0, 3: None}
    lineage = spark.createDataFrame(
        list(applied.items()), "partition int, applied_lsn long"
    )
    want = sorted(tuple(r) for r in filter_applied(events, lineage).collect())
    got = sorted(tuple(r) for r in events.filter(above_watermarks(applied)).collect())
    assert got == want == [
        (0, 6, "c"), (1, 1, "e"), (2, 0, "f"), (2, 7, "g"), (3, 0, "h"),
    ]
    # no lineage at all: everything sequenceable is fresh
    empty = spark.createDataFrame([], "partition int, applied_lsn long")
    assert sorted(
        tuple(r) for r in events.filter(above_watermarks({})).collect()
    ) == sorted(tuple(r) for r in filter_applied(events, empty).collect())
