"""Winnowing fingerprints (operators/winnow.py) and repo-level fork
detection (operators/forks.py).

The winnowing reference implementation below is the PAPER's algorithm
(Schleimer et al. 2003, Fig. 5 shape): slide a w-window over k-gram
hashes, record each window's minimum position. With distinct hashes the
per-window minimum is unique, so the selected SET equals "positions that
are the min of at least one window" — exactly the closed form the Spark
operator computes with two sliding extrema. Ties select all tied minima
(documented superset semantics); the random corpora here use md5 so ties
never occur.
"""

from __future__ import annotations

import hashlib
import random

import pytest

from kp_data_replication_spark.operators.forks import fork_pairs, repo_file_sets
from kp_data_replication_spark.operators.winnow import (
    winnow_fingerprints,
    winnow_match_pairs,
)


def _ref_winnow(text: str, k: int, w: int) -> set[tuple[int, str]]:
    """Brute-force classic winnowing: every full window's minima (1-based)."""
    n = len(text) - k + 1
    if n < w:
        return set()
    hs = [hashlib.md5(text[i : i + k].encode()).hexdigest() for i in range(n)]
    out: set[tuple[int, str]] = set()
    for s in range(n - w + 1):
        window = hs[s : s + w]
        m = min(window)
        for j, h in enumerate(window):
            if h == m:
                out.add((s + j + 1, h))
    return out


def _rand_text(rng: random.Random, n: int) -> str:
    return "".join(rng.choice("abcdef gh") for _ in range(n))


def test_winnow_matches_bruteforce_reference(spark):
    rng = random.Random(7)
    docs = [(i, _rand_text(rng, rng.randint(5, 120))) for i in range(60)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    k, w = 8, 5
    got = {
        (r["doc"], r["pos"], r["fp"])
        for r in winnow_fingerprints(df, k=k, w=w).collect()
    }
    exp = {
        (i, pos, fp) for i, t in docs for (pos, fp) in _ref_winnow(t, k, w)
    }
    assert got == exp and exp  # non-vacuous: some docs are long enough


def test_winnow_guarantee_shared_substring(spark):
    # any shared substring of length >= w + k - 1 shares a fingerprint
    rng = random.Random(11)
    k, w = 16, 8
    shared = _rand_text(rng, k + w - 1)
    a = _rand_text(rng, 200) + shared + _rand_text(rng, 150)
    b = _rand_text(rng, 90) + shared + _rand_text(rng, 300)
    df = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
    rows = winnow_fingerprints(df, k=k, w=w).collect()
    fps1 = {r["fp"] for r in rows if r["doc"] == 1}
    fps2 = {r["fp"] for r in rows if r["doc"] == 2}
    assert fps1 & fps2


def test_winnow_short_doc_selects_nothing(spark):
    k, w = 16, 8
    df = spark.createDataFrame(
        [(1, "x" * (k + w - 2)), (2, "y" * (k + w - 1))],
        "doc_id long, text string",
    )
    rows = winnow_fingerprints(df, k=k, w=w).collect()
    assert {r["doc"] for r in rows} == {2}


def test_winnow_density_is_near_two_over_w_plus_one(spark):
    rng = random.Random(23)
    k, w = 8, 7
    text = _rand_text(rng, 8000)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    n_sel = winnow_fingerprints(df, k=k, w=w).count()
    n_pos = len(text) - k + 1
    density = n_sel / n_pos
    assert 0.5 * 2 / (w + 1) < density < 2.0 * 2 / (w + 1)


def test_winnow_match_pairs_planted_clone_and_df_cap(spark):
    rng = random.Random(31)
    k, w = 16, 8
    clone = _rand_text(rng, 120)  # >> w + k - 1: many shared fingerprints
    boiler = _rand_text(rng, 120)  # license header present in EVERY doc
    docs = [(i, boiler + " " + _rand_text(rng, 250)) for i in range(12)]
    docs[3] = (3, docs[3][1] + clone)
    docs[9] = (9, clone + docs[9][1])
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = {
        (r["doc1"], r["doc2"]): r["n_shared"]
        for r in winnow_match_pairs(
            df, k=k, w=w, min_shared=2, max_df=4
        ).collect()
    }
    # the planted clone pair survives; boilerplate-only pairs are killed
    # by the df cap (its fingerprints occur in all 12 docs > max_df=4)
    assert (3, 9) in pairs and pairs[(3, 9)] >= 2
    assert all(p == (3, 9) for p in pairs)


def test_fork_pairs_exact_and_partial(spark):
    # repo a: files 0..9; repo b: fork of a missing 2, plus 1 new file;
    # repo c: disjoint; every repo also carries one ubiquitous sha (capped)
    rows = []
    for i in range(10):
        rows.append(("a", f"sha{i}"))
    rows += [("b", f"sha{i}") for i in range(8)] + [("b", "shaX")]
    rows += [("c", f"other{i}") for i in range(6)]
    rows += [(r, "LICENSE") for r in ("a", "b", "c")]
    files = spark.createDataFrame(rows, "repo string, sha string")
    got = {
        (r["repo1"], r["repo2"]): (r["n_common"], r["n1"], r["n2"], r["jaccard"])
        for r in fork_pairs(files, min_jaccard=0.3, max_df=2).collect()
    }
    # capped universe: LICENSE (df=3 > 2) excluded from sizes AND common
    assert got == {("a", "b"): (8, 10, 9, round(8 / (10 + 9 - 8), 4))}


def test_repo_file_sets_distinct(spark):
    state = spark.createDataFrame(
        [("a", "f1", "s1"), ("a", "f2", "s1"), ("a", "f3", "s2")],
        "repo string, path string, content_sha string",
    )
    got = {
        (r["repo"], r["sha"]) for r in repo_file_sets(state).collect()
    }
    assert got == {("a", "s1"), ("a", "s2")}


# ------------------------------------------------------- incremental index
from pyspark.sql import Row

from kp_data_replication_spark.operators.forks import IncrementalForkIndex
from kp_data_replication_spark.schema import CHANGELOG_SCHEMA
from kp_data_replication_spark.sources.table_store import TableStore
from kp_data_replication_spark.streaming.apply import CdcApplyEngine, EngineConfig


def _fenv(repo, path, op, text, lsn):
    img = Row(repo=repo, path=path, commit="c0", lang="py", content=text)
    return Row(
        partition=lsn % 4, lsn=lsn, op=op,
        before=img if op == "d" else None,
        after=None if op == "d" else img,
        ts_ms=None, headers=None, source_topic="repos",
    )


def _fork_parity(spark, src, index):
    full = {
        tuple(r) for r in fork_pairs(
            repo_file_sets(src.read_state(spark)), min_jaccard=0.2, max_df=64
        ).collect()
    }
    inc = {
        tuple(r) for r in index.fork_pairs_view(
            spark, min_jaccard=0.2, max_df=64
        ).collect()
    }
    assert inc == full, (sorted(inc), sorted(full))
    return inc


def test_fork_index_tracks_insert_update_delete(spark, tmp_path):
    src = TableStore(str(tmp_path / "src"), n_buckets=4)
    engine = CdcApplyEngine(src, EngineConfig(metrics=False))
    index = IncrementalForkIndex(str(tmp_path / "idx"), n_buckets=4)

    # epoch 0: repo a files f0..f5; repo b forks f0..f4 + own f9
    batch0 = [_fenv("a", f"f{i}", "c", f"text {i}", i) for i in range(6)]
    batch0 += [_fenv("b", f"f{i}", "c", f"text {i}", 100 + i) for i in range(5)]
    batch0.append(_fenv("b", "f9", "c", "unique to b", 109))
    engine.apply_batch(spark.createDataFrame(batch0, CHANGELOG_SCHEMA), 0)
    out0 = index.update(spark, src)
    assert out0["status"] == "committed" and out0["n_changed"] == 12
    pairs = _fork_parity(spark, src, index)
    assert any(p[0] == "a" and p[1] == "b" for p in pairs)

    # epoch 1: b's f0 rewritten (sha drifts), a gains f6
    batch1 = [
        _fenv("b", "f0", "u", "diverged content", 200),
        _fenv("a", "f6", "c", "text 6", 201),
    ]
    engine.apply_batch(spark.createDataFrame(batch1, CHANGELOG_SCHEMA), 1)
    assert index.update(spark, src)["n_changed"] == 2
    _fork_parity(spark, src, index)

    # epoch 2: delete all of b's shared files -> pair dissolves
    batch2 = [_fenv("b", f"f{i}", "d", f"text {i}", 300 + i) for i in range(1, 5)]
    engine.apply_batch(spark.createDataFrame(batch2, CHANGELOG_SCHEMA), 2)
    index.update(spark, src)
    pairs = _fork_parity(spark, src, index)
    assert not pairs
    assert index.update(spark, src)["status"] == "noop"


def test_fork_index_sweep_never_reads_corpus_text(spark, tmp_path):
    """The defining property: the sweep's scan schema is the slim index
    row (repo, path, sha) — content bytes are not in the plan."""
    from kp_data_replication_spark.plans.audit import plan_string

    src = TableStore(str(tmp_path / "src"), n_buckets=4)
    engine = CdcApplyEngine(src, EngineConfig(metrics=False))
    index = IncrementalForkIndex(str(tmp_path / "idx"), n_buckets=4)
    engine.apply_batch(
        spark.createDataFrame(
            [_fenv("a", "f0", "c", "long corpus text " * 50, 1)],
            CHANGELOG_SCHEMA,
        ),
        0,
    )
    index.update(spark, src)
    plan = plan_string(index.fork_pairs_view(spark), mode="formatted")
    assert "content" not in plan, plan
    assert str(tmp_path / "idx") in plan.replace("file:", "") or "sha" in plan


def test_streaming_integrated_fork_index(spark, tmp_path):
    """``start_stream(derived=[index.update])`` advances the sha index
    inside the epoch loop; the table-committed/index-stale crash window
    heals on resume."""
    import glob
    import os as _os
    import shutil

    cl = tmp_path / "cl"
    cl.mkdir()
    src = TableStore(str(tmp_path / "src"), n_buckets=4)
    cp = str(tmp_path / "cp")
    idx_dir = str(tmp_path / "idx")
    engine = CdcApplyEngine(src, EngineConfig(metrics=False))
    index = IncrementalForkIndex(idx_dir, n_buckets=4)

    def put(name, rows):
        tmp = str(tmp_path / ("_w_" + name))
        spark.createDataFrame(rows, CHANGELOG_SCHEMA).coalesce(1).write.mode(
            "overwrite").parquet(tmp)
        shutil.move(glob.glob(tmp + "/part-*.parquet")[0],
                    str(cl / (name + ".parquet")))

    put("f0", [_fenv("a", f"f{i}", "c", f"text {i}", i) for i in range(4)]
        + [_fenv("b", f"f{i}", "c", f"text {i}", 100 + i) for i in range(3)])
    q = engine.start_stream(spark, str(cl), cp, CHANGELOG_SCHEMA,
                            max_files_per_trigger=1,
                            derived=[index.update])
    q.awaitTermination()
    assert index.update(spark, src)["status"] == "noop"
    _fork_parity(spark, src, index)

    # crash window: table commits, index stays stale
    put("f1", [_fenv("b", "f3", "c", "text 3", 200)])
    stream_writer = f"stream:{_os.path.abspath(cp)}"
    df1 = spark.read.schema(CHANGELOG_SCHEMA).parquet(str(cl / "f1.parquet"))
    assert engine.apply_batch(df1, 1, writer_id=stream_writer)["status"] == "committed"
    assert index.store.writer_epoch(
        f"fork-index:{_os.path.abspath(src.root)}") < src.current_version()

    q = engine.start_stream(spark, str(cl), cp, CHANGELOG_SCHEMA,
                            max_files_per_trigger=1,
                            derived=[index.update])
    q.awaitTermination()
    _fork_parity(spark, src, index)
