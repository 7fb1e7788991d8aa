"""Incremental inverted text index + BM25 search: multi-epoch parity vs
full recompute (term drop retraction, doc delete), merge-on-read delta
shape (O(batch) appends, no base rewrite), threshold fold preserving the
term-bucket layout, writer fencing, and bucket-pruned search reads."""

from __future__ import annotations

import math

from pyspark.sql import Row
from pyspark.sql import functions as F

from kp_data_replication_spark.operators.text_index import (
    IncrementalTextIndex,
    _KEY_SEP,
)
from kp_data_replication_spark.schema import CHANGELOG_SCHEMA
from kp_data_replication_spark.sources.table_store import TableStore
from kp_data_replication_spark.streaming.apply import CdcApplyEngine, EngineConfig


def _env(doc_id, op, text, lsn):
    img = Row(repo="corpus", path=str(doc_id), commit="c0", lang="en",
              content=text)
    return Row(
        partition=doc_id % 4, lsn=lsn, op=op,
        before=img if op == "d" else None,
        after=None if op == "d" else img,
        ts_ms=None, headers=None, source_topic="repos",
    )


def _apply(spark, engine, batch, epoch):
    engine.apply_batch(spark.createDataFrame(batch, CHANGELOG_SCHEMA), epoch)


def _setup(tmp_path, n_buckets=8, **idx_kw):
    src = TableStore(str(tmp_path / "src"), n_buckets=4)
    engine = CdcApplyEngine(src, EngineConfig(metrics=False))
    idx = IncrementalTextIndex(
        str(tmp_path / "idx"), n_buckets=n_buckets, **idx_kw
    )
    return src, engine, idx


def _tok(text):
    import re
    return [t for t in re.split("[^a-z0-9]+", (text or "").lower()) if t]


def _expected_postings(spark, src):
    """Recompute postings from the source's CURRENT state — what the
    incrementally maintained index must equal at every epoch."""
    out = {}
    for r in src.read_state(spark).collect():
        toks = _tok(r["content"])
        for t in set(toks):
            out[(t, r["repo"], r["path"])] = (toks.count(t), len(toks))
    return out


def _got_postings(spark, idx):
    return {
        (r["term"], r["repo"], r["path"]): (r["tf"], r["dl"])
        for r in idx.read_postings(spark).collect()
    }


def _bm25_brute(spark, src, terms, k1=1.2, b=0.75):
    """Driver-side BM25 over the raw corpus (the O(corpus) answer the
    index must reproduce)."""
    docs = {
        (r["repo"], r["path"]): _tok(r["content"])
        for r in src.read_state(spark).collect()
    }
    n = len(docs)
    avgdl = sum(len(t) for t in docs.values()) / n
    df = {
        t: sum(1 for toks in docs.values() if t in toks) for t in terms
    }
    out = {}
    for key, toks in docs.items():
        s = 0.0
        for t in terms:
            tf = toks.count(t)
            if not tf:
                continue
            idf = math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5))
            s += idf * tf * (k1 + 1) / (
                tf + k1 * (1 - b + b * len(toks) / avgdl)
            )
        if s > 0:
            out[key] = round(s, 4)
    return out


def test_postings_parity_through_insert_update_delete(spark, tmp_path):
    src, engine, idx = _setup(tmp_path)

    # epoch 0: inserts
    b0 = [
        _env(0, "c", "spark merge spark batch", 0),
        _env(1, "c", "vector scan merge", 1),
        _env(2, "c", "the quick stream", 2),
    ]
    _apply(spark, engine, b0, 0)
    out = idx.update(spark, src)
    assert out["status"] == "committed" and not out["mor_delta"]
    assert _got_postings(spark, idx) == _expected_postings(spark, src)

    # epoch 1: update doc 0 DROPPING 'merge' and 'batch' (term retraction),
    # update doc 1 changing tf of 'merge'; insert doc 3
    b1 = [
        _env(0, "u", "spark spark stream", 100),
        _env(1, "u", "merge merge vector", 101),
        _env(3, "c", "batch window", 102),
    ]
    _apply(spark, engine, b1, 1)
    out = idx.update(spark, src)
    assert out["status"] == "committed" and out["mor_delta"]
    got = _got_postings(spark, idx)
    assert got == _expected_postings(spark, src)
    assert ("merge", "corpus", "0") not in got      # retracted
    assert got[("merge", "corpus", "1")] == (2, 3)  # tf updated, dl updated

    # epoch 2: delete doc 1 entirely; update doc 2 to empty text
    b2 = [_env(1, "d", "merge merge vector", 200),
          _env(2, "u", "", 201)]
    _apply(spark, engine, b2, 2)
    idx.update(spark, src)
    got = _got_postings(spark, idx)
    assert got == _expected_postings(spark, src)
    assert not any(p == "1" for (_, _, p) in got)
    assert not any(p == "2" for (_, _, p) in got)   # emptied doc
    # doclen sidecar: deleted doc gone, emptied doc dl=0
    dl = {(r["repo"], r["path"]): r["dl"]
          for r in idx.doclen.read_state(spark).collect()}
    assert ("corpus", "1") not in dl and dl[("corpus", "2")] == 0

    # fencing: re-update is a noop
    assert idx.update(spark, src)["status"] == "noop"


def test_mor_delta_is_o_batch_and_fold_preserves_layout(spark, tmp_path):
    src, engine, idx = _setup(tmp_path, fold_max_layers=3)

    _apply(spark, engine,
           [_env(i, "c", f"common term{i % 5} word{i}", i)
            for i in range(40)], 0)
    idx.update(spark, src)
    base_manifest = idx.postings.current_manifest()
    base_files = {b: list(fs) for b, fs in base_manifest["buckets"].items()}
    assert not base_manifest.get("mor")

    # epochs 1-2: tiny updates -> MoR layers appended, base files untouched
    for e in (1, 2):
        _apply(spark, engine,
               [_env(0, "u", f"common epoch{e} freshword{e}", 1000 * e)], e)
        out = idx.update(spark, src)
        assert out["mor_delta"] and not out["folded_buckets"]
        m = idx.postings.current_manifest()
        assert m.get("mor")  # layered
        for b, fs in base_files.items():
            assert set(fs) <= set(m["buckets"][b])  # append, never rewrite
        assert _got_postings(spark, idx) == _expected_postings(spark, src)

    # epoch 3 crosses fold_max_layers=3 on the hot buckets -> folded
    _apply(spark, engine,
           [_env(0, "u", "common epoch3 freshword3", 3000)], 3)
    out = idx.update(spark, src)
    assert out["folded_buckets"]
    m = idx.postings.current_manifest()
    for b in out["folded_buckets"]:
        assert not (m.get("mor") or {}).get(str(b))
    # layout preserved: every term still readable via ITS bucket alone
    assert _got_postings(spark, idx) == _expected_postings(spark, src)
    for term in ("common", "freshword3", "term0"):
        rows = idx.postings_for(spark, [term]).collect()
        want = {k for k in _expected_postings(spark, src) if k[0] == term}
        assert {r["repo"] for r in rows} == ({term} if want else set())
        assert len(rows) == len(want)


def test_search_bm25_matches_brute_force_and_prunes(spark, tmp_path):
    src, engine, idx = _setup(tmp_path)
    b0 = [
        _env(0, "c", "spark merge spark merge spark", 0),
        _env(1, "c", "merge vector scan", 1),
        _env(2, "c", "stream window group by key", 2),
        _env(3, "c", "merge", 3),
        _env(4, "c", "totally unrelated words here", 4),
    ]
    _apply(spark, engine, b0, 0)
    # an epoch so search runs over layered buckets too
    _apply(spark, engine, [_env(2, "u", "stream merge stream", 100)], 1)
    idx.update(spark, src)

    terms = ["merge", "stream"]
    got = {
        (r["repo"], r["path"]): (r["score"], r["n_terms"])
        for r in idx.search_bm25(spark, terms, k=10).collect()
    }
    want = _bm25_brute(spark, src, terms)
    assert {k: v[0] for k, v in got.items()} == want
    assert got[("corpus", "2")][1] == 2          # matched both terms
    assert ("corpus", "4") not in got            # no query term -> absent

    # top-k cut: k=1 returns the single best-scoring doc
    top = idx.search_bm25(spark, terms, k=1).collect()
    assert len(top) == 1
    best = max(want.items(), key=lambda kv: (kv[1], kv[0]))
    # ordering is (score desc, key asc); verify against brute force
    max_score = max(want.values())
    ties = sorted(k for k, v in want.items() if v == max_score)
    assert (top[0]["repo"], top[0]["path"]) == ties[0]
    assert best[1] == top[0]["score"]

    # bucket pruning: the query reads only its terms' buckets, a strict
    # subset of the index's populated buckets
    qb = idx.term_buckets(spark, terms)
    all_b = sorted(
        int(b) for b in idx.postings.current_manifest()["buckets"]
    )
    assert set(qb) < set(all_b)
    # and the pruned read still resolves the layered bucket correctly
    p = idx.postings_for(spark, terms)
    assert p.filter(
        (F.col("repo") == "stream")
        & (F.col("path") == f"corpus{_KEY_SEP}2")
    ).collect()[0]["tf"] == 2


def _phrase_brute(spark, src, phrase):
    """Driver-side exact phrase count over the raw corpus."""
    words = phrase.lower().split()
    out = {}
    for r in src.read_state(spark).collect():
        toks = _tok(r["content"])
        n = sum(
            1 for i in range(len(toks) - len(words) + 1)
            if toks[i:i + len(words)] == words
        )
        if n:
            out[(r["repo"], r["path"])] = n
    return out


def test_positions_and_phrase_search(spark, tmp_path):
    src, engine, idx = _setup(tmp_path)
    b0 = [
        _env(0, "c", "fast merge then fast merge again", 0),
        _env(1, "c", "merge fast is not fast merge", 1),
        _env(2, "c", "fast and merge apart", 2),
        _env(3, "c", "fast fast fast", 3),
    ]
    _apply(spark, engine, b0, 0)
    idx.update(spark, src)

    # positions recorded 1-based and sorted
    pos = {
        (r["repo"], r["path"]): r["pos"]
        for r in idx.postings.read_state(spark).collect()
    }
    assert pos[("fast", f"corpus{_KEY_SEP}0")] == [1, 4]
    assert pos[("fast", f"corpus{_KEY_SEP}3")] == [1, 2, 3]

    for phrase in ("fast merge", "fast fast", "merge fast is", "absent words"):
        got = {
            (r["repo"], r["path"]): r["n_hits"]
            for r in idx.search_phrase(spark, phrase).collect()
        }
        assert got == _phrase_brute(spark, src, phrase), phrase
    # doc 2 has both words but never adjacent
    assert ("corpus", "2") not in {
        (r["repo"], r["path"])
        for r in idx.search_phrase(spark, "fast merge").collect()
    }

    # retraction: update doc 0 so the phrase moves; delete doc 1 — the
    # phrase hits must follow the index, layered buckets included
    _apply(spark, engine, [
        _env(0, "u", "no phrase here except fast merge", 100),
        _env(1, "d", "merge fast is not fast merge", 101),
    ], 1)
    idx.update(spark, src)
    got = {
        (r["repo"], r["path"]): r["n_hits"]
        for r in idx.search_phrase(spark, "fast merge").collect()
    }
    assert got == _phrase_brute(spark, src, "fast merge") == {
        ("corpus", "0"): 1
    }


def test_streaming_integrated_kill_and_resume(spark, tmp_path):
    """The index advances INSIDE the streaming epoch loop
    (``start_stream(derived=[idx.update])``). Worst crash window — table committed,
    process dies before the index advance — heals on resume via the fenced
    catch-up; postings equal full recompute at the end."""
    import glob
    import os
    import shutil

    cl = tmp_path / "cl"
    cl.mkdir()
    src = TableStore(str(tmp_path / "src"), n_buckets=4)
    cp = str(tmp_path / "cp")
    idx_dir = str(tmp_path / "tidx")
    engine = CdcApplyEngine(src, EngineConfig(metrics=False))
    idx = IncrementalTextIndex(idx_dir, n_buckets=8)

    def put(name, rows):
        tmp = str(tmp_path / ("_w_" + name))
        spark.createDataFrame(rows, CHANGELOG_SCHEMA).coalesce(1).write.mode(
            "overwrite").parquet(tmp)
        shutil.move(glob.glob(tmp + "/part-*.parquet")[0],
                    str(cl / (name + ".parquet")))

    put("f0", [_env(0, "c", "spark merge batch", 0),
               _env(1, "c", "vector scan", 1)])
    q = engine.start_stream(spark, str(cl), cp, CHANGELOG_SCHEMA,
                            max_files_per_trigger=1,
                            derived=[idx.update])
    q.awaitTermination()
    assert idx.update(spark, src)["status"] == "noop"  # stream kept it current
    assert _got_postings(spark, idx) == _expected_postings(spark, src)

    # crash window: epoch 1's TABLE half commits under the stream's writer
    # identity; the process "dies" before the index advance
    put("f1", [_env(0, "u", "spark stream", 100),
               _env(1, "d", "vector scan", 101)])
    stream_writer = f"stream:{os.path.abspath(cp)}"
    df1 = spark.read.schema(CHANGELOG_SCHEMA).parquet(str(cl / "f1.parquet"))
    assert engine.apply_batch(df1, 1, writer_id=stream_writer)[
        "status"] == "committed"
    writer = f"text-index:{os.path.abspath(src.root)}"
    assert idx.postings.writer_epoch(writer) < src.current_version()

    put("f2", [_env(2, "c", "merge window group", 200)])
    q = engine.start_stream(spark, str(cl), cp, CHANGELOG_SCHEMA,
                            max_files_per_trigger=1,
                            derived=[idx.update])
    q.awaitTermination()
    assert _got_postings(spark, idx) == _expected_postings(spark, src)
    got = {
        (r["repo"], r["path"]): r["score"]
        for r in idx.search_bm25(spark, ["merge", "stream"], k=5).collect()
    }
    assert got == _bm25_brute(spark, src, ["merge", "stream"])


def test_crash_between_doclen_and_postings_commit_resumes(spark, tmp_path):
    src, engine, idx = _setup(tmp_path)
    _apply(spark, engine, [_env(0, "c", "alpha beta", 0)], 0)
    idx.update(spark, src)

    _apply(spark, engine, [_env(1, "c", "beta gamma", 100)], 1)
    # simulate the crash window: sidecar advanced, postings commit lost
    from kp_data_replication_spark.operators.changefeed import table_changes_cdf
    writer = f"text-index:{__import__('os').path.abspath(src.root)}"
    cdf = table_changes_cdf(spark, src, 1, 2)
    idx._advance_doclen(spark, cdf, 2, writer)
    assert idx.doclen.writer_epoch(writer) == 2
    assert idx.postings.writer_epoch(writer) == 1

    # resume: one update() call lands everything exactly once
    out = idx.update(spark, src)
    assert out["status"] == "committed"
    assert _got_postings(spark, idx) == _expected_postings(spark, src)
    dl = {r["path"]: r["dl"] for r in idx.doclen.read_state(spark).collect()}
    assert dl == {"0": 2, "1": 2}
