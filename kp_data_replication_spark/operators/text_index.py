"""Incremental inverted text index (term postings) maintained from the
changefeed, with BM25 ranked search — LSM-layered via merge-on-read.

The missing retrieval half of the training-data suite: the corpus the CDC
engine replicates (the reference mirrors document-bearing topics,
docs/index.md:17-52) is what downstream teams SEARCH — "which documents
mention X", ranked. The batch answer (re-tokenize the corpus per query) is
O(corpus); a per-epoch-maintained inverted index answers a query from the
postings of its terms alone.

Why merge-on-read and not the dirty-bucket CoW MERGE every other
incremental index here uses: postings are keyed by TERM (that is the point
— a query prunes to its terms' buckets), and a changed document's terms
hash UNIFORMLY across the term-bucket space, so even a small batch dirties
most buckets. Copy-on-write would rewrite nearly the whole index per epoch
— O(index), the exact objection operators/decontam_index.py records
against shingle-keyed inverted structure. The LSM answer (what Lucene
segments are): append the epoch's postings as an O(batch) delta layer per
bucket (``TableStore.commit(mor=True)`` — no base read, no merge join) and
fold layers back into scan-fast base files on a threshold, amortized. Per
epoch the write cost is O(changed docs x terms/doc) regardless of index
size; reads pay the last-layer-wins window only on still-layered buckets.

Retraction needs the OLD terms, so the update reads the full-CDF
changefeed (``table_changes_cdf`` — exact diff with pre-images): terms
present in a doc's pre-image but not its post-image become tombstone
postings; every post-image term is (re)asserted with its new tf. Postings
carry the doc length ``dl`` denormalized (the Lucene norms trade): a doc's
postings are all rewritten when the doc changes anyway, and search then
never joins a doc-length table per posting. A slim (doc -> dl) sidecar exists only for
the corpus constants N and avgdl.

Keys/buckets: a posting's TableStore key is (repo=term, path=doc-key)
— merge-on-read last-layer-wins resolves per (term, doc) — but its BUCKET
is ``hash(term) % n_buckets`` (``bucket_expr(n, ["repo"])``), so
``search_bm25`` reads only the query terms' buckets (manifest-pruned file
set, same mechanism as ``TableStore.lookup``). Folds pass
``key_cols=["repo"]`` so compaction preserves the term layout.

Scale shape at 10^9 docs / 10^6-term vocabulary: postings ~ 10^11 slim
rows across thousands of term buckets; an epoch of 10^4 changed docs
appends ~10^6 posting rows spread as one small delta file per touched
bucket — file-count pressure, not byte pressure, which the threshold fold
absorbs (exactly Lucene's segment-merge policy). A query of q terms reads
q buckets' base+delta files, one shuffle on the doc key to sum per-doc
scores, top-k heap — independent of corpus size except through posting
list length, the inverted-index contract.

Exactly-once / resume: writer-fenced per source version like every index
here (Delta txnAppId pattern); the doclen sidecar commits FIRST and the
postings store holds the cursor, so a crash between the two commits
replays cleanly (the sidecar's re-commit is fenced, the postings commit
proceeds). Registers as a changefeed consumer for vacuum auto-pin.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema import MOR_DELETED_COL, MOR_V_COL
from ..sources.table_store import BUCKET_COL, TableStore, bucket_expr
from .changefeed import CHANGE_TYPE_COL, table_changes_cdf
from .merge import merge_upsert

# composite (repo, path) -> doc-key separator; \x01 never occurs in names
_KEY_SEP = "\x01"
# one token definition, shared verbatim by the index build, the search
# probe, and the DuckDB oracle: lowercase maximal [a-z0-9] runs
_TOKEN_SPLIT = "[^a-z0-9]+"

POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),   # the TERM (bucket key)
        T.StructField("path", T.StringType()),   # the doc key
        T.StructField("tf", T.LongType()),       # term frequency in doc
        T.StructField("dl", T.LongType()),       # doc length (denormalized)
        # 1-based token ordinals of the term's occurrences (sorted) — the
        # positional-postings payload phrase search intersects; bounded by
        # tf, so the posting row stays O(occurrences)
        T.StructField("pos", T.ArrayType(T.LongType())),
    ]
)

DOCLEN_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("dl", T.LongType()),
    ]
)

_TERM_KEY = ["repo"]  # postings bucket on the term alone


def _tokens(col: F.Column) -> F.Column:
    """Array of lowercase tokens of a text column (empties filtered; null
    text -> empty array). Pure JVM split — no UDF in the tokenize path."""
    return F.filter(
        F.split(F.lower(F.coalesce(col, F.lit(""))), _TOKEN_SPLIT),
        lambda x: x != "",
    )


def _term_freqs(df: DataFrame, text_col: str) -> DataFrame:
    """(doc, term, tf, dl, pos) rows for each input doc — ONE split per
    row, one bounded explode (terms of changed docs only, never the
    corpus). ``pos`` is the sorted 1-based ordinal list of the term's
    occurrences (matching SQL's UNNEST WITH ORDINALITY convention)."""
    toks = df.select(
        F.concat_ws(_KEY_SEP, F.col("repo"), F.col("path")).alias("doc"),
        _tokens(F.col(text_col)).alias("_toks"),
    ).select(
        "doc",
        F.size("_toks").alias("dl"),
        F.posexplode("_toks").alias("_p", "term"),
    )
    return toks.groupBy("doc", "term", "dl").agg(
        F.count(F.lit(1)).alias("tf"),
        F.sort_array(
            F.collect_list((F.col("_p") + 1).cast("long"))
        ).alias("pos"),
    )


class IncrementalTextIndex:
    """Persisted inverted index over a source TableStore's text column:
    term-bucketed postings (merge-on-read layered) + doc-length sidecar,
    advanced per-epoch from the full-CDF changefeed."""

    WRITER_PREFIX = "text-index"

    def __init__(self, root: str, n_buckets: int = 8,
                 fold_max_layers: int = 8):
        self.root = root
        self.postings = TableStore(
            os.path.join(root, "postings"), n_buckets=n_buckets
        )
        self.doclen = TableStore(
            os.path.join(root, "doclen"), n_buckets=n_buckets
        )
        self.fold_max_layers = fold_max_layers

    # ------------------------------------------------------------------ #
    def update(self, spark: SparkSession, src: TableStore,
               text_col: str = "content") -> dict:
        """Advance the index to the source's current version. Idempotent
        (writer-fenced); per-epoch cost O(changed docs x terms/doc)."""
        writer = f"{self.WRITER_PREFIX}:{os.path.abspath(src.root)}"
        last = max(self.postings.writer_epoch(writer), 0)
        head = src.current_version()
        if head <= last:
            return {"status": "noop", "from": last, "to": head}
        consumer = f"{self.WRITER_PREFIX}:{os.path.abspath(self.root)}"
        if last > 0:
            src.record_consumer(consumer, last)

        cdf = table_changes_cdf(spark, src, last, head)
        pre = cdf.filter(
            F.col(CHANGE_TYPE_COL).isin("delete", "update_preimage")
        ).select("repo", "path", text_col)
        post = cdf.filter(
            F.col(CHANGE_TYPE_COL).isin("insert", "update_postimage")
        ).select("repo", "path", text_col)

        new_p = _term_freqs(post, text_col)
        # retract (term, doc) pairs the new image no longer contains;
        # pairs that persist are simply overwritten by the new posting
        # (last-layer-wins), so no old-vs-new tf comparison is needed
        drops = _term_freqs(pre, text_col).select("doc", "term").join(
            new_p.select("doc", "term"), ["doc", "term"], "left_anti"
        )
        delta = new_p.select(
            F.col("term").alias("repo"),
            F.col("doc").alias("path"),
            F.col("tf").cast("long").alias("tf"),
            F.col("dl").cast("long").alias("dl"),
            F.col("pos").cast("array<long>").alias("pos"),
            F.lit(False).alias("_del"),
        ).unionByName(
            drops.select(
                F.col("term").alias("repo"),
                F.col("doc").alias("path"),
                F.lit(None).cast("long").alias("tf"),
                F.lit(None).cast("long").alias("dl"),
                F.lit(None).cast("array<long>").alias("pos"),
                F.lit(True).alias("_del"),
            )
        ).cache()
        try:
            n_b = self.postings.n_buckets
            stats = (
                delta.groupBy(bucket_expr(n_b, _TERM_KEY).alias("b"))
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            )
            if not stats:
                # physical-only rewrites in range: advance the cursor only
                self._advance_doclen(spark, cdf, head, writer)
                self.postings.commit(None, [], [], head, POSTINGS_SCHEMA,
                                     writer_id=writer)
                src.record_consumer(consumer, head)
                return {"status": "committed", "from": last, "to": head,
                        "n_postings_delta": 0, "dirty_term_buckets": 0,
                        "mor_delta": False}
            dirty = sorted(r["b"] for r in stats)
            n_delta = sum(r["n"] for r in stats)

            # sidecar first; the postings store holds the cursor (see
            # module docstring's crash-ordering argument)
            self._advance_doclen(spark, cdf, head, writer)

            mor = bool(self.postings._bucket_files(dirty))
            if mor:
                base_version = self.postings.current_version()
                merged = delta.withColumn(
                    MOR_DELETED_COL, F.col("_del")
                ).drop("_del").select(
                    *[F.col(f.name).cast(f.dataType)
                      for f in POSTINGS_SCHEMA.fields],
                    F.col(MOR_DELETED_COL),
                    F.lit(base_version + 1).cast("long").alias(MOR_V_COL),
                ).withColumn(BUCKET_COL, bucket_expr(n_b, _TERM_KEY))
                self.postings.commit(
                    merged, dirty, [], head, POSTINGS_SCHEMA,
                    writer_id=writer, mor=True,
                    expected_version=base_version,
                )
            else:
                # bootstrap / all-new buckets: a tombstone's term bucket
                # holding no files means no posting to delete — plain insert
                merged = delta.filter(~F.col("_del")).drop("_del").select(
                    *[F.col(f.name).cast(f.dataType)
                      for f in POSTINGS_SCHEMA.fields]
                ).withColumn(BUCKET_COL, bucket_expr(n_b, _TERM_KEY))
                self.postings.commit(
                    merged, dirty, [], head, POSTINGS_SCHEMA,
                    writer_id=writer,
                )
            folded = self._maybe_fold(spark)
            src.record_consumer(consumer, head)
            return {
                "status": "committed",
                "from": last,
                "to": head,
                "n_postings_delta": n_delta,
                "dirty_term_buckets": len(dirty),
                "mor_delta": mor,
                "folded_buckets": folded,
            }
        finally:
            delta.unpersist()

    # ------------------------------------------------------------------ #
    def _advance_doclen(self, spark: SparkSession, cdf: DataFrame,
                        head: int, writer: str) -> None:
        """Dirty-bucket CoW MERGE of (doc -> dl) — slim rows keyed by the
        source's own (repo, path), standard index skeleton. Fenced at the
        same source version as the postings commit."""
        if self.doclen.writer_epoch(writer) >= head:
            return  # crash replay: sidecar already advanced
        post = cdf.filter(
            F.col(CHANGE_TYPE_COL).isin("insert", "update_postimage")
        )
        batch = post.select(
            "repo", "path",
            F.size(_tokens(F.col("content"))).cast("long").alias("dl"),
            F.lit("u").alias("op"),
        ).unionByName(
            cdf.filter(F.col(CHANGE_TYPE_COL) == "delete").select(
                "repo", "path",
                F.lit(None).cast("long").alias("dl"),
                F.lit("d").alias("op"),
            )
        )
        n_b = self.doclen.n_buckets
        stats = (
            batch.groupBy(bucket_expr(n_b).alias("b"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        if not stats:
            self.doclen.commit(None, [], [], head, DOCLEN_SCHEMA,
                               writer_id=writer)
            return
        dirty = sorted(r["b"] for r in stats)
        if self.doclen._bucket_files(dirty):
            target = self.doclen.read_state(spark, buckets=dirty)
            merged = merge_upsert(target, batch)
        else:
            merged = batch.filter(F.col("op") != "d").drop("op")
        merged = merged.select(
            *[F.col(f.name).cast(f.dataType) for f in DOCLEN_SCHEMA.fields]
        ).withColumn(BUCKET_COL, bucket_expr(n_b))
        self.doclen.commit(merged, dirty, [], head, DOCLEN_SCHEMA,
                           writer_id=writer)

    def _maybe_fold(self, spark: SparkSession) -> list[int]:
        """Fold merge-on-read layers back to base files once a bucket
        crosses the layer threshold (Lucene segment-merge policy) —
        amortized O(folded buckets), never the whole index. key_cols keeps
        the term-bucket layout."""
        if not self.fold_max_layers:
            return []
        m = self.postings.current_manifest() or {}
        fat = [int(b) for b, n in (m.get("mor") or {}).items()
               if n >= self.fold_max_layers]
        if not fat:
            return []
        out = self.postings.rewrite_buckets(
            spark, min_files=0, buckets=fat, key_cols=_TERM_KEY
        )
        return out["rewritten_buckets"]

    # ------------------------------------------------------------------ #
    def term_buckets(self, spark: SparkSession, terms: list[str]) -> list[int]:
        """Bucket ids the query terms hash into — the SAME JVM hash the
        write path used (one tiny driver-bounded job over the term list,
        the TableStore.lookup pattern)."""
        tdf = spark.createDataFrame([(t,) for t in terms], "repo string")
        rows = tdf.select(
            bucket_expr(self.postings.n_buckets, _TERM_KEY).alias("b")
        ).distinct().collect()
        return sorted(r["b"] for r in rows)

    def postings_for(self, spark: SparkSession, terms: list[str]) -> DataFrame:
        """Live postings of the given terms, read bucket-pruned (the file
        set is the terms' buckets only — manifest pruning, base and delta
        layers alike)."""
        buckets = self.term_buckets(spark, terms)
        return self.postings.read_state(spark, buckets=buckets).filter(
            F.col("repo").isin(terms)
        )

    def search_bm25(
        self,
        spark: SparkSession,
        query: str | list[str],
        k: int = 10,
        k1: float = 1.2,
        b: float = 0.75,
    ) -> DataFrame:
        """BM25 top-k over the persisted index. Output: (repo, path) of the
        document, ``score`` (rounded to 4 so values and rank ties agree
        across engines — float sum order differs, rounding absorbs it),
        ``n_terms`` matched.

        Plan shape: q term buckets scanned (never the index), ONE shuffle
        on the doc key for the per-doc score sum, global top-k. idf is the
        standard Robertson/Sparck-Jones form ln(1 + (N - df + .5)/(df +
        .5)); N and avgdl come from one aggregate over the slim doclen
        sidecar (two columns; at 10^9 docs a few GB column scan, cacheable
        — never the corpus text)."""
        terms = sorted({
            t for t in
            (query.lower().split() if isinstance(query, str)
             else [q.lower() for q in query])
            if t
        })
        if not terms:
            raise ValueError("empty query")
        row = self.doclen.read_state(spark).agg(
            F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
        ).collect()[0]
        n_docs, avgdl = row["n"], row["avgdl"]
        if not n_docs:
            return spark.createDataFrame(
                [], "repo string, path string, score double, n_terms long"
            )
        p = self.postings_for(spark, terms)
        # df(t) = live postings per term (one per (term, doc) by key model)
        df_t = p.groupBy("repo").agg(F.count(F.lit(1)).alias("_df"))
        idf = F.log(
            F.lit(1.0)
            + (F.lit(float(n_docs)) - F.col("_df") + F.lit(0.5))
            / (F.col("_df") + F.lit(0.5))
        )
        tf = F.col("tf").cast("double")
        norm = tf * (k1 + 1) / (
            tf + F.lit(k1) * (1 - b + F.lit(b) * F.col("dl") / F.lit(avgdl))
        )
        scored = p.join(F.broadcast(df_t.withColumn("_idf", idf)), "repo")
        per_doc = (
            scored.groupBy("path")
            .agg(
                F.round(F.sum(F.col("_idf") * norm), 4).alias("score"),
                F.count(F.lit(1)).alias("n_terms"),
            )
        )
        split = F.split(F.col("path"), _KEY_SEP, 2)
        return (
            per_doc.select(
                split.getItem(0).alias("repo"),
                split.getItem(1).alias("path"),
                "score",
                "n_terms",
            )
            .orderBy(F.desc("score"), "repo", "path")
            .limit(k)
        )

    def search_phrase(self, spark: SparkSession, phrase: str) -> DataFrame:
        """Exact phrase matching from the positional postings — docs where
        the phrase's tokens occur consecutively, with the occurrence count.
        Output (repo, path, n_hits).

        Plan shape: the phrase's (distinct) terms read bucket-pruned like
        BM25, then ONE iterative equi-join per phrase term on the doc key,
        each step intersecting the accumulated start-position set with the
        next term's positions shifted by its offset
        (``array_intersect(acc, transform(pos, p -> p - i))`` — pure JVM
        array expressions over lists bounded by tf, never an explode back
        to row-per-occurrence). The accumulator can only shrink, so the
        intermediate size is bounded by the FIRST term's postings — put a
        rare first word in your phrase and the whole chain is tiny."""
        words = [
            t for t in (phrase.lower().split() if isinstance(phrase, str)
                        else [w.lower() for w in phrase])
            if t
        ]
        if not words:
            raise ValueError("empty phrase")
        p = self.postings_for(spark, sorted(set(words))).select(
            "repo", "path", "pos"
        )
        acc = (
            p.filter(F.col("repo") == words[0])
            .select(F.col("path").alias("_doc"), F.col("pos").alias("_acc"))
        )
        for i, w in enumerate(words[1:], start=1):
            nxt = p.filter(F.col("repo") == w).select(
                F.col("path").alias("_doc"),
                F.transform("pos", lambda x: x - i).alias("_shift"),
            )
            acc = (
                acc.join(nxt, "_doc")
                .select(
                    "_doc",
                    F.array_intersect("_acc", "_shift").alias("_acc"),
                )
                .filter(F.size("_acc") > 0)
            )
        split = F.split(F.col("_doc"), _KEY_SEP, 2)
        return acc.select(
            split.getItem(0).alias("repo"),
            split.getItem(1).alias("path"),
            F.size("_acc").cast("long").alias("n_hits"),
        )

    # ------------------------------------------------------------------ #
    def read_postings(self, spark: SparkSession) -> DataFrame:
        """All live postings (term, doc repo, doc path, tf, dl) — the
        parity/oracle surface."""
        split = F.split(F.col("path"), _KEY_SEP, 2)
        return self.postings.read_state(spark).select(
            F.col("repo").alias("term"),
            split.getItem(0).alias("repo"),
            split.getItem(1).alias("path"),
            "tf",
            "dl",
        )
