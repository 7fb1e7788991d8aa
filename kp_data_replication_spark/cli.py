"""CLI entry points — the spark-submit surface (SURVEY.md §3 lifecycle).

Mirrors the reference's entry points:
  * gen     -> SendProductToKafka.py / ProducerPerformance.py (data injection)
  * replay  -> consumeFromLocal.sh --from-beginning (full batch replay)
  * stream  -> connect-mirror-maker.sh mm2.properties (continuous tail)
  * state   -> target-topic consumption check (docs/local-to-es.md:97-106)
  * lag     -> consumer-lag dashboard query (docs/index.md:156-158)

On a cluster: `spark-submit --py-files kp_data_replication_spark.zip -m
kp_data_replication_spark.cli ...` — same code, different master.
"""

from __future__ import annotations

import argparse
import json
import sys

from .datagen import ChangelogSpec, write_changelog
from .schema import CHANGELOG_SCHEMA_EVOLVED
from .session import get_spark
from .sources.table_store import TableStore
from .streaming.apply import CdcApplyEngine, EngineConfig


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(prog="kp-cdc-spark")
    ap.add_argument("--cpus", type=int, default=None)
    sub = ap.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("gen", help="generate a deterministic changelog")
    g.add_argument("out_dir")
    g.add_argument("--keys", type=int, default=10000)
    g.add_argument("--versions", type=int, default=5)
    g.add_argument("--partitions", type=int, default=16)
    g.add_argument("--files", type=int, default=4)

    r = sub.add_parser("replay", help="batch full replay into the target table")
    r.add_argument("changelog")
    r.add_argument("target")
    r.add_argument("--buckets", type=int, default=64)
    r.add_argument("--whitelist", default="^repos$")
    r.add_argument("--dlq-dir", default=None,
                   help="quarantine malformed envelopes here instead of "
                        "failing the merge (errors.tolerance=all analogue)")

    s = sub.add_parser("stream", help="continuous tail with checkpoint resume")
    s.add_argument("changelog")
    s.add_argument("target")
    s.add_argument("checkpoint")
    s.add_argument("--buckets", type=int, default=64)
    s.add_argument("--whitelist", default="^repos$")
    s.add_argument("--max-files-per-trigger", type=int, default=16)
    s.add_argument("--max-bytes-per-trigger", default=None,
                   help="volume throttle per micro-batch in bytes "
                        "(--throughput analogue; overrides files cap)")
    s.add_argument("--continuous", action="store_true",
                   help="keep running (default: drain available input and stop)")
    s.add_argument("--source-format", choices=["parquet", "json"],
                   default="parquet",
                   help="changelog file format; json = JSON-lines envelope "
                        "files (the reference's JSON record shape / Connect "
                        "JsonConverter)")
    s.add_argument("--dlq-dir", default=None,
                   help="quarantine malformed envelopes here "
                        "(errors.tolerance=all analogue)")
    s.add_argument("--config-file", default=None,
                   help="hot-reloadable JSON config: re-read before every "
                        "micro-batch (the `oc apply` config-roll analogue); "
                        "whitelist/DLQ/compaction overrides apply to the "
                        "next epoch without stopping the stream")

    st = sub.add_parser("state", help="show target state summary (time travel with --version)")
    st.add_argument("target")
    st.add_argument("--version", type=int, default=None,
                    help="read AS OF this committed version (default: current)")
    st.add_argument("--tag", default=None,
                    help="read AS OF this named tag (overrides --version)")
    st.add_argument("--as-of-ms", type=int, default=None, dest="as_of_ms",
                    help="read AS OF this wall-clock timestamp (epoch ms; "
                         "newest commit stamp <= ts wins)")

    tg = sub.add_parser("tag", help="pin/unpin a named version ref (vacuum retains tagged versions)")
    tg.add_argument("target")
    tg.add_argument("name")
    tg.add_argument("--version", type=int, default=None,
                    help="version to pin (default: current)")
    tg.add_argument("--delete", action="store_true")

    ch = sub.add_parser("changes", help="row-level changefeed between two versions")
    ch.add_argument("target")
    ch.add_argument("v_from", type=int)
    ch.add_argument("v_to", type=int, nargs="?", default=None)

    we = sub.add_parser(
        "export-wire",
        help="export new versions as ordered JSON-lines envelope files "
             "(resumable cursor; a remote engine tails the directory with "
             "stream --source-format json)",
    )
    we.add_argument("target")
    we.add_argument("out_dir")
    we.add_argument("--partitions", type=int, default=8)
    we.add_argument("--topic", default="repos")

    rb = sub.add_parser("rebucket", help="rescale the table's bucket layout in place")
    rb.add_argument("target")
    rb.add_argument("n_buckets", type=int)

    rw = sub.add_parser("rewrite", help="compact multi-file buckets (rewrite_data_files)")
    rw.add_argument("target")
    rw.add_argument("--min-files", type=int, default=2)
    rw.add_argument("--sort-keys", action="store_true",
                    help="sort rewritten buckets by key (tight row-group "
                         "min/max for point lookups)")
    rw.add_argument("--cluster-by", default=None,
                    help="comma-separated columns to range-cluster files by "
                         "(tight manifest zonemaps for scan --where)")
    rw.add_argument("--split-files", type=int, default=1,
                    help="range slices per bucket when clustering")
    rw.add_argument("--cluster-strategy", default="linear",
                    choices=["linear", "zorder"],
                    help="zorder interleaves >=2 cluster columns so scan "
                         "--where prunes on any of them")

    sc = sub.add_parser(
        "scan",
        help="predicate scan through manifest zonemap pruning "
             "(read_state(where=)); prints the prune report + row count",
    )
    sc.add_argument("target")
    sc.add_argument(
        "--where", action="append", required=True, metavar="COL:OP:VALUE",
        help="conjunct, op in =,<,<=,>,>=,prefix (repeatable)",
    )
    sc.add_argument("--version", type=int, default=None)
    sc.add_argument("--show", type=int, default=0,
                    help="print up to N matching rows")

    ex = sub.add_parser(
        "expire",
        help="retention.ms analogue: expire rows matching the predicate "
             "in one maintenance commit whose changefeed shows them as "
             "deletes (zonemap-pruned; operators/retention.py)",
    )
    ex.add_argument("target")
    ex.add_argument(
        "--where", action="append", required=True, metavar="COL:OP:VALUE",
        help="conjunct, op in =,<,<=,>,>=,prefix (repeatable); matching "
             "rows are REMOVED",
    )

    hs = sub.add_parser(
        "history",
        help="per-key audit trail across committed versions "
             "(changefeed.key_history: Debezium's 'all changes for key X')",
    )
    hs.add_argument("target")
    hs.add_argument(
        "--key", action="append", required=True, metavar="REPO:PATH",
        help="key to audit (repeatable)",
    )
    hs.add_argument("--from", dest="v_from", type=int, default=0)
    hs.add_argument("--to", dest="v_to", type=int, default=None)

    sc = sub.add_parser(
        "scd2",
        help="SCD Type-2 timeline ops (operators/scd.py): advance from a "
             "source table, read current/as-of state, prune closed history",
    )
    sc.add_argument("view_root")
    sc.add_argument("--src", default=None,
                    help="source table root: advance the timeline to its head")
    sc.add_argument("--asof", type=int, default=None,
                    help="print state AS OF this source version")
    sc.add_argument("--current", action="store_true",
                    help="print the open intervals (live state)")
    sc.add_argument("--prune-before", type=int, default=None, metavar="V",
                    help="drop closed intervals with _valid_to <= V")

    lk = sub.add_parser(
        "lookup",
        help="point-read keys (bucket-pruned: reads only the keys' hash buckets)",
    )
    lk.add_argument("target")
    lk.add_argument("keys", nargs="+", help="repo:path pairs, e.g. 'org/repo:src/a.py'")
    lk.add_argument("--version", type=int, default=None)

    cl = sub.add_parser(
        "clone",
        help="zero-copy shallow clone (branch) of a table; pins the source version",
    )
    cl.add_argument("target")
    cl.add_argument("clone_dir")
    cl.add_argument("--version", type=int, default=None)
    cl.add_argument("--no-pin", action="store_true",
                    help="do not register a retention pin on the source")

    mo = sub.add_parser(
        "monitor",
        help="streaming windowed throughput series over a changelog "
             "(event-time windows + watermark, append sink)",
    )
    mo.add_argument("changelog")
    mo.add_argument("out_dir", help="parquet sink for the window series")
    mo.add_argument("checkpoint")
    mo.add_argument("--window", default="1 hour")
    mo.add_argument("--watermark", default="2 hours")
    mo.add_argument("--continuous", action="store_true",
                    help="keep running (default: drain available input and stop)")

    mt = sub.add_parser(
        "metrics",
        help="per-partition replication metrics from the target's metrics "
             "table (record/duplicate/byte counts, replication latency — "
             "the MM2 JMX dashboard analogue)",
    )
    mt.add_argument("target")
    mt.add_argument("--last-epochs", type=int, default=5)
    mt.add_argument("--format", choices=["json", "prometheus"],
                    default="json",
                    help="prometheus: text exposition format (the scrape "
                         "shape the reference's JMX exporter feeds to "
                         "prometheus-rules.yaml / Grafana)")

    lg = sub.add_parser("lag", help="per-partition replication lag vs a changelog head")
    lg.add_argument("changelog")
    lg.add_argument("target")
    lg.add_argument("--whitelist", default="^repos$")
    lg.add_argument("--group", default=None,
                    help="consumer group whose lineage to compare (default: all)")

    dr = sub.add_parser(
        "dlq-replay",
        help="re-submit (repaired) quarantined envelopes as new events: "
             "re-sequenced past the applied watermarks, re-routed by key",
    )
    dr.add_argument("dlq_dir", help="repaired quarantine parquet dir")
    dr.add_argument("target")
    dr.add_argument("--new-dlq-dir", default=None,
                    help="re-quarantine still-malformed rows here")

    di = sub.add_parser(
        "dedup-index",
        help="advance the incremental MinHash/LSH dedup index from a source "
             "table's changefeed (O(changed docs) per call)",
    )
    di.add_argument("source", help="source TableStore root (the CDC target)")
    di.add_argument("index", help="index TableStore root (created on first run)")
    di.add_argument("--buckets", type=int, default=32)
    di.add_argument("--text-col", default="content")
    di.add_argument("--pairs-out", default=None,
                    help="also write this advance's NEW candidate pairs "
                         "(changed docs vs the index) to this parquet dir")

    ci = sub.add_parser(
        "clone-index",
        help="advance the incremental winnowing clone index from a source "
             "table's changefeed (O(changed files) per call)",
    )
    ci.add_argument("source", help="source TableStore root (the CDC target)")
    ci.add_argument("index", help="index TableStore root (created on first run)")
    ci.add_argument("--buckets", type=int, default=32)
    ci.add_argument("--text-col", default="content")
    ci.add_argument("--k", type=int, default=16, help="k-gram length")
    ci.add_argument("--w", type=int, default=8, help="winnow window")
    ci.add_argument("--pairs-out", default=None,
                    help="also write this advance's NEW clone-candidate "
                         "pairs to this parquet dir")
    ci.add_argument("--matches-out", default=None,
                    help="write the corpus-wide df-capped clone match view "
                         "from the persisted index to this parquet dir")

    fi = sub.add_parser(
        "fork-index",
        help="advance the incremental per-file content-sha fork index "
             "(O(changed files) per call); optionally emit the fork sweep "
             "from the index alone",
    )
    fi.add_argument("source", help="source TableStore root (the CDC target)")
    fi.add_argument("index", help="index TableStore root (created on first run)")
    fi.add_argument("--buckets", type=int, default=32)
    fi.add_argument("--text-col", default="content")
    fi.add_argument("--min-jaccard", type=float, default=0.3)
    fi.add_argument("--max-df", type=int, default=64)
    fi.add_argument("--pairs-out", default=None,
                    help="write the index-only fork sweep to this parquet dir")

    fk = sub.add_parser(
        "forks",
        help="repo-level fork detection: near-duplicate repositories by "
             "Jaccard over file-content sha sets",
    )
    fk.add_argument("target", help="table root (state provides repo + content_sha)")
    fk.add_argument("--min-jaccard", type=float, default=0.3)
    fk.add_argument("--max-df", type=int, default=64,
                    help="drop shas present in more repos than this "
                         "(boilerplate files carry no fork signal)")
    fk.add_argument("--out", default=None, help="write pairs to this parquet dir")
    fk.add_argument("--limit", type=int, default=50,
                    help="rows printed when --out is not given")

    ti = sub.add_parser(
        "text-index",
        help="advance the incremental inverted text index (BM25 postings) "
             "from a source table's changefeed (merge-on-read deltas, "
             "O(changed docs x terms/doc) per call)",
    )
    ti.add_argument("source", help="source TableStore root (the CDC target)")
    ti.add_argument("index", help="index root (created on first run)")
    ti.add_argument("--buckets", type=int, default=32)
    ti.add_argument("--text-col", default="content")

    se = sub.add_parser(
        "search",
        help="BM25 ranked search answered from the persisted postings "
             "index — reads the query terms' buckets only, never the "
             "corpus text",
    )
    se.add_argument("index", help="index root (a prior text-index run)")
    se.add_argument("query", help="space-separated query terms")
    se.add_argument("-k", type=int, default=10)
    se.add_argument("--k1", type=float, default=1.2)
    se.add_argument("--b", type=float, default=0.75)

    xs = sub.add_parser(
        "export-shards",
        help="export the table's live state as fixed-size training shards "
             "in a seed-keyed deterministic permutation order",
    )
    xs.add_argument("source", help="source TableStore root")
    xs.add_argument("out", help="output directory (shard=N parquet dirs)")
    xs.add_argument("--rows-per-shard", type=int, default=100_000)
    xs.add_argument("--seed", default="0")
    xs.add_argument("--slice-hex", type=int, default=2,
                    help="hash-slice prefix width (2=256 slices; raise for "
                         "10^9+ rows)")

    cc = sub.add_parser(
        "clusters",
        help="advance the incremental duplicate-cluster labels from a source "
             "table's changefeed (re-labels only the AFFECTED components)",
    )
    cc.add_argument("source", help="source TableStore root (the CDC target)")
    cc.add_argument("index", help="band-index TableStore root (advanced too)")
    cc.add_argument("labels", help="label TableStore root (created on first run)")
    cc.add_argument("--buckets", type=int, default=32)
    cc.add_argument("--text-col", default="content")
    cc.add_argument("--view-out", default=None,
                    help="also write the per-document cluster view "
                         "(repo, path, cluster, keep) to this parquet dir")

    al = sub.add_parser(
        "alerts",
        help="evaluate threshold alert rules over the replication metrics "
             "(lag, latency, gaps, DLQ, bucket bytes, liveness — the "
             "prometheus-rules.yaml analogue); prints firing alerts as "
             "JSON lines",
    )
    al.add_argument("target")
    al.add_argument("--changelog", default=None,
                    help="changelog dir for lag/gap signals (head vs lineage)")
    al.add_argument("--whitelist", default="^repos$")
    al.add_argument("--dlq-dir", default=None)
    al.add_argument("--bucket-budget-bytes", type=int, default=None,
                    help="per-bucket byte budget for BucketOversized "
                         "(KafkaRunningOutOfSpace analogue)")
    al.add_argument("--rules", default=None,
                    help="JSON file with a list of rule objects "
                         "{name, source, expr, severity, summary_expr} "
                         "replacing the default rule set")
    al.add_argument("--stream-out", default=None,
                    help="instead of point-in-time evaluation, tail the "
                         "target's per-epoch metrics feed through the "
                         "streaming `for:`-duration evaluator "
                         "(pending->firing->resolved transitions) and "
                         "append them to this parquet dir")
    al.add_argument("--checkpoint", default=None,
                    help="checkpoint dir for --stream-out (required)")

    vc = sub.add_parser("vacuum", help="expire old versions + remove crash orphans")
    vc.add_argument("target")
    vc.add_argument("--keep-versions", type=int, default=2)
    vc.add_argument("--older-than-ms", type=int, default=None,
                    help="also keep any version committed within this window "
                         "(AS-OF-TIMESTAMP reads stay answerable across it)")

    fg = sub.add_parser(
        "forget",
        help="right-to-be-forgotten / takedown: hard-delete keys from live "
             "state AND all retained history and tombstones "
             "(GDPR Article-17; vacuum alone keeps serving them via time "
             "travel)")
    fg.add_argument("target")
    fg.add_argument("--key", action="append", default=[],
                    metavar="REPO:PATH",
                    help="repeatable; exact (repo, path) key to forget")
    fg.add_argument("--repo", action="append", default=[],
                    help="repeatable; forget EVERY path of this repo")
    fg.add_argument("--force", action="store_true",
                    help="proceed even while shallow clones reference this "
                         "table's files")

    rs = sub.add_parser(
        "restore",
        help="roll the table head back to a prior version as a new commit "
             "(Delta RESTORE analogue; pure metadata, changefeed emits the "
             "compensating diff)")
    rs.add_argument("target")
    rs.add_argument("--to-version", type=int, required=True)
    rs.add_argument("--rewind", action="store_true",
                    help="also restore lineage watermarks + writer map so a "
                         "fresh-checkpoint replay re-applies the tail")

    de = sub.add_parser(
        "describe",
        help="table snapshot + per-version change log (rows/bytes deltas, "
             "schema fields added/removed, MoR layers, changefeed files) — "
             "DESCRIBE HISTORY analogue, pure manifest metadata",
    )
    de.add_argument("target")
    de.add_argument("--no-versions", action="store_true")

    fs = sub.add_parser(
        "fsck",
        help="store consistency audit: pointer/manifest linkage, file "
             "existence, bucket bytes, zonemap-vs-footer stats, lineage "
             "monotonicity, consumer pins, orphans (--deep adds the "
             "row-to-bucket routing check, one scan per bucket)",
    )
    fs.add_argument("target")
    fs.add_argument("--deep", action="store_true")

    cu = sub.add_parser(
        "curate",
        help="corpus curation funnel: exact + near-dup dedup -> "
             "stratified sample -> token-budget packing",
    )
    cu.add_argument("documents", help="documents parquet (doc_id/text/lang/source)")
    cu.add_argument("out_dir")
    cu.add_argument("--lang-rates", default=None,
                    help="per-language sample rates, e.g. 'en=0.5,fr=0.25'")
    cu.add_argument("--default-rate", type=float, default=1.0)
    cu.add_argument("--pack-budget", type=int, default=2048)
    cu.add_argument("--pack-shards", type=int, default=64)
    cu.add_argument("--min-shared-bands", type=int, default=1)
    cu.add_argument("--dsir-target", default=None,
                    help="in-domain probe documents parquet; enables the "
                         "DSIR selection stage")
    cu.add_argument("--dsir-keep", type=int, default=0,
                    help="docs to keep by importance weight (with "
                         "--dsir-target)")
    cu.add_argument("--scrub", action="store_true",
                    help="redact PII in-place before packing")
    cu.add_argument("--lm-cut", type=float, default=None,
                    help="LM perplexity head-cut: keep docs whose mean "
                         "bigram log10-prob >= this (CCNet-style)")
    cu.add_argument("--lm-train-lang", default=None,
                    help="train the LM on this lang slice of the deduped "
                         "corpus (default: whole deduped corpus)")
    cu.add_argument("--code-filter", action="store_true",
                    help="StarCoder-style code-quality gate before dedup "
                         "(drop minified/auto-generated/symbol-soup files)")

    ac = sub.add_parser(
        "acl",
        help="table ACL grants + replication-hop ACL sync "
             "(sync.topic.acls.enabled analogue)",
    )
    ac.add_argument("target")
    ac.add_argument("action", choices=["grant", "revoke", "list", "sync"])
    ac.add_argument("--principal", default="")
    ac.add_argument("--operation", default="")
    ac.add_argument("--resource", default="*")
    ac.add_argument("--permission", default="allow")
    ac.add_argument("--pattern-type", default="literal")
    ac.add_argument("--host", default="*")
    ac.add_argument("--source", default=None,
                    help="sync: source table root whose grants replicate here")
    ac.add_argument("--alias", default="source",
                    help="sync: replication-policy rename prefix")
    ac.add_argument("--topics", default=None,
                    help="sync: topic whitelist regex (same as the data flow)")

    cn = sub.add_parser(
        "constraint",
        help="named CHECK constraints persisted in table metadata — every "
             "writer enforces them (Delta ADD CONSTRAINT analogue)",
    )
    cn.add_argument("target")
    cn.add_argument("action", choices=["add", "drop", "list"])
    cn.add_argument("--name", default=None)
    cn.add_argument("--expr", default=None,
                    help="add: SQL boolean expression over the row's data "
                         "columns (FALSE violates, NULL passes, deletes "
                         "exempt)")

    tx = sub.add_parser(
        "txn",
        help="read_committed transaction status: open/resolved transaction "
             "counts and pool snapshots per consumer group (Kafka "
             "LSO/transaction-coordinator ops view)",
    )
    tx.add_argument("target")

    ct = sub.add_parser(
        "catalog",
        help="cross-topic consistent snapshot: the router catalog's "
             "table->version map (time travel with --version)",
    )
    ct.add_argument("router_root")
    ct.add_argument("--version", type=int, default=None)

    pz = sub.add_parser(
        "pause",
        help="gate ONE topic's flow off under the router while every "
             "other flow keeps applying (Connect PUT /connectors/x/pause; "
             "the rolling-migration runbook's per-connector stop)",
    )
    pz.add_argument("router_root")
    pz.add_argument("topic")

    rz = sub.add_parser(
        "resume",
        help="lift a paused flow's gate; with --changelog, a catch-up "
             "replay closes the gap exactly once (lineage-masked) before "
             "the flow rejoins the live loop",
    )
    rz.add_argument("router_root")
    rz.add_argument("topic")
    rz.add_argument("--changelog", default=None,
                    help="changelog dir to replay for catch-up")

    sk = sub.add_parser(
        "sketch",
        help="HLL distinct-count sketch view: per-group corrected estimate "
             "over the persisted register table",
    )
    sk.add_argument("sketch_root")
    sk.add_argument("--group-cols", default="event_type",
                    help="comma-separated group columns (must match the view)")

    hk = sub.add_parser(
        "hot-keys",
        help="count-min heavy hitters: keys whose estimated frequency in "
             "the persisted sketch reaches a threshold (the skew-salting "
             "feed; est >= true count always, so no hot key is missed)",
    )
    hk.add_argument("sketch_root")
    hk.add_argument("candidates",
                    help="parquet path of candidate keys to score")
    hk.add_argument("--group-cols", default="event_type",
                    help="comma-separated group columns (must match the view)")
    hk.add_argument("--value-col", default="user_id")
    hk.add_argument("--min-count", type=int, default=100)

    pc = sub.add_parser(
        "percentiles",
        help="HDR-histogram quantile view: per-group [lo, hi] value bounds "
             "of the rank-q bins (relative width <= 1/16) from the "
             "persisted bin table — the p99 panel at sketch cost",
    )
    pc.add_argument("sketch_root")
    pc.add_argument("--group-cols", default="event_type",
                    help="comma-separated group columns (must match the view)")
    pc.add_argument("--q", default="0.5,0.95,0.99",
                    help="comma-separated quantiles")

    args = ap.parse_args(argv)
    if args.cmd == "catalog":  # pure metadata op — no Spark session needed
        import os as _os

        from .sources.catalog import Catalog

        cat = Catalog(_os.path.join(args.router_root, "_catalog"))
        print(json.dumps({
            "catalog_version": args.version or cat.current_version(),
            "tables": cat.snapshot(args.version),
        }))
        return
    if args.cmd == "pause":  # pure metadata op — no Spark session needed
        from .streaming.router import TopicRouter

        print(json.dumps(TopicRouter(args.router_root).pause(args.topic)))
        return
    if args.cmd == "resume":
        from .streaming.router import TopicRouter

        router = TopicRouter(args.router_root)
        spark = (
            get_spark(app_name="kp-cdc-resume", cpus=args.cpus)
            if args.changelog else None
        )
        print(json.dumps(
            router.resume(spark, args.topic, changelog_path=args.changelog)
        ))
        return
    if args.cmd == "txn":  # pure metadata op — no Spark session needed
        import os as _os
        from urllib.parse import unquote

        from .operators.txn import TxnGate

        txn_root = _os.path.join(args.target, "_txn")
        groups = sorted(_os.listdir(txn_root)) if _os.path.isdir(txn_root) else []
        out = {}
        for g in groups:
            gate = TxnGate(args.target, unquote(g))
            st = gate.state()
            out[unquote(g)] = {
                "open_txns": sorted(gate.open_txn_ids()),
                "resolved_pending_gc": {
                    "committed": sorted(st["committed"]),
                    "aborted": sorted(st["aborted"]),
                },
                "pool_snapshots": gate._snap_versions(),
            }
        print(json.dumps(out))
        return
    if args.cmd == "constraint":  # pure metadata op — no Spark session needed
        store = TableStore(args.target)
        if args.action == "add":
            if not (args.name and args.expr):
                raise SystemExit("constraint add requires --name and --expr")
            store.add_constraint(args.name, args.expr)
            print(json.dumps(store.constraints()))
        elif args.action == "drop":
            if not args.name:
                raise SystemExit("constraint drop requires --name")
            print(json.dumps({"dropped": store.drop_constraint(args.name)}))
        else:
            print(json.dumps(store.constraints()))
        return
    if args.cmd == "acl":  # pure metadata op — no Spark session needed
        store = TableStore(args.target)
        if args.action == "grant":
            print(json.dumps(store.grant(
                args.principal, args.operation, resource_name=args.resource,
                pattern_type=args.pattern_type, permission=args.permission,
                host=args.host,
            )))
        elif args.action == "revoke":
            print(json.dumps({"revoked": store.revoke(
                principal=args.principal, operation=args.operation,
                resource_name=args.resource, pattern_type=args.pattern_type,
                permission=args.permission, host=args.host,
            )}))
        elif args.action == "list":
            print(json.dumps(store.grants()))
        else:  # sync
            from .operators.acl_sync import sync_grants

            if not args.source:
                raise SystemExit("acl sync requires --source")
            print(json.dumps(sync_grants(
                TableStore(args.source), store, args.alias,
                whitelist=args.topics,
            )))
        return
    if args.cmd == "forget":
        spark = get_spark(app_name="kp-cdc-forget", cpus=args.cpus)
        keys = []
        for k in args.key:
            repo, _, path = k.partition(":")
            if not path:
                raise SystemExit(f"--key wants REPO:PATH, got {k!r}")
            keys.append((repo, path))
        print(json.dumps(TableStore(args.target).forget_keys(
            spark, keys=keys, repos=args.repo, force=args.force)))
        return
    if args.cmd == "restore":  # pure metadata op — no Spark session needed
        v = TableStore(args.target).restore(args.to_version, rewind=args.rewind)
        print(json.dumps({"restored_to": args.to_version, "new_version": v}))
        return
    if args.cmd == "vacuum":  # pure metadata/file op — no Spark session needed
        print(json.dumps(TableStore(args.target).vacuum(
            args.keep_versions, older_than_ms=args.older_than_ms)))
        return
    if args.cmd == "describe":  # pure metadata op — no Spark session needed
        print(json.dumps(
            TableStore(args.target).describe(with_versions=not args.no_versions)
        ))
        return
    if args.cmd == "fsck":
        from .sources.fsck import fsck

        spark = (
            get_spark(app_name="kp-cdc-fsck", cpus=args.cpus)
            if args.deep else None
        )
        report = fsck(TableStore(args.target), spark=spark, deep=args.deep)
        print(json.dumps(report))
        raise SystemExit(0 if report["ok"] else 1)
    if args.cmd == "clone":  # pure metadata op — no Spark session needed
        clone = TableStore(args.target).clone(
            args.clone_dir, version=args.version, pin=not args.no_pin
        )
        print(json.dumps({
            "clone": clone.root,
            "version": clone.current_version(),
            "cloned_from": clone.current_manifest().get("cloned_from"),
        }))
        return
    if args.cmd == "tag":  # pure metadata op — no Spark session needed
        store = TableStore(args.target)
        if args.delete:
            store.delete_tag(args.name)
            print(json.dumps({"deleted": args.name, "tags": store.tags()}))
        else:
            v = store.create_tag(args.name, args.version)
            print(json.dumps({"tag": args.name, "version": v}))
        return
    spark = get_spark(app_name=f"kp-cdc-{args.cmd}", cpus=args.cpus)

    if args.cmd == "gen":
        spec = ChangelogSpec(
            n_keys=args.keys, versions_per_key=args.versions,
            n_partitions=args.partitions, files=args.files,
        )
        write_changelog(spark, args.out_dir, spec)
        print(json.dumps({"events": spec.n_events, "out": args.out_dir}))
    elif args.cmd == "replay":
        engine = CdcApplyEngine(
            TableStore(args.target, n_buckets=args.buckets),
            EngineConfig(whitelist=args.whitelist, dlq_dir=args.dlq_dir),
        )
        print(json.dumps(engine.replay_batch(spark, args.changelog)))
    elif args.cmd == "stream":
        engine = CdcApplyEngine(
            TableStore(args.target, n_buckets=args.buckets),
            EngineConfig(whitelist=args.whitelist, dlq_dir=args.dlq_dir,
                         config_file=args.config_file),
        )
        q = engine.start_stream(
            spark, args.changelog, args.checkpoint, CHANGELOG_SCHEMA_EVOLVED,
            max_files_per_trigger=args.max_files_per_trigger,
            max_bytes_per_trigger=args.max_bytes_per_trigger,
            available_now=not args.continuous,
            source_format=args.source_format,
        )
        q.awaitTermination()
        print(json.dumps({"status": "drained", "epoch": engine.store.current_epoch()}))
    elif args.cmd == "state":
        store = TableStore(args.target)
        version = args.version
        if args.tag is not None:
            version = store.tag_version(args.tag)
        if getattr(args, "as_of_ms", None) is not None:
            version = store.version_as_of(args.as_of_ms)
        if version is None:
            version = store.current_version()
        df = store.read_state(spark, version=version)
        print(json.dumps({
            "version": version,
            "epoch": store.current_epoch(),
            "rows": df.count(),
            "schema": df.schema.simpleString(),
        }))
    elif args.cmd == "export-wire":
        from .operators.changefeed import export_changefeed_json

        store = TableStore(args.target)
        out = export_changefeed_json(
            spark, store, args.out_dir,
            n_partitions=args.partitions, source_topic=args.topic,
        )
        print(json.dumps(out))
    elif args.cmd == "changes":
        from .operators.changefeed import CHANGE_TYPE_COL, table_changes

        from pyspark.sql import functions as F

        store = TableStore(args.target)
        ch = table_changes(spark, store, args.v_from, args.v_to)
        counts = {
            r[CHANGE_TYPE_COL]: r["n"]
            for r in ch.groupBy(CHANGE_TYPE_COL).agg(F.count(F.lit(1)).alias("n")).collect()
        }
        print(json.dumps({
            "v_from": args.v_from,
            "v_to": args.v_to if args.v_to is not None else store.current_version(),
            "changes": counts,
        }))
    elif args.cmd == "rebucket":
        print(json.dumps(TableStore(args.target).rebucket(spark, args.n_buckets)))
    elif args.cmd == "rewrite":
        print(json.dumps(TableStore(args.target).rewrite_buckets(
            spark, min_files=args.min_files, sort_keys=args.sort_keys,
            cluster_by=(args.cluster_by.split(",") if args.cluster_by else None),
            split_files=args.split_files,
            cluster_strategy=args.cluster_strategy)))
    elif args.cmd == "history":
        from .operators.changefeed import key_history

        store = TableStore(args.target)
        keys = []
        for k in args.key:
            r, _, p = k.partition(":")
            if not p:
                raise SystemExit(f"--key must be REPO:PATH, got {k!r}")
            keys.append((r, p))
        df = key_history(spark, store, keys, v_from=args.v_from,
                         v_to=args.v_to)
        rows = sorted(
            ({c: (None if r[c] is None else str(r[c])) for c in df.columns}
             for r in df.collect()),
            key=lambda d: (d.get("repo") or "", d.get("path") or "",
                           int(d.get("_commit_version") or 0)),
        )
        print(json.dumps(rows))
    elif args.cmd == "scd2":
        from .operators.scd import Scd2View

        view = Scd2View(args.view_root)
        out: dict = {}
        if args.src:
            out["update"] = view.update(spark, TableStore(args.src))
        if args.prune_before is not None:
            out["prune"] = view.prune(spark, args.prune_before)
        df = None
        if args.asof is not None:
            df = view.as_of(spark, args.asof)
        elif args.current:
            df = view.current(spark)
        if df is not None:
            out["rows"] = sorted(
                ({c: (None if r[c] is None else str(r[c])) for c in df.columns}
                 for r in df.collect()),
                key=lambda d: (d.get("repo") or "", d.get("path") or ""),
            )
        print(json.dumps(out))
    elif args.cmd == "expire":
        from .operators.retention import expire_rows

        store = TableStore(args.target)
        where = []
        for w in args.where:
            col, _, rest = w.partition(":")
            op, _, val = rest.partition(":")
            if not val:
                raise SystemExit(f"--where must be COL:OP:VALUE, got {w!r}")
            where.append((col, op, val))
        print(json.dumps(expire_rows(spark, store, where)))
    elif args.cmd == "scan":
        store = TableStore(args.target)
        where = []
        for w in args.where:
            col, _, rest = w.partition(":")
            op, _, val = rest.partition(":")
            if not val:
                raise SystemExit(f"--where must be COL:OP:VALUE, got {w!r}")
            where.append((col, op, val))
        df = store.read_state(spark, version=args.version, where=where)
        out = {
            "prune": store.prune_report(where, version=args.version),
            "rows": df.count(),
        }
        if args.show:
            out["sample"] = [
                {c: str(r[c])[:80] for c in r.asDict()}
                for r in df.limit(args.show).collect()
            ]
        print(json.dumps(out))
    elif args.cmd == "lookup":
        store = TableStore(args.target)
        keys = []
        for k in args.keys:
            repo, _, path = k.partition(":")
            if not path:
                raise SystemExit(f"key must be repo:path, got {k!r}")
            keys.append((repo, path))
        rows = store.lookup(spark, keys, version=args.version).collect()
        print(json.dumps({
            "n": len(rows),
            "rows": [{c: str(r[c]) for c in r.asDict()} for r in rows],
        }))
    elif args.cmd == "curate":
        from .curate import curate_to_dir, parse_rates

        stats = curate_to_dir(
            spark, args.documents, args.out_dir,
            lang_rates=parse_rates(args.lang_rates),
            default_rate=args.default_rate,
            pack_budget=args.pack_budget,
            pack_shards=args.pack_shards,
            min_shared_bands=args.min_shared_bands,
            target_path=args.dsir_target,
            dsir_keep=args.dsir_keep,
            scrub=args.scrub,
            lm_cut=args.lm_cut,
            lm_train_lang=args.lm_train_lang,
            code_filter=args.code_filter,
        )
        print(json.dumps(stats))
    elif args.cmd == "alerts":
        from .operators.alerts import (
            AlertRule,
            engine_alert_sources,
            evaluate_alerts,
        )

        store = TableStore(args.target)
        if args.stream_out:
            from .streaming.alerts_stream import (
                EpochRule,
                alert_stream_from_store,
            )

            erules = None
            if args.rules:
                with open(args.rules) as f:
                    erules = [EpochRule(**r) for r in json.load(f)]
            q = (
                alert_stream_from_store(spark, store, erules)
                .writeStream.format("parquet")
                .option("path", args.stream_out)
                .option("checkpointLocation",
                        args.checkpoint or f"{args.stream_out}_cp")
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            from pyspark.errors import AnalysisException

            try:
                n = spark.read.parquet(args.stream_out).count()
            except AnalysisException:
                n = 0
            print(json.dumps({"status": "drained", "transitions": n}))
            spark.stop()
            return
        rules = None
        if args.rules:
            with open(args.rules) as f:
                rules = [AlertRule(**r) for r in json.load(f)]
        sources = engine_alert_sources(
            spark, store,
            changelog_dir=args.changelog,
            dlq_dir=args.dlq_dir,
            whitelist=args.whitelist,
            bucket_budget_bytes=args.bucket_budget_bytes,
        )
        # driver-bounded: alerts are per-(rule, partition/bucket) rows —
        # control-plane sized, never O(data)
        fired = evaluate_alerts(spark, sources, rules).collect()
        for row in fired:
            print(json.dumps(row.asDict()))
        print(json.dumps({
            "n_alerts": len(fired),
            "sources": sorted(sources),
        }))
    elif args.cmd == "dlq-replay":
        engine = CdcApplyEngine(TableStore(args.target), EngineConfig())
        print(json.dumps(engine.replay_dlq(
            spark, args.dlq_dir, new_dlq_dir=args.new_dlq_dir
        )))
    elif args.cmd == "dedup-index":
        from .operators.dedup_incremental import IncrementalDedupIndex

        index = IncrementalDedupIndex(args.index, n_buckets=args.buckets)
        out = index.update(
            spark, TableStore(args.source), text_col=args.text_col,
            emit_pairs=args.pairs_out is not None,
        )
        pairs = out.pop("pairs", None)
        if pairs is not None:
            pairs.write.mode("overwrite").parquet(args.pairs_out)
            out["pairs_out"] = args.pairs_out
            out["n_new_pairs"] = spark.read.parquet(args.pairs_out).count()
        print(json.dumps(out))
    elif args.cmd == "clone-index":
        from .operators.clone_index import IncrementalCloneIndex

        index = IncrementalCloneIndex(
            args.index, n_buckets=args.buckets, k=args.k, w=args.w
        )
        out = index.update(
            spark, TableStore(args.source), text_col=args.text_col,
            emit_pairs=args.pairs_out is not None,
        )
        pairs = out.pop("pairs", None)
        if pairs is not None:
            pairs.write.mode("overwrite").parquet(args.pairs_out)
            out["pairs_out"] = args.pairs_out
            out["n_new_pairs"] = spark.read.parquet(args.pairs_out).count()
        if args.matches_out is not None:
            index.match_view(spark).write.mode("overwrite").parquet(
                args.matches_out
            )
            out["matches_out"] = args.matches_out
            out["n_matches"] = spark.read.parquet(args.matches_out).count()
        print(json.dumps(out))
    elif args.cmd == "fork-index":
        from .operators.forks import IncrementalForkIndex

        index = IncrementalForkIndex(args.index, n_buckets=args.buckets)
        out = index.update(
            spark, TableStore(args.source), text_col=args.text_col
        )
        if args.pairs_out is not None:
            index.fork_pairs_view(
                spark, min_jaccard=args.min_jaccard, max_df=args.max_df
            ).write.mode("overwrite").parquet(args.pairs_out)
            out["pairs_out"] = args.pairs_out
            out["n_pairs"] = spark.read.parquet(args.pairs_out).count()
        print(json.dumps(out))
    elif args.cmd == "forks":
        from pyspark.sql import functions as F

        from .operators.forks import fork_pairs, repo_file_sets

        files = repo_file_sets(TableStore(args.target).read_state(spark))
        pairs = fork_pairs(
            files, min_jaccard=args.min_jaccard, max_df=args.max_df
        )
        if args.out:
            pairs.write.mode("overwrite").parquet(args.out)
            print(json.dumps({
                "out": args.out, "n_pairs": spark.read.parquet(args.out).count()
            }))
        else:
            rows = pairs.orderBy(F.col("jaccard").desc()).limit(
                args.limit).collect()
            print(json.dumps([r.asDict() for r in rows]))
    elif args.cmd == "text-index":
        from .operators.text_index import IncrementalTextIndex

        idx = IncrementalTextIndex(args.index, n_buckets=args.buckets)
        out = idx.update(spark, TableStore(args.source),
                         text_col=args.text_col)
        print(json.dumps(out))
    elif args.cmd == "search":
        from .operators.text_index import IncrementalTextIndex

        idx = IncrementalTextIndex(args.index)
        rows = idx.search_bm25(
            spark, args.query, k=args.k, k1=args.k1, b=args.b
        ).collect()
        print(json.dumps([r.asDict() for r in rows]))
    elif args.cmd == "export-shards":
        from .operators.shards import export_shards
        from .schema import KEY_COLS

        out = export_shards(
            spark, TableStore(args.source).read_state(spark), args.out,
            KEY_COLS, args.rows_per_shard, seed=args.seed,
            slice_hex=args.slice_hex,
        )
        print(json.dumps(out))
    elif args.cmd == "clusters":
        from .operators.clusters_incremental import IncrementalClusterIndex
        from .operators.dedup_incremental import IncrementalDedupIndex

        src_store = TableStore(args.source)
        clusters = IncrementalClusterIndex(
            args.labels,
            IncrementalDedupIndex(args.index, n_buckets=args.buckets),
            n_buckets=args.buckets,
        )
        out = clusters.update(spark, src_store, text_col=args.text_col)
        if args.view_out:
            clusters.cluster_view(spark, src_store).write.mode(
                "overwrite").parquet(args.view_out)
            out["view_out"] = args.view_out
        print(json.dumps(out))
    elif args.cmd == "monitor":
        from .streaming.monitor import throughput_stream

        stream = throughput_stream(
            spark, args.changelog, CHANGELOG_SCHEMA_EVOLVED,
            window=args.window, watermark=args.watermark,
        )
        writer = (
            stream.writeStream.format("parquet")
            .option("path", args.out_dir)
            .option("checkpointLocation", args.checkpoint)
            .outputMode("append")
        )
        if not args.continuous:
            writer = writer.trigger(availableNow=True)
        q = writer.start()
        q.awaitTermination()
        # zero finalized windows (event-time span shorter than the
        # watermark) leaves only _spark_metadata in the sink — read with
        # an AnalysisException guard instead of crashing on schema
        # inference
        from pyspark.errors import AnalysisException

        try:
            n = spark.read.parquet(args.out_dir).count()
        except AnalysisException:
            n = 0
        print(json.dumps({"status": "drained", "windows": n}))
    elif args.cmd == "metrics":
        import os as _os

        from pyspark.errors import AnalysisException
        from pyspark.sql import functions as F

        mdir = _os.path.join(args.target, "metrics")
        try:
            m = spark.read.parquet(mdir)
        except AnalysisException:
            print(json.dumps({"epochs": 0, "partitions": []}))
            spark.stop()
            return
        recent = m.filter(
            F.col("epoch")
            > (m.agg(F.max("epoch")).first()[0] or 0) - args.last_epochs
        )
        rows = (
            recent.groupBy("partition")
            .agg(
                F.sum("n_events").alias("n_events"),
                F.sum("n_applied").alias("n_applied"),
                F.sum("n_duplicates").alias("n_duplicates"),
                F.sum("bytes_in").alias("bytes_in"),
                F.max("applied_lsn_before").alias("last_applied_lsn_before"),
                # ts3 - ts2: apply wall clock vs newest producer event time
                F.max(
                    F.unix_micros("apply_ts") - F.unix_micros("max_ts")
                ).alias("replication_latency_us"),
            )
            .orderBy("partition")
            .collect()
        )
        if args.format == "prometheus":
            from .operators.metrics import prometheus_exposition

            store = TableStore(args.target)
            marks = {
                r["partition"]: r["applied_lsn"]
                for r in store.read_lineage_rows()
            }
            prows = []
            for r in rows:
                d = r.asDict()
                lat_us = d.pop("replication_latency_us", None)
                d["replication_latency_ms"] = (
                    None if lat_us is None else lat_us / 1000.0
                )
                d["applied_lsn"] = marks.get(d["partition"])
                prows.append(d)
            m = store.current_manifest()
            txn_root = _os.path.join(args.target, "_txn")
            txn_open = None
            if _os.path.isdir(txn_root):
                from .operators.txn import TxnGate
                from urllib.parse import unquote

                txn_open = sum(
                    len(TxnGate(args.target, unquote(g)).open_txn_ids())
                    for g in _os.listdir(txn_root)
                )
            stats = {
                "version": store.current_version(),
                "n_buckets": None if m is None else m["n_buckets"],
                "bytes": None if m is None else
                sum(m.get("bucket_bytes", {}).values()),
                "txn_open": txn_open,
            }
            print(prometheus_exposition(prows, stats), end="")
        else:
            for r in rows:
                print(json.dumps(r.asDict(), default=str))
    elif args.cmd == "sketch":
        from .operators.sketches import IncrementalHllSketch

        groups = [c for c in args.group_cols.split(",") if c]
        sk = IncrementalHllSketch(args.sketch_root, groups, "")
        for r in sk.estimate(spark).orderBy(*groups).collect():
            print(json.dumps(r.asDict(), default=str))
    elif args.cmd == "hot-keys":
        from .operators.cms import IncrementalCmsSketch

        groups = [c for c in args.group_cols.split(",") if c]
        sk = IncrementalCmsSketch(args.sketch_root, groups, "")
        cand = spark.read.parquet(args.candidates).select(
            *groups, args.value_col
        ).distinct()
        out = sk.estimate(spark, cand, args.value_col).filter(
            f"est >= {int(args.min_count)}"
        )
        for r in out.orderBy(*groups, args.value_col).collect():
            print(json.dumps(r.asDict(), default=str))
    elif args.cmd == "percentiles":
        from .operators.hdr import IncrementalHdrHistogram

        groups = [c for c in args.group_cols.split(",") if c]
        sk = IncrementalHdrHistogram(args.sketch_root, groups, "")
        qs = [float(x) for x in args.q.split(",") if x]
        for r in sk.quantiles(spark, qs).orderBy(*groups, "q").collect():
            print(json.dumps(r.asDict(), default=str))
    elif args.cmd == "lag":
        from pyspark.sql import functions as F

        from .operators.filters import select_topics
        from .operators.metrics import consumer_lag

        store = TableStore(args.target)
        # the head must see the SAME topic selection the engine replicates:
        # lineage only advances on whitelisted events, so an unfiltered head
        # would report permanent phantom lag on partitions whose tail events
        # are blacklisted/internal-topic
        head = (
            select_topics(
                spark.read.option("mergeSchema", "true").parquet(args.changelog),
                args.whitelist,
            )
            .groupBy("partition").agg(F.max("lsn").alias("max_lsn"))
        )
        lineage = store.read_lineage(spark)
        if args.group:
            lineage = lineage.filter(F.col("consumer_group") == args.group)
        else:  # all flows: report the slowest group's watermark per partition
            lineage = lineage.groupBy("partition").agg(
                F.min("applied_lsn").alias("applied_lsn")
            )
        for row in consumer_lag(head, lineage).orderBy("partition").collect():
            print(json.dumps(row.asDict()))
    spark.stop()


if __name__ == "__main__":
    main()
