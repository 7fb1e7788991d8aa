"""The benchmark's workloads, driven through the engine's public API.

``tail_chain`` and ``mor_serve`` share one epoch stream (creates as the
bootstrap, then epochs of updates, deletes and re-deliveries) and differ in
what follows each epoch: a chained replica catching up through the
changefeed, or a read mix against a merge-on-read table. ``bulk_replay``
is the from-beginning replay of a whole changelog. Each workload returns
its end-to-end and per-layer metrics; :class:`Ctx` collects the samples,
the counts and every failed check.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from kp_data_replication_spark.datagen import (
    ChangelogSpec,
    compute_expected_state_pandas,
    write_changelog,
)
from kp_data_replication_spark.operators.changefeed import (
    changed_buckets,
    changefeed_envelope,
)
from kp_data_replication_spark.schema import CHANGELOG_SCHEMA, CHANGELOG_SCHEMA_EVOLVED
from kp_data_replication_spark.sources.table_store import TableStore
from kp_data_replication_spark.streaming.apply import (
    CdcApplyEngine,
    EngineConfig,
    final_state,
)

import metrics
from inputs import ExpectedState, content_sha, cut_epochs, digest, image_bytes

# One bucket per core of the 4-core reference host: shuffle partitions =
# n_buckets, so every stage of an epoch is one wave of tasks.
N_BUCKETS = 4
LOG_PARTITIONS = 8
# ~1 KiB of content per row: 24 md5 lines of ~40 bytes each.
CONTENT_CHAINS = 24
# Epoch stream: N_KEYS creates bootstrap the table; their N_KEYS updates
# and deletes are cut into N_EPOCHS epochs of ~1k events each. A run stops
# early if a fast program uses every epoch before its time is up.
N_KEYS = 8_000
N_EPOCHS = 8
# mor_serve folds a bucket's delta layers at this many layers; every epoch
# dirties every bucket, so each run of MOR_FOLD_LAYERS consecutive epochs
# holds exactly one fold, and the loop measures whole runs of them.
MOR_FOLD_LAYERS = 2
LOOKUPS_PER_EPOCH = 2
# Every run measures at least this many epochs, whatever ``--seconds``:
# one epoch's latency is one sample of a host whose speed drifts.
MIN_EPOCHS = 2
KEYS_PER_LOOKUP = 5
# bulk_replay: 5 versions per key, 20% of keys in one hot repo, a
# re-delivered duplicate tail and an additive schema change at 75%.
BULK_KEYS = 12_000
BULK_VERSIONS = 5

COMMIT_PHASES = ("plan", "list", "write", "stats", "changes", "lineage",
                 "manifest", "retain", "swap")

END_TO_END_UNITS = {
    "setup_s": "s",
    "events_per_s": "1/s",
    "commit_p50_s": "s",
    "write_amp": "ratio",
    "space_amp": "ratio",
    "peak_rss_mb": "MB",
}
PER_LAYER_UNITS = {
    "datagen.write_changelog_s": "s",
    "apply.phase.compact_s": "s",
    "apply.phase.merge_commit_s": "s",
    "apply.phase.mor_fold_s": "s",
    **{f"table_store.commit_phase.{p}_s": "s" for p in COMMIT_PHASES},
    "apply.spark_jobs_per_epoch": "count",
    "apply.keys_changed_per_event": "ratio",
    "apply.retries": "count",
    "table_store.mor_layers_max": "count",
    "table_store.lookup_s": "s",
    "table_store.read_state_s": "s",
    "table_store.prune_files_selected_ratio": "ratio",
    "table_store.bytes_written": "bytes",
    "table_store.files_written": "count",
    "table_store.live_bytes": "bytes",
    "changefeed.envelope_s": "s",
    "changefeed.rows_emitted": "count",
    "changefeed.changed_buckets_ratio": "ratio",
    "replica.apply_batch_s": "s",
    "replica.lag_s": "s",
    "epoch.self_s": "s",
    "trace.overhead_s": "s",
}


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    tracer: object
    traced: bool
    session_s: float
    samples: dict = field(default_factory=lambda: defaultdict(list))
    counts: dict = field(default_factory=lambda: defaultdict(float))
    errors: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    # seconds spent on trace-only instrumentation (job counting, manifest
    # probes): what a traced run does that an untraced one does not
    instr_s: float = 0.0
    # wall seconds of each set-up and check step, for attributing drift
    steps: dict = field(default_factory=dict)

    def setup_s(self) -> float:
        """Session start plus every set-up step so far."""
        return self.session_s + sum(self.steps.values())

    @contextmanager
    def step(self, name: str):
        t = time.perf_counter()
        try:
            yield
        finally:
            self.steps[name] = self.steps.get(name, 0.0) + time.perf_counter() - t

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def start_measuring(self) -> None:
        """Drop what the set-up recorded; only measured epochs count."""
        keep = self.samples["datagen.write_changelog_s"]
        self.samples.clear()
        self.samples["datagen.write_changelog_s"] = keep
        self.counts["keys_changed"] = self.counts["events_handed"] = 0
        self.instr_s = 0.0

    @contextmanager
    def instrument(self):
        t = time.perf_counter()
        try:
            yield
        finally:
            self.instr_s += time.perf_counter() - t

    @contextmanager
    def jobs(self, label: str):
        """Count the Spark jobs the enclosed call runs (traced runs only):
        a job group per call, read back from the status tracker."""
        if not self.traced:
            yield
            return
        sc = self.spark.sparkContext
        gid = f"bench-{label}-{int(self.counts['job_groups'])}"
        self.counts["job_groups"] += 1
        with self.instrument():
            sc.setJobGroup(gid, label)
        try:
            yield
        finally:
            with self.instrument():
                n = len(sc.statusTracker().getJobIdsForGroup(gid))
                self.samples[f"jobs.{label}"].append(n)


def _engine(store: TableStore, ctx: Ctx, **config) -> CdcApplyEngine:
    """An engine whose calls and attempts are counted: ``apply_batch``
    retries an attempt that lost a commit race, so attempts - calls =
    retries."""
    engine = CdcApplyEngine(store, EngineConfig(metrics=False, **config))
    apply_batch, attempt = engine.apply_batch, engine._apply_batch_attempt

    def counted(name, fn):
        def call(*a, **k):
            ctx.counts[name] += 1
            return fn(*a, **k)
        return call

    engine.apply_batch = counted("apply_calls", apply_batch)
    engine._apply_batch_attempt = counted("apply_attempts", attempt)
    return engine


def _apply(ctx: Ctx, engine: CdcApplyEngine, df, epoch: int,
           writer_id: str = "default", span: str = "streaming.apply.apply_batch"):
    with ctx.tracer.span(span, epoch=epoch) as attrs, ctx.jobs(span):
        out = engine.apply_batch(df, epoch, writer_id=writer_id)
        attrs["keys_changed"] = out.get("keys_changed")
    ctx.check(out.get("status") == "committed",
              f"epoch {epoch} on {engine.store.root}: {out.get('status')}")
    return out


def _record_apply(ctx: Ctx, out: dict, store: TableStore, events: int) -> None:
    phases = out.get("phases", {})
    for p in ("compact", "merge_commit", "mor_fold"):
        ctx.samples[f"apply.phase.{p}_s"].append(phases.get(p, 0.0))
    for p in COMMIT_PHASES:
        ctx.samples[f"table_store.commit_phase.{p}_s"].append(
            store.last_commit_phases.get(p, 0.0)
        )
    ctx.counts["keys_changed"] += out.get("keys_changed", 0)
    ctx.counts["events_handed"] += events
    if ctx.traced:
        with ctx.instrument():
            mor = (store.current_manifest() or {}).get("mor") or {}
            ctx.samples["table_store.mor_layers"].append(max(mor.values(), default=0))


def _state_digest(ctx: Ctx, store: TableStore) -> str:
    rows = final_state(ctx.spark, store).select("repo", "path", "content_sha").collect()
    return digest((r[0], r[1], r[2]) for r in rows)


def _oracle_digest(changelog_dir: str) -> str:
    exp = compute_expected_state_pandas(changelog_dir)
    return digest((r.repo, r.path, content_sha(r.content)) for r in exp.itertuples())


# ------------------------------------------------------------------ #
# shared set-up of the epoch-stream workloads


def _epoch_stream_log(ctx: Ctx):
    spec = ChangelogSpec(
        n_keys=N_KEYS + ctx.seed % 97,
        versions_per_key=2,
        n_partitions=LOG_PARTITIONS,
        files=1,
        parts_per_file=1,
        content_chains=CONTENT_CHAINS,
        evolve_at_frac=1.0,
        dup_every=0,
        lsn_base=(ctx.seed % 1000) * 1000,
    )
    with ctx.step("datagen"):
        write_changelog(ctx.spark, ctx.path("changelog"), spec)
    ctx.samples["datagen.write_changelog_s"].append(ctx.steps["datagen"])
    with ctx.step("cut_epochs"):
        return cut_epochs(ctx.path("changelog"), ctx.path("epochs"), N_EPOCHS, ctx.seed)


def _read(ctx: Ctx, path: str):
    return ctx.spark.read.schema(CHANGELOG_SCHEMA).parquet(path)


def _bootstrap(ctx: Ctx, log, name: str, **config):
    """A fresh table holding the log's creates."""
    store = TableStore(ctx.path(name), n_buckets=N_BUCKETS)
    engine = _engine(store, ctx, **config)
    with ctx.step("bootstrap"):
        out = engine.apply_batch(_read(ctx, log.bootstrap.path), 0)
    ctx.check(out.get("status") == "committed", f"bootstrap {name}")
    return store, engine


def _timed_loop(ctx: Ctx, n_available: int, cycle, period: int = 1) -> tuple[int, float]:
    """Run ``cycle(e)`` for epochs 0.. in whole groups of ``period`` until
    ``ctx.seconds`` have passed and ``MIN_EPOCHS`` ran, or the log is used
    up. Returns (epochs measured, seconds)."""
    ctx.start_measuring()
    t0 = time.perf_counter()
    e = 0
    while e + period <= n_available:
        for _ in range(period):
            cycle(e)
            e += 1
        if time.perf_counter() - t0 >= ctx.seconds and e >= MIN_EPOCHS:
            break
    return e, time.perf_counter() - t0


def _store_writes(store: TableStore, v_from: int, v_to: int) -> tuple[int, int]:
    return metrics.bytes_written(
        [store.manifest(v) for v in range(v_from, v_to + 1)],
        lambda p: os.path.getsize(os.path.join(store.root, p)),
    )


def _finish_epoch_stream(ctx: Ctx, out: dict, store: TableStore, log, n: int,
                         wall: float, state: ExpectedState, v_start: int, setup_s: float):
    """End-to-end and storage metrics shared by the epoch-stream workloads,
    plus the final-state gate against the program's own oracle."""
    with ctx.step("check"):
        applied = ctx.path("applied")
        os.makedirs(applied)
        for plan in [log.bootstrap] + log.epochs[:n]:
            os.link(plan.path, os.path.join(applied, os.path.basename(plan.path)))
        oracle = _oracle_digest(applied)
        ctx.check(oracle == state.digest(), "incremental oracle != datagen oracle")
        ctx.check(_state_digest(ctx, store) == oracle, f"{store.root} state != oracle")

    n_files, n_bytes = _store_writes(store, v_start, store.current_version())
    changed_bytes = sum(p.changed_image_bytes for p in log.epochs[:n])
    events = sum(p.events_handed for p in log.epochs[:n])
    out["end_to_end"].update({
        "setup_s": setup_s,
        "events_per_s": events / wall,
        "commit_p50_s": metrics.median(ctx.samples["commit_s"]),
        "write_amp": metrics.write_amp(n_bytes, changed_bytes),
        "space_amp": metrics.space_amp(store.live_bytes(), state.logical_bytes()),
    })
    out["per_layer"].update({
        "table_store.bytes_written": n_bytes,
        "table_store.files_written": n_files,
        "table_store.live_bytes": store.live_bytes(),
    })
    out["epochs_measured"] = n
    out["measured_s"] = wall


# ------------------------------------------------------------------ #
# tail_chain


def tail_chain(ctx: Ctx) -> dict:
    """One closed-loop client: each epoch is applied to copy-on-write table
    A, then replica B catches up through A's changefeed."""
    log = _epoch_stream_log(ctx)
    state = ExpectedState()
    state.apply(log.bootstrap.changed)
    a, ea = _bootstrap(ctx, log, "A")
    with ctx.step("bootstrap_replica"):
        # B starts as a zero-copy clone of A's bootstrapped version and then
        # tails A's changefeed as its own flow: a consumer group of its own,
        # so the raw log's applied watermarks it inherited gate nothing
        b = a.clone(ctx.path("B"))
    eb = _engine(b, ctx, consumer_group="replica")

    def cycle(e: int) -> None:
        plan = log.epochs[e]
        with ctx.tracer.span("epoch", trace_id=f"epoch-{e}", epoch=e):
            t0 = time.perf_counter()
            v_prev = a.current_version()
            res = _apply(ctx, ea, _read(ctx, plan.path), e + 1)
            t_commit = time.perf_counter()
            v_now = a.current_version()
            with ctx.tracer.span("operators.changefeed.changefeed_envelope"):
                env = changefeed_envelope(ctx.spark, a, v_prev, v_now)
            t_env = time.perf_counter()
            res_b = _apply(ctx, eb, env, e + 1, writer_id="cascade",
                           span="replica.apply_batch")
            t_lag = time.perf_counter()
        state.apply(plan.changed)
        ctx.samples["commit_s"].append(t_commit - t0)
        ctx.samples["replica.lag_s"].append(t_lag - t0)
        ctx.samples["changefeed.envelope_s"].append(t_env - t_commit)
        ctx.samples["replica.apply_batch_s"].append(t_lag - t_env)
        _record_apply(ctx, res, a, plan.events_handed)
        ctx.samples["changefeed.rows_emitted"].append(res_b.get("keys_changed", 0))
        if ctx.traced:
            with ctx.instrument():
                ctx.samples["changefeed.changed_buckets_ratio"].append(
                    len(changed_buckets(a, v_prev, v_now)) / a.n_buckets
                )

    setup_s = ctx.setup_s()
    v_start = a.current_version()
    n, wall = _timed_loop(ctx, len(log.epochs), cycle)
    result = {"end_to_end": {}, "per_layer": {}}
    _finish_epoch_stream(ctx, result, a, log, n, wall, state, v_start, setup_s)
    with ctx.step("check"):
        ctx.check(_state_digest(ctx, b) == state.digest(), "replica B state != A oracle")
    result["samples"] = {"replica_lag_s": ctx.samples["replica.lag_s"]}
    return result


# ------------------------------------------------------------------ #
# mor_serve


def mor_serve(ctx: Ctx) -> dict:
    """The epoch stream into a merge-on-read table, with a read mix after
    every epoch: point lookups, a full-scan aggregate and an AS-OF read."""
    log = _epoch_stream_log(ctx)
    state = ExpectedState()
    state.apply(log.bootstrap.changed)
    rng = random.Random(ctx.seed)
    m, em = _bootstrap(ctx, log, "M", table_mode="mor", mor_fold_max_layers=MOR_FOLD_LAYERS)
    # the expected scan aggregate of every version an epoch committed
    versions = [m.current_version()]
    history = {versions[0]: state.aggregate()}

    def aggregate(version=None):
        df = m.read_state(ctx.spark, version=version)
        r = df.agg(F.count(F.lit(1)), F.sum(F.length("content"))).first()
        return (r[0], r[1] or 0)

    def read_mix(recent: list) -> None:
        """Lookups of two recently changed and three random keys, a
        full-scan aggregate, and the same aggregate AS OF two epochs ago."""
        for _ in range(LOOKUPS_PER_EPOCH):
            keys = rng.sample(recent, 2) + rng.sample(log.keys, KEYS_PER_LOOKUP - 2)
            t = time.perf_counter()
            with ctx.tracer.span("sources.table_store.lookup"), ctx.jobs("lookup"):
                rows = m.lookup(ctx.spark, keys).select(
                    "repo", "path", F.sha2("content", 256)).collect()
            ctx.samples["table_store.lookup_s"].append(time.perf_counter() - t)
            ctx.check({tuple(r) for r in rows} == state.lookup(keys),
                      f"lookup at v{versions[-1]}")
            if ctx.traced:
                with ctx.instrument():
                    sel = tot = 0
                    for k in keys:
                        rep = m.prune_report([("repo", "=", k[0]), ("path", "=", k[1])])
                        sel += rep["files_selected"] + rep["mor_files"]
                        tot += rep["files_total"] + rep["mor_files"]
                    ctx.samples["table_store.prune_files_selected_ratio"].append(sel / tot)
        t = time.perf_counter()
        with ctx.tracer.span("sources.table_store.read_state"), ctx.jobs("read_state"):
            got = aggregate()
        ctx.samples["table_store.read_state_s"].append(time.perf_counter() - t)
        ctx.check(got == history[versions[-1]], f"scan at v{versions[-1]}: {got}")
        old = versions[max(len(versions) - 3, 0)]
        with ctx.tracer.span("sources.table_store.read_state.as_of"):
            got = aggregate(old)
        ctx.check(got == history[old], f"as-of v{old}: {got}")

    def cycle(e: int) -> None:
        plan = log.epochs[e]
        with ctx.tracer.span("epoch", trace_id=f"epoch-{e}", epoch=e):
            t0 = time.perf_counter()
            res = _apply(ctx, em, _read(ctx, plan.path), e + 1)
            ctx.samples["commit_s"].append(time.perf_counter() - t0)
            state.apply(plan.changed)
            versions.append(res.get("version"))
            history[versions[-1]] = state.aggregate()
            read_mix(list(plan.changed))
        _record_apply(ctx, res, m, plan.events_handed)

    setup_s = ctx.setup_s()
    v_start = m.current_version()
    n, wall = _timed_loop(ctx, len(log.epochs), cycle, period=MOR_FOLD_LAYERS)
    result = {"end_to_end": {}, "per_layer": {}}
    _finish_epoch_stream(ctx, result, m, log, n, wall, state, v_start, setup_s)
    result["samples"] = {"lookup_s": ctx.samples["table_store.lookup_s"],
                         "scan_s": ctx.samples["table_store.read_state_s"]}
    return result


# ------------------------------------------------------------------ #
# bulk_replay


def bulk_replay(ctx: Ctx) -> dict:
    """From-beginning ``replay_batch`` of a whole changelog into an empty
    table, repeated into fresh tables for the run's duration."""
    spec = ChangelogSpec(
        n_keys=BULK_KEYS + ctx.seed % 97,
        versions_per_key=BULK_VERSIONS,
        n_partitions=LOG_PARTITIONS,
        files=4,
        content_chains=CONTENT_CHAINS,
        lsn_base=(ctx.seed % 1000) * 1000,
    )
    cl = ctx.path("changelog")
    with ctx.step("datagen"):
        write_changelog(ctx.spark, cl, spec)
    ctx.samples["datagen.write_changelog_s"].append(ctx.steps["datagen"])
    with ctx.step("oracle"):
        expected = compute_expected_state_pandas(cl)
        oracle = digest((r.repo, r.path, content_sha(r.content)) for r in expected.itertuples())
        logical = sum(image_bytes(r) for r in expected.to_dict("records"))

    def replay(i: int):
        store = TableStore(ctx.path(f"R{i}"), n_buckets=N_BUCKETS)
        engine = _engine(store, ctx)
        with ctx.tracer.span("epoch", trace_id=f"epoch-{i}", epoch=i, warm_up=i < 0):
            t0 = time.perf_counter()
            with ctx.tracer.span("streaming.apply.replay_batch") as attrs, ctx.jobs(
                    "streaming.apply.apply_batch"):
                out = engine.replay_batch(ctx.spark, cl, CHANGELOG_SCHEMA_EVOLVED)
                attrs["keys_changed"] = out.get("keys_changed")
            dt = time.perf_counter() - t0
        ctx.check(out.get("status") == "committed", f"replay {i}")
        return store, out, dt

    with ctx.step("warm_up"):
        store, _, _ = replay(-1)
        shutil.rmtree(store.root)
    setup_s = ctx.setup_s()
    ctx.start_measuring()
    t0 = time.perf_counter()
    i = 0
    while True:
        store, out, dt = replay(i)
        ctx.samples["commit_s"].append(dt)
        _record_apply(ctx, out, store, spec.n_events)
        i += 1
        if time.perf_counter() - t0 >= ctx.seconds:
            break
        shutil.rmtree(store.root)
    wall = time.perf_counter() - t0
    with ctx.step("check"):
        ctx.check(_state_digest(ctx, store) == oracle, "replay state != oracle")
    n_files, n_bytes = _store_writes(store, 0, store.current_version())
    return {
        "end_to_end": {
            "setup_s": setup_s,
            "events_per_s": ctx.counts["events_handed"] / wall,
            "commit_p50_s": metrics.median(ctx.samples["commit_s"]),
            # into an empty table, the changed images are the live rows
            "write_amp": metrics.write_amp(n_bytes, logical),
            "space_amp": metrics.space_amp(store.live_bytes(), logical),
        },
        "per_layer": {
            "table_store.bytes_written": n_bytes,
            "table_store.files_written": n_files,
            "table_store.live_bytes": store.live_bytes(),
        },
        "epochs_measured": i,
        "measured_s": wall,
    }


WORKLOADS = {"tail_chain": tail_chain, "mor_serve": mor_serve, "bulk_replay": bulk_replay}
