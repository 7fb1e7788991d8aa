#!/usr/bin/env python3
"""CDC engine benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload tail_chain --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Generates the workload's inputs from the
seed with the engine's own load generator, runs the workload through the
public API on ``local[<cores>]`` for ``--seconds`` of measured time, checks
every output against an oracle and prints each metric by name with its
unit. The last line of stdout is one JSON object: ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` records spans around every call into a
layer and reports the per-layer metrics. Every sample, and the spans of a
traced run, are kept under ``perfbench/_work/`` (see README.md there).
Exits 1 when any check fails and 2 when the engine is not in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
PACKAGE = "kp_data_replication_spark"
# Driver JVM heap: the tables here are tens of MB, and the host is shared.
DRIVER_MEM_CAP_MB = 1536


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["tail_chain", "mor_serve", "bulk_replay"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cpus", type=int, default=None,
                    help="local[N] cores (default: every core this process may use)")
    return ap.parse_args(argv)


def driver_mem() -> str:
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(DRIVER_MEM_CAP_MB, total_kb // 1024 // 4)}m"


def jvm_peak_rss_mb(pid: int) -> float:
    """High-water resident set of the driver JVM (``VmHWM``)."""
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit: it ends when
    its stdin closes."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 — a JVM that will not exit is killed
        proc.kill()
        proc.wait()


def layer_metrics(ctx, res: dict) -> dict:
    """Per-layer metrics of a traced run. Times are per-epoch means over
    the measured epochs, so the phases of an epoch add up to its mean."""
    import metrics
    from workloads import PER_LAYER_UNITS

    s = ctx.samples

    def mean(k):
        return sum(s[k]) / len(s[k]) if s.get(k) else 0.0

    out = {k: 0.0 for k in PER_LAYER_UNITS}
    for k in PER_LAYER_UNITS:
        if k.endswith("_s") or k.endswith("_ratio") or k == "changefeed.rows_emitted":
            out[k] = mean(k)
    jobs = s.get("jobs.streaming.apply.apply_batch")
    out["apply.spark_jobs_per_epoch"] = metrics.median(jobs) if jobs else 0.0
    out["apply.keys_changed_per_event"] = (
        ctx.counts["keys_changed"] / ctx.counts["events_handed"]
        if ctx.counts["events_handed"] else 0.0
    )
    out["apply.retries"] = ctx.counts["apply_attempts"] - ctx.counts["apply_calls"]
    out["table_store.mor_layers_max"] = max(s.get("table_store.mor_layers") or [0])
    epochs = max(res["epochs_measured"], 1)
    self_times = [
        metrics.self_time(sp, [c for c in ctx.tracer.spans if c["parent"] == sp["id"]])
        for sp in ctx.tracer.spans
        if sp["name"] == "epoch" and not sp["attrs"].get("warm_up")
    ]
    out["epoch.self_s"] = sum(self_times) / len(self_times) if self_times else 0.0
    out["trace.overhead_s"] = ctx.instr_s / epochs
    out.update(res["per_layer"])
    return out


def print_report(args, ctx, res: dict, e2e: dict, layers: dict | None) -> None:
    """Human-readable lines: every metric by name with its unit, with the
    sample count and quartiles of the latencies behind the medians."""
    import metrics
    from workloads import END_TO_END_UNITS, PER_LAYER_UNITS

    print(f"# workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"{res['epochs_measured']} epochs in {res['measured_s']:.1f} s measured, "
          f"{ctx.failed}/{ctx.attempted} checks failed")
    for k, v in e2e.items():
        print(f"{k:42s} {v:14.6g} {END_TO_END_UNITS[k]}")
    latencies = {"commit_s": ctx.samples.get("commit_s", [])}
    latencies.update(res.get("samples", {}))
    for name, xs in latencies.items():
        if not xs:
            continue
        sm = metrics.summary(xs)
        base = name[:-2]
        if f"{base}_p50_s" not in e2e:
            print(f"{base + '_p50_s':42s} {sm['p50']:14.6g} s")
        if sm["high"]:
            p, v = sm["high"]
            print(f"{base + f'_p{p}_s':42s} {v:14.6g} s")
        print(f"#   {name} samples: n={sm['n']}, p25 {sm['p25']:.4g}, "
              f"p50 {sm['p50']:.4g}, p75 {sm['p75']:.4g}")
    ratio = ctx.failed / ctx.attempted if ctx.attempted else 0.0
    print(f"{'failed_ops_ratio':42s} {ratio:14.6g} ratio  ({ctx.failed} of {ctx.attempted})")
    for k, v in (layers or {}).items():
        print(f"{k:42s} {v:14.6g} {PER_LAYER_UNITS[k]}")
    steps = ", ".join(f"{k} {v:.2f}" for k, v in ctx.steps.items())
    print(f"# steps (s): session {ctx.session_s:.2f}, {steps}")
    for err in ctx.errors:
        print(f"# CHECK FAILED: {err}")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE} package next to {HERE}; run from a checkout "
              "of the engine", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    cpus = args.cpus or len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = os.path.join(WORK, run_id)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # everything Spark and Python spill stays inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem()
    try:
        return run(args, cpus, run_id, work, tmp)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, cpus: int, run_id: str, work: str, tmp: str) -> int:
    from kp_data_replication_spark.session import get_spark

    import workloads
    from tracer import NO_TRACE, Tracer

    spark = get_spark(
        app_name="perfbench",
        cpus=cpus,
        shuffle_partitions=workloads.N_BUCKETS,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:+UseSerialGC",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    try:
        session_s = time.perf_counter() - T_START
        ctx = workloads.Ctx(
            spark=spark, work=work, seed=args.seed, seconds=args.seconds,
            tracer=Tracer() if args.trace else NO_TRACE, traced=bool(args.trace),
            session_s=session_s,
        )
        with ctx.tracer.span("workload", trace_id="run", workload=args.workload):
            res = workloads.WORKLOADS[args.workload](ctx)
        peak = jvm_peak_rss_mb(spark.sparkContext._gateway.proc.pid)
    finally:
        stop_spark(spark)

    correct = ctx.failed == 0
    retries = int(ctx.counts["apply_attempts"] - ctx.counts["apply_calls"])
    if retries:  # a commit that lost a race and was recomputed
        ctx.failed += retries
        ctx.errors.append(f"{retries} apply attempt(s) retried")
    e2e = dict(res["end_to_end"], peak_rss_mb=peak)
    layers = layer_metrics(ctx, res) if args.trace else None
    print_report(args, ctx, res, e2e, layers)

    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    record = {
        "run_id": run_id, "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": cpus, "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "end_to_end": e2e, "per_layer": layers, "epochs_measured": res["epochs_measured"],
        "measured_s": res["measured_s"], "samples": dict(ctx.samples),
        "attempted": ctx.attempted, "failed": ctx.failed, "errors": ctx.errors,
        "steps": dict(ctx.steps, session=ctx.session_s),
    }
    with open(os.path.join(WORK, "results", f"{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        ctx.tracer.dump(os.path.join(WORK, "traces", f"{run_id}.jsonl"))

    units = {**workloads.END_TO_END_UNITS, **workloads.PER_LAYER_UNITS}
    reported = layers if args.trace else e2e
    print(json.dumps({
        "correct": correct,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in reported.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
