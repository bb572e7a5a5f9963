#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload llm_curation --seed 1 --seconds 12 --trace 0

Order of a run: synthesize the inputs from the seed; set up (imports,
query registry, JVM and Spark session and its first job; timed as
``setup_s``); one cold pass (``cold_s``); then whole warm passes until
``--seconds`` would be exceeded (at least three; ``warm_s`` and
``op_p50_s`` are their medians);
final state checks; forced GC and heap reading (``jvm_live_mb``).
Every output is checked, and a wrong one counts as a failed operation.
The last stdout line is one JSON object; the exit code is 0 only when
every check passed.

``--trace 1`` instead reports per-layer metrics: four warm passes,
untraced-traced-traced-untraced; the traced ones record spans and read
Spark's telemetry around every call into a layer, and the difference
between their medians is the tracing overhead. Spans are written to
``.perfbench/spans/`` at the end.

Each run gets its own Spark local dirs and TMPDIR (where the frame tier
lives) under ``.perfbench/``, removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import stats, telemetry  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402
from perfbench.workloads import WORKLOADS, Context, CurationWorkload, Op  # noqa: E402

MAX_CPUS = 4
DRIVER_MEM = "2g"
MIN_WARM_PASSES = 3

END_TO_END = {"setup_s": "s", "cold_s": "s", "warm_s": "s", "op_p50_s": "s", "jvm_live_mb": "MB"}

_EXEC = {
    "exec.task_cpu_s": "s",
    "exec.task_run_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.stages": "count",
    "exec.tasks": "count",
}
PER_LAYER = {
    "session.start_s": "s",
    "registry.load_s": "s",
    "sources.generate_s": "s",
    "pipeline.parse_s": "s",
    "pipeline.sink_s": "s",
    "functions.validate_enrich_s": "s",
    "rows_in": "count",
    "rows_processed": "count",
    "rows_quarantined": "count",
    "rows_corrupt": "count",
    "useful_ratio": "share",
    "plans.build_s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "plans.jobs_per_query": "count",
    **_EXEC,
    "exec.busy_share": "share",
    "pyworker.cpu_s": "s",
    **{f"q.{q}.{k}_s": "s" for q in CurationWorkload.QUERIES for k in ("warm", "cold")},
    "tier.build_s": "s",
    "tier.scratch_mb": "MB",
    "stream.trigger_ms": "ms",
    "stream.latest_offset_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.commit_ms": "ms",
    "stream.start_s": "s",
    "state.dirs": "count",
    "state.mb": "MB",
    "state.read_slope_ms_per_epoch": "ms",
    "state_read_s": "s",
    "out_bytes_per_in_byte": "B/B",
    "error_rate": "share",
    "trace.overhead_share": "share",
}


def pin_environment(run_dir: str) -> dict[str, str]:
    """Cores, driver heap and scratch locations for this run only."""
    env = {
        "SPARK_GRAFT_CPUS": str(min(MAX_CPUS, len(os.sched_getaffinity(0)))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
    }
    for k in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(env[k])
    os.environ.update(env)
    tempfile.tempdir = None  # re-read TMPDIR
    return env


def spark_conf(run_dir: str) -> dict[str, str]:
    """Keep the JVM's own temp files and the console quiet and inside the run."""
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir}/tmp -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_passes(workload, ctx: Context, seconds: float, traced: bool):
    """Cold pass, then warm passes while the next one fits in ``seconds``.

    Untraced runs make MIN_WARM_PASSES at least: the first warm pass of a
    process still carries JIT warm-up, and a median of three shrugs off
    one pass slowed by the machine.
    Traced runs make four, untraced-traced-traced-untraced, so that the
    overhead comparison is not skewed by passes speeding up over time."""
    tracer = ctx.tracer
    tracer.enabled = False
    cold = workload.run_pass(ctx, cold=True)
    warm: list[list[Op]] = []
    traced_flags: list[bool] = []
    t_end = time.perf_counter() + seconds
    while True:
        on = traced and len(warm) % 4 in (1, 2)
        tracer.enabled = on
        ctx.stages = telemetry.StageCounter(ctx.spark) if on else None
        t0 = time.perf_counter()
        warm.append(workload.run_pass(ctx, cold=False))
        traced_flags.append(on)
        took = time.perf_counter() - t0
        if traced:
            if len(warm) == 4:
                break
        elif len(warm) >= MIN_WARM_PASSES and time.perf_counter() + took > t_end:
            break
    ctx.stages = None
    tracer.enabled = False
    return cold, warm, traced_flags


def layer_metrics(workload, ctx, warm, traced_flags, setup_parts) -> dict[str, float]:
    traced_passes = [p for p, on in zip(warm, traced_flags) if on]
    plain_passes = [p for p, on in zip(warm, traced_flags) if not on]
    per_pass = lambda key: stats.median([sum(o.layer.get(key, 0.0) for o in p) for p in traced_passes])  # noqa: E731
    ops = [o for p in traced_passes for o in p]
    out = dict.fromkeys(PER_LAYER, 0.0)
    out.update(setup_parts)
    for key in _EXEC:
        out[key] = per_pass(key.split(".", 1)[1])
    wall = sum(o.wall for o in ops)
    out["exec.busy_share"] = sum(o.layer.get("task_run_s", 0.0) for o in ops) / (wall * ctx.cores)
    out["pyworker.cpu_s"] = per_pass("pyworker_cpu_s")
    if any("build_s" in o.layer for o in ops):
        out["plans.build_s"] = per_pass("build_s")
        for ph in telemetry.PHASES:
            out[f"catalyst.{ph}_ms"] = per_pass(f"catalyst_{ph}_ms")
        out["plans.jobs_per_query"] = sum(o.layer.get("jobs", 0.0) for o in ops) / len(ops)
    pass_wall = lambda passes: stats.median([sum(o.wall for o in p) for p in passes])  # noqa: E731
    out["trace.overhead_share"] = pass_wall(traced_passes) / pass_wall(plain_passes) - 1.0
    ctx.tracer.enabled = True  # the workload's own layer probes are traced too
    ctx.tracer.new_run()
    out.update({k: v for k, v in workload.layer_metrics(ctx).items() if k in PER_LAYER})
    ctx.tracer.enabled = False
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    traced = bool(args.trace)

    base = os.path.join(os.getcwd(), ".perfbench")
    run_dir = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    spark = None
    try:
        env = pin_environment(run_dir)
        print("env " + " ".join(f"{k}={v}" for k, v in env.items()), flush=True)
        workload = WORKLOADS[args.workload]()
        t = time.perf_counter()
        workload.synthesize(run_dir, args.seed)
        print(f"synthesized inputs in {time.perf_counter() - t:.2f} s", flush=True)

        t0 = time.perf_counter()
        from e_commerce_data_engineering_spark.session import get_spark

        t1 = time.perf_counter()
        from e_commerce_data_engineering_spark.plans.registry import all_queries

        all_queries()
        t2 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=spark_conf(run_dir))
        # set-up ends when the session can run a job: the first one pays
        # scheduler, executor and codegen start-up common to every workload
        spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
        t3 = time.perf_counter()
        setup_parts = {"registry.load_s": t2 - t1, "session.start_s": t3 - t2}

        ctx = Context(
            spark=spark,
            tracer=Tracer(False),
            run_dir=run_dir,
            cores=int(env["SPARK_GRAFT_CPUS"]),
            jvm_pid=telemetry.jvm_pid(spark),
        )
        t = time.perf_counter()
        workload.start(ctx)
        print(f"prepared checks in {time.perf_counter() - t:.2f} s", flush=True)
        cold, warm, traced_flags = run_passes(workload, ctx, args.seconds, traced)
        layers = layer_metrics(workload, ctx, warm, traced_flags, setup_parts) if traced else {}
        t = time.perf_counter()
        problems = workload.finish(ctx)
        print(f"final checks in {time.perf_counter() - t:.2f} s", flush=True)
        outcome = dict.fromkeys(("state_read_s", "out_bytes_per_in_byte"), 0.0) | workload.outcome_metrics()
        live_mb = telemetry.jvm_live_mb(spark)
        if traced:
            os.makedirs(os.path.join(base, "spans"), exist_ok=True)
            spans_path = os.path.join(base, "spans", f"{args.workload}-seed{args.seed}.jsonl")
            ctx.tracer.write(spans_path)
            self_times = ctx.tracer.self_times()
    finally:
        if spark is not None:
            t = time.perf_counter()
            stop_spark(spark)
            print(f"stopped Spark in {time.perf_counter() - t:.2f} s", flush=True)
        shutil.rmtree(run_dir, ignore_errors=True)

    ops = cold + [o for p in warm for o in p]
    plain = [p for p, on in zip(warm, traced_flags) if not on] or warm
    failed = [o for o in ops if not o.ok]
    attempted = len(ops) + 1  # the final state check is one more operation
    n_failed = len(failed) + (1 if problems else 0)
    warm_ops = [o.wall for p in plain for o in p]
    e2e = {
        "setup_s": t3 - t0,
        "cold_s": sum(o.wall for o in cold),
        "warm_s": stats.median([sum(o.wall for o in p) for p in plain]),
        "op_p50_s": stats.median(warm_ops),
        "jvm_live_mb": live_mb,
    }
    for o in failed:
        print(f"FAILED {o.name}: {o.detail}")
    for p in problems:
        print(f"FAILED final check: {p}")
    print(f"workload {args.workload} seed {args.seed}: {len(plain)} warm passes, {len(warm_ops)} warm ops")
    print("  warm pass walls (s): " + " ".join(f"{sum(o.wall for o in p):.3f}" for p in warm))
    for name in dict.fromkeys(o.name for o in ops):
        c = [o.wall for o in cold if o.name == name]
        w = [o.wall for p in plain for o in p if o.name == name]
        print(f"  op {name:32s} cold {c[0] if c else 0:8.3f} s   warm median {stats.median(w) if w else 0:8.3f} s")
    for k, v in e2e.items():
        print(f"  {k:24s} {v:12.4f} {END_TO_END[k]}")
    t = stats.tail(warm_ops)
    tail = f"{t[1]:.4f} s (p{t[0]:g}, {t[2]} of n={len(warm_ops)} beyond)" if t else f"n/a (n={len(warm_ops)} < 20)"
    print(f"  {'op_tail_s':24s} {tail}")
    for k, v in outcome.items():
        print(f"  {k:24s} {v:12.4f} {PER_LAYER[k]}" if v else f"  {k:24s} n/a")
    print(f"  {'error_rate':24s} {n_failed / attempted:12.4f} share")
    if traced:
        layers.update(outcome, error_rate=n_failed / attempted)
        for k, v in sorted(self_times.items()):
            print(f"  self time {k:28s} {v:10.4f} s")
        print(f"  spans written to {os.path.relpath(spans_path)}")
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": n_failed == 0, "attempted": attempted, "failed": n_failed, "metrics": metrics}))
    return 0 if n_failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
