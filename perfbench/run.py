"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl_batch --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. Prints one context line (seed, nproc,
load average, sample counts) and, as the last line of stdout, the result:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}`` —
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Exits non-zero when any operation fails its correctness gate.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "gbif_data_validator_spark"

#: a run must end well inside 180 s
DEADLINE_S = 170


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to {HERE}; run from a source checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import harness
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    run_dir = os.path.join(ROOT, ".perfbench_run", str(os.getpid()))
    harness.prepare_env(ROOT, run_dir)
    ctx: dict = {"workload": args.workload, "seed": args.seed, "nproc": harness.nproc(),
                 "trace": args.trace, "load_start": harness.loadavg()}
    spark = wl = None
    try:
        spark, ctx["session_start_s"] = harness.timed(harness.start_session, run_dir)
        wl = WORKLOADS[args.workload](spark, run_dir, args.seed)
        reps = 1 if args.trace else harness.SETUP_REPS
        setups = [harness.timed(wl.setup)[1] for _ in range(reps)]
        ctx["setup_reps_s"] = setups
        t_prep = time.perf_counter()
        wl.prepare()
        ctx["prepare_s"] = time.perf_counter() - t_prep
        ctx["load_before"] = harness.loadavg()
        ctx["jvm_before"] = harness.jvm_busy_s(spark)
        if args.trace:
            metrics, ops = trace_run(wl, args)
        else:
            measured = wl.measure(args.seconds)
            ops = measured.ops
            s = measured.summary()
            metrics = {
                "setup_s": statistics.median(setups),
                "docs_per_s": s["docs_per_s"],
                "verdict_p50_s": s["verdict_p50_s"],
                "jobs_per_s": s["jobs_per_s"],
            }
            ctx["peak_rss_mb"] = harness.peak_rss_mb(spark)
            ctx["verdict_quartiles_s"] = s["verdict_quartiles_s"]
            ctx["verdict_tail"] = s["verdict_tail"]
            ctx["verdicts_s"] = [round(o.seconds, 3) for o in ops]
        ctx["load_end"] = harness.loadavg()
        ctx["jvm_end"] = harness.jvm_busy_s(spark)
        ctx.update(wl.context)
    finally:
        if wl is not None:
            wl.close()
        if spark is not None:
            harness.stop_session(spark)
        harness.rmtree(run_dir)

    failed = [o for o in ops if not o.ok]
    ctx["error_ratio"] = len(failed) / len(ops)
    if failed:
        ctx["first_failure"] = failed[0].detail
    units = declared_metrics(args.trace)
    if set(units) != set(metrics):
        raise RuntimeError(
            f"metrics differ from BENCHMARK.json: not measured {sorted(set(units) - set(metrics))}, "
            f"not declared {sorted(set(metrics) - set(units))}"
        )
    print(json.dumps({"context": ctx}))
    print(json.dumps({
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 1 if failed else 0


def declared_metrics(trace: int) -> dict[str, str]:
    """name → unit of the metrics BENCHMARK.json declares for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def trace_run(wl, args):
    """One untraced and one traced operation plus isolated layer calls; the
    spans go to .perfbench_out/ when the run ends."""
    import tracing

    tracer = tracing.Tracer()
    metrics, ops = wl.traced(tracer)
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"trace-{args.workload}-seed{args.seed}.json")
    tracer.dump(path)
    wl.context["trace_file"] = os.path.relpath(path, ROOT)
    return metrics, ops


def _stop(signum, frame):
    # unwinds through main()'s cleanup: Spark stopped, JVM waited for,
    # run directory removed
    raise SystemExit(f"perfbench: stopped by signal {signum}")


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _stop)
    signal.signal(signal.SIGALRM, _stop)
    signal.alarm(DEADLINE_S)  # the run's own watchdog
    t0 = time.perf_counter()
    try:
        code = main(sys.argv[1:])
    except Exception:
        traceback.print_exc()
        code = 1
    print(f"perfbench: {time.perf_counter() - t0:.1f}s wall", file=sys.stderr)
    sys.exit(code)
