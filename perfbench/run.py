"""Benchmark of the validation engine on local[nproc].

    python3 perfbench/run.py --workload docs_batch|events_multi|corpus_dedup
                             --seed N --seconds S --trace 0|1

Run from the repository root. The run builds its seeded inputs under
``.perfbench/`` in the current directory, times one fresh operation and then
steady operations for ``--seconds``, checks every output, and prints every
metric by name with its unit, then one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` records a span
around every engine call, writes the Spark event log, and reports the
per-layer metrics; the span file and a report listing every span with its
parent and self time land in ``.perfbench/trace/<workload>-<seed>/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HEAP = "4g"


def _percentile(xs: list[float], q: float) -> float:
    """Linear interpolation between closest ranks (inclusive)."""
    xs = sorted(xs)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def _prepare_env(run_dir: str) -> None:
    """Keep every file the run writes inside the checkout, and let Python
    workers import the engine from it."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_DRIVER_MEM"] = HEAP
    # import the benchmark as the ``perfbench`` package, not its files as
    # top-level modules
    sys.path[0] = ROOT


def _stop(spark) -> None:
    """Stop the session and the JVM gateway, and wait for the JVM to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - still running: make it end
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    base = os.path.join(os.getcwd(), ".perfbench")
    run_dir = os.path.join(base, "runs", f"{args.workload}-{args.seed}-"
                           f"{args.trace}-{os.getpid()}")
    t_run = time.monotonic()
    _prepare_env(run_dir)
    try:
        return _run(args, base, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        print(f"# wall {time.monotonic() - t_run:.1f} s", file=sys.stderr)


def _run(args, base: str, run_dir: str) -> int:
    # the engine lives in the checkout; without it the run must fail here
    from events_validator_spark.session import get_spark
    from perfbench import trace as tracing
    from perfbench import workloads
    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of "
                         f"{', '.join(workloads.WORKLOADS)}")
    run_fn, _ = workloads.WORKLOADS[args.workload]

    cores = len(os.sched_getaffinity(0))
    eventlog = os.path.join(run_dir, "eventlog")
    extra = {}
    if args.trace:
        os.makedirs(eventlog)
        extra = {"spark.eventLog.enabled": "true",
                 "spark.eventLog.dir": "file://" + eventlog,
                 "spark.eventLog.rolling.enabled": "false",
                 "spark.eventLog.compress": "false"}
    t0 = time.monotonic()
    spark = get_spark(app_name=f"perfbench-{args.workload}", cores=cores,
                      extra_conf=extra)
    setup_s = time.monotonic() - t0
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark._jvm
    env = {"nproc": cores, "python": platform.python_version(),
           "spark": spark.version,
           "java": jvm.java.lang.System.getProperty("java.version"),
           "heap": HEAP}
    tracer = tracing.Tracer(bool(args.trace))
    tracer.attach(spark)
    work = os.path.join(run_dir, "work")
    os.makedirs(work)
    ctx = workloads.Ctx(spark, tracer, args.seed, args.seconds, work)
    try:
        run = run_fn(ctx)
        peak_rss_mb = _vm_hwm_mb(jvm.java.lang.ProcessHandle.current().pid())
    finally:
        t_stop = time.monotonic()
        _stop(spark)
        stop_s = time.monotonic() - t_stop

    steady = run.steady_s
    e2e = {
        "setup_s": (setup_s, "s"),
        "first_result_s": (run.first_s, "s"),
        "docs_per_s": (run.rows_per_op / statistics.median(steady), "1/s"),
        "batch_p50_s": (_percentile(steady, 0.5), "s"),
        "batch_p80_s": (_percentile(steady, 0.8), "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }
    run.info["stop_s"] = stop_s
    print(f"# env {json.dumps(env)}")
    print(f"# workload {args.workload} seed {args.seed} "
          f"{json.dumps(run.info, default=str)}")
    steal = [round(s["steal_s"], 3) for s in tracer.spans
             if s["parent"] is None]
    print(f"# samples (s): first {run.first_s:.3f} steady "
          f"{[round(x, 3) for x in steady]} steal per sample {steal}")
    for name, (v, unit) in e2e.items():
        print(f"{name:16s} {v:14.4f} {unit}")
    fail_ratio = run.failed / max(run.attempted, 1)
    print(f"fail_ratio       {fail_ratio:14.4f} ({run.failed} of "
          f"{run.attempted} operations)")
    for p in run.problems[:20]:
        print(f"# FAILED CHECK: {p}")
    correct = run.failed == 0
    print(f"correct          {correct}")

    if args.trace:
        sm = tracing.SparkMetrics(eventlog)
        layers = {}
        for name, (_, layer_fn) in workloads.WORKLOADS.items():
            # every layer metric is reported; a layer this workload does
            # not call did no work and reads 0
            empty = layer_fn([], tracing.SparkMetrics(None), workloads.Run())
            layers.update(empty if name != args.workload
                          else layer_fn(tracer.spans, sm, run))
        layers["host.steal_s"] = sum(steal)
        layers["trace.overhead_pct"] = run.info.get("overhead_pct", 0.0)
        out_dir = os.path.join(base, "trace", f"{args.workload}-{args.seed}")
        os.makedirs(out_dir, exist_ok=True)
        tracer.write(os.path.join(out_dir, "spans.jsonl"))
        head = [f"# Traced run: {args.workload}, seed {args.seed}", "",
                f"env: {json.dumps(env)}", "",
                "End-to-end with tracing on: " + ", ".join(
                    f"{k} {v:.4f} {u}" for k, (v, u) in e2e.items()),
                f"Tracing overhead on a steady operation (traced minus "
                f"untraced, same run): {layers['trace.overhead_pct']:.1f} %",
                "", "| layer metric | value |", "|---|---|"]
        head += [f"| {k} | {v:.6g} |" for k, v in layers.items()]
        with open(os.path.join(out_dir, "report.md"), "w") as f:
            f.write(tracing.report(tracer.spans, head))
        with open(os.path.join(out_dir, "layers.json"), "w") as f:
            json.dump(layers, f, indent=1)
        print(f"# trace written to {os.path.relpath(out_dir)}")
        metrics = {k: {"value": v, "unit": _layer_unit(k)}
                   for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}

    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


def _layer_unit(name: str) -> str:
    for suffix, unit in (("_s", "s"), ("_ms", "ms"), ("_bytes", "B"),
                         ("_pct", "%"), ("_skew", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    sys.exit(main())
