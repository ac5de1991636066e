#!/usr/bin/env python3
"""Benchmark of the transporter engine's user-facing paths.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Inputs are generated from the seed
under ``.perfbench/`` in the checkout; the engine runs on
``local[<cores>]``. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``, which
also writes every span and the layer detail to ``.perfbench/trace/``).
Everything else goes to stderr. Workloads, metrics and what each layer
metric should move are described in LAYERS.md next to this file.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import probe  # noqa: E402

# the engine's driver heap default (16g) is more than small hosts have
# and far more than these inputs need; SPARK_GRAFT_DRIVER_MEM is the
# engine's deployment setting for it
DRIVER_MEM = "1g"


def _metric_units() -> tuple:
    """(end-to-end, per-layer) {name: unit} as BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return tuple({m["name"]: m["unit"] for m in bench[k]} for k in ("end_to_end", "per_layer"))


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size and change-rate factor (the self-test uses a tiny one)")
    return ap.parse_args(argv)


def _environment(work: str, cores: int) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    the checkout, and size the engine for this host."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    os.chdir(work)


def main(argv=None) -> int:
    t_proc = probe.process_start_wall()
    args = _args(argv)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    # before the engine is imported: it reads its settings at import
    _environment(work, cores)
    sys.path.insert(0, ROOT)
    try:
        import transporter_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    sampler = probe.ProcSampler().start()

    from transporter_spark.session import get_spark

    t0 = time.time()
    spark = get_spark("perfbench", **{"spark.ui.showConsoleProgress": "false"})
    t1 = time.time()
    spark.range(0, 1000, numPartitions=cores).selectExpr("sum(id)").collect()
    t2 = time.time()
    sc = spark.sparkContext
    tracer = probe.Tracer(sc, enabled=bool(args.trace))
    ctx = workloads.Ctx(
        spark=spark, tracer=tracer,
        counters=probe.StageCounters(sc) if args.trace else None,
        sampler=sampler, work=work, seed=args.seed, seconds=args.seconds,
        cores=cores, scale=args.scale)
    try:
        out = workloads.WORKLOADS[args.workload](ctx)
    finally:
        sampler.stop()
        probe.stop_spark_and_wait(spark, sampler)

    (w0, cpu0), (w1, cpu1) = ctx.marks["start"], ctx.marks["end"]
    cpu = {k: cpu1[k] - cpu0[k] for k in cpu0}
    mb = 1024.0 * 1024.0
    failed, attempted = out.failed, out.attempted
    if args.trace:
        metrics = {
            "session.get_spark_s": t1 - t0, "session.first_job_s": t2 - t1,
            **out.layers,
            "proc.cpu_s": sum(cpu.values()), "proc.jvm_cpu_s": cpu["jvm"],
            "proc.py_cpu_s": cpu["driver"] + cpu["py"] + cpu["node"],
            "proc.jvm_rss_mb": sampler.peak["jvm"] / mb,
            "proc.py_rss_mb": sampler.peak["other"] / mb,
            "trace.overhead_s": tracer.overhead_s,
        }
        tracer.dump(os.path.join(base, "trace", f"{args.workload}-seed{args.seed}.json"),
                    {"workload": args.workload, "seed": args.seed, "window_s": w1 - w0,
                     "metrics": metrics, "detail": out.detail, "failures": out.failures})
        print(json.dumps({"detail": out.detail}, default=str), file=sys.stderr)
    else:
        metrics = {
            "setup_s": t2 - t_proc,
            "items_per_s": out.items / out.busy_s if out.busy_s > 0 else 0.0,
            "latency_p50_s": probe.median(out.latencies),
            "peak_rss_mb": sampler.peak["total"] / mb,
        }
    for f in out.failures:
        print(f"perfbench: WRONG OUTPUT: {f}", file=sys.stderr)
    print(f"perfbench: {args.workload} ops_failed_frac={failed / attempted:.6f} "
          f"({failed}/{attempted}) window={w1 - w0:.2f}s", file=sys.stderr)
    units = _metric_units()[1 if args.trace else 0]
    print(json.dumps({
        "correct": not out.failures and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
