"""Benchmark of the couch_to_mongo_spark engine as an operator runs it.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Workloads: backfill, tail_view, query_suite (see perfbench/workloads.py
and perfbench/README.md). Run from the repository root. The last stdout
line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` -- the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1`` (spans then also go to
``.perfbench_out/spans-<workload>-s<seed>.jsonl``). Lines before it
starting with ``#`` repeat the workload's own named metrics.

Everything the run writes stays under ``.perfbench_work/`` (removed at
exit) and ``.perfbench_out/`` in the repository root, Spark's local and
temp dirs included.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEM = "2g"
HIGH_STEAL = 0.05  # share of host CPU time stolen above which a run is flagged

END_TO_END = [
    ("setup_s", "s"),
    ("ok_op_frac", "frac"),
    ("peak_mem_mb", "MB"),
    ("op_s_p50", "s"),
    ("op_cpu_s_p50", "s"),
    ("work_per_cpu_s", "1/s"),
    ("lookup_cpu_s_mean", "s"),
]


def high_percentile(xs: list[float]) -> tuple[int, float] | None:
    """The highest whole percentile with at least ten samples beyond it
    (nearest rank), or None below eleven samples."""
    n = len(xs)
    if n < 11:
        return None
    p = math.floor(100 * (n - 10) / n)
    return p, sorted(xs)[max(math.ceil(p / 100 * n) - 1, 0)]


def start_spark(work: str, trace: bool):
    """The package's own session factory, fitted to this host: one core
    per CPU the process may use, a 2 GB driver heap, and every scratch
    directory inside the work dir."""
    from couch_to_mongo_spark import get_spark

    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # keep every job and stage in the status store for per-span counts
        conf["spark.ui.retainedJobs"] = "100000"
        conf["spark.ui.retainedStages"] = "100000"
    return get_spark("perfbench", cpus=len(os.sched_getaffinity(0)), extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_peak_mb(spark) -> tuple[float, float]:
    """High-water marks of the JVM's memory pools as the JVM itself tracks
    them: (old generation, survivor and non-heap pools such as metaspace
    and code cache, eden). The first is what the engine held past young
    collections, not what the heap limit let the JVM reserve. Eden fills
    to whatever size the collector gave it before each young collection,
    so its peak reads back a GC sizing choice; it is printed, not gated."""
    held = eden = 0
    for pool in spark._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
        used = pool.getPeakUsage().getUsed()
        if "Eden" in pool.getName():
            eden += used
        else:
            held += used
    return held / 2**20, eden / 2**20


def end_to_end(res, jvm_mb: float, python_kb: int) -> dict[str, float]:
    return {
        "setup_s": statistics.median(res.setup_walls),
        "ok_op_frac": (res.attempted - res.failed) / res.attempted,
        "peak_mem_mb": jvm_mb + python_kb / 1024,
        "op_cpu_s_p50": statistics.median(res.ops_cpu),
        "work_per_cpu_s": res.items / res.work_cpu_s,
        # a mean, not a median: one lookup is a few scheduler ticks of
        # CPU, and the tick rounding averages out over the lookups
        "lookup_cpu_s_mean": statistics.fmean(res.probes_cpu),
        "op_s_p50": statistics.median(res.ops),
        # printed, not gated (see perfbench/README.md)
        "work_per_s": res.items / res.work_s,
        "lookup_s_p50": statistics.median(res.probes),
    }


def named_lines(workload: str, res, e2e: dict[str, float]) -> list[str]:
    """Every measured figure, wall-clock ones included, under the names
    operators use for them (one ``# <workload> <name> = <value> <unit>``
    line each)."""
    hi = high_percentile(res.ops)
    high = (f"op_s_high (p{hi[0]}, n={len(res.ops)})", hi[1]) if hi else (
        f"op_s_high (n={len(res.ops)} < 11: none)", float("nan"))
    rows = [
        ("setup_s", e2e["setup_s"], "s"),
        ("failed_op_frac", res.failed / res.attempted, "frac"),
        ("peak_mem_mb", e2e["peak_mem_mb"], "MB"),
        ("op_s_p50", e2e["op_s_p50"], "s"),
        (*high, "s"),
        ("work_per_s", e2e["work_per_s"], "1/s"),
        ("lookup_s_p50", e2e["lookup_s_p50"], "s"),
    ]
    if workload == "tail_view":
        rows += [("tail_batch_s_p50", e2e["op_s_p50"], "s"),
                 (high[0].replace("op_s", "tail_batch_s"), high[1], "s")]
    rows += [(k, v, u) for k, (v, u) in res.info.items()]
    return [
        f"# {workload} {k} = {v if isinstance(v, str) else format(v, '.6g')} {u}"
        for k, v, u in rows
    ]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["backfill", "tail_view", "query_suite"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "smoke"], default="full",
                    help="input sizes; smoke is the tiny self-test run")
    args = ap.parse_args(argv)

    for need in ("couch_to_mongo_spark/__init__.py", "__spark_entry__.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a full checkout",
                  file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    from perfbench import layers
    from perfbench.proctree import MemSampler, cpu_ticks
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Ctx

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    ticks0 = cpu_ticks()
    try:
        with MemSampler() as mem:
            spark = start_spark(work, bool(args.trace))
            try:
                tracer = Tracer(spark, enabled=bool(args.trace))
                if args.trace:
                    layers.install(tracer)
                ctx = Ctx(spark, tracer, work, args.seed, args.seconds, args.size)
                try:
                    res = WORKLOADS[args.workload](ctx)
                finally:
                    tracer.unwrap_all()
                per_layer = layers.compute(tracer, res) if args.trace else None
                jvm_mb, eden_mb = jvm_peak_mb(spark)
            finally:
                stop_spark(spark)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e = end_to_end(res, jvm_mb, mem.peak_kb)
    for line in named_lines(args.workload, res, e2e):
        print(line)
    print(f"# {args.workload} jvm_pool_peak_mb = {jvm_mb:.6g} MB")
    print(f"# {args.workload} jvm_eden_peak_mb = {eden_mb:.6g} MB")
    print(f"# {args.workload} python_pss_peak_mb = {mem.peak_kb / 1024:.6g} MB")
    steal, total = (b - a for a, b in zip(ticks0, cpu_ticks()))
    # time the hypervisor gave this VM's CPUs to others: a run with a high
    # share measured a slower machine, and its wall-clock figures say so
    steal_frac = steal / max(total, 1)
    print(f"# {args.workload} host_cpu_steal_frac = {steal_frac:.4f} frac")
    if steal_frac > HIGH_STEAL:
        print(f"# WARNING: {steal_frac:.1%} of CPU time stolen by the host (over {HIGH_STEAL:.0%}); "
              "wall-clock figures of this run are inflated")
    for msg in res.checks:
        print(f"# CHECK FAILED: {msg}")
    if args.trace:
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"spans-{args.workload}-s{args.seed}.jsonl")
        tracer.dump(path)
        print(f"# spans: {path} ({len(tracer.spans)} spans)")
        metrics = {k: {"value": per_layer[k], "unit": u} for k, u in layers.PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    print(json.dumps({
        "correct": res.failed == 0 and not res.checks,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
