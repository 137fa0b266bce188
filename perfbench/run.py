"""Repository benchmark: one ELT lifecycle per run, measured end to end
and, in a separate traced run, layer by layer.

    python3 perfbench/run.py --workload hot_keys --seed 1 --seconds 24 --trace 0
    python3 perfbench/selftest.py   # the benchmark's own checks, tiny inputs

Run it from the repository root. It starts Spark at ``local[4]``, lands
the seeded base table, runs the warm-up ops (together ``setup_s``),
then the interleaved op schedule of ``phases.py`` with one closed-loop
client, and checks every answer. The last line of standard output is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` reports the per-layer ones and writes the operations and
their spans to ``.perfbench_work/trace-<workload>-<seed>.json``.
The line before it carries provenance: seed, code version, ``local[N]``,
nproc, load average, CPU steal, JVM GC time, peak RSS per process, input
sizes, per-kind sample counts and the ungated latencies (p90s,
agg/scan/travel/DML/search medians).

Everything it writes stays under ``.perfbench_work/`` in the current
directory; the per-run directory is removed at the end.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LOCAL_CORES = 4
DRIVER_MEM = "2g"
WORK_ROOT = os.path.abspath(".perfbench_work")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=24)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def code_version() -> str:
    """The git commit when run inside a clone; otherwise a hash of the
    package sources, so results from exported trees stay attributable."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "pyairbyte_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return "src-sha256:" + h.hexdigest()[:16]


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_jiffies() -> list[int]:
    """The machine's CPU time counters (user, nice, system, idle, iowait,
    irq, softirq, steal, ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def prepare(name: str) -> str:
    """A fresh per-run directory under ``.perfbench_work/`` and the
    environment that keeps Spark, its JVM and its Python workers
    writing inside it."""
    run_dir = os.path.join(WORK_ROOT, name)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(LOCAL_CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    return run_dir


def start_spark(run_dir: str, trace: bool):
    from pyairbyte_spark import get_spark

    tmp = os.path.join(run_dir, "tmp")
    # A heap and young generation of fixed size make the JVM's peak RSS
    # follow its live data; with G1's timing-driven heap sizing it moved
    # by up to a third between runs of the same inputs.
    conf = {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={run_dir} "
            f"-Xms{DRIVER_MEM} -Xmn256m",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:  # keep every job and stage of the run in the status store
        conf.update({"spark.ui.retainedJobs": "1000000",
                     "spark.ui.retainedStages": "1000000"})
    return get_spark("perfbench", master=f"local[{LOCAL_CORES}]", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin pipe closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    args = parse_args(argv)
    # The benchmark measures the package next to it, never an installed one.
    if not os.path.isfile(os.path.join(ROOT, "pyairbyte_spark", "__init__.py")):
        print(f"perfbench: no pyairbyte_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.phases import WORKLOADS, Run, jvm_gc_s, peak_rss_mb, sizes

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    run_dir = prepare(f"{args.workload}-{args.seed}-{os.getpid()}")
    load_start = loadavg()
    cpu_start = cpu_jiffies()

    t0 = time.perf_counter()
    spark = start_spark(run_dir, bool(args.trace))
    try:
        spark_start_s = time.perf_counter() - t0
        run = Run(spark, os.path.join(run_dir, "data"), args.workload, args.seed,
                  sizes(args.seconds), bool(args.trace))
        t1 = time.perf_counter()
        run.run()
        timed_s = time.perf_counter() - t1
        rss = peak_rss_mb(spark)
        gc_s = jvm_gc_s(spark)
        if args.trace:
            metrics = run.per_layer()
            with open(os.path.join(WORK_ROOT, f"trace-{args.workload}-{args.seed}.json"),
                      "w") as f:
                json.dump(trace_dump(run), f)
        else:
            metrics = run.end_to_end(sum(rss.values()), spark_start_s)
        master = spark.sparkContext.master
    finally:
        stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    provenance = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "code": code_version(),
        "master": master,
        "nproc": os.cpu_count(),
        "loadavg_start": load_start,
        "loadavg_end": loadavg(),
        # CPU time the hypervisor gave to other guests: the run's timings
        # slow down with it.
        "cpu_steal_frac": steal_frac(cpu_start, cpu_jiffies()),
        "spark_start_s": round(spark_start_s, 3),
        "phases_s": round(timed_s, 3),
        "jvm_gc_s": gc_s,
        "peak_rss_mb": rss,
        "phase_s": {k: round(v, 3) for k, v in run.phase_s.items()},
        "sizes": run.sz.__dict__,
        "facts": run.facts,
        "samples": run.sample_counts(),
        "ungated": run.ungated(),
    }
    print(json.dumps({"provenance": provenance}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def steal_frac(start: list[int], end: list[int]) -> float:
    d = [b - a for a, b in zip(start, end)]
    return round(d[7] / max(1, sum(d)), 4) if len(d) > 7 else 0.0


def trace_dump(run) -> dict:
    """The run's operations and the spans recorded inside them."""
    return {
        "ops": [{"id": o.op_id, "phase": o.phase, "kind": o.kind, "traced": o.traced,
                 "timed": o.timed, "start": o.start, "end": o.end,
                 "jobs": [o.job_lo, o.job_hi]} for o in run.tracer.ops],
        "spans": [dict(zip(("id", "name", "start", "end", "parent", "op"), s))
                  for s in run.tracer.spans],
    }


if __name__ == "__main__":
    sys.exit(main())
