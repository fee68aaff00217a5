"""Benchmark entry point.

    python3 tsbench/run.py --workload dashboard --seed 1 --seconds 8 --trace 0

Run from the root of a checkout of the repository.  The program is
imported from the checkout; every file the run writes stays inside it,
under ``.tsbench/``.  The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``.  A fuller report (environment, latency
percentiles and sample counts, oracle counts) goes to
``.tsbench/out/<workload>-seed<n>-trace<t>.json``; a traced run also
writes its spans beside it.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()
TIME_UNITS = {"ms", "s"}


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    # one core stays free for the Python client, the JIT compiler and the
    # garbage collector: a task slot on every core runs more threads than cores
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(max(1, len(os.sched_getaffinity(0)) - 1)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # -XX:-UsePerfData: the JVM would otherwise keep its counters in /tmp/hsperfdata_<user>
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData'"
        " pyspark-shell"
    )


def _rss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _cpu_times() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _environment(spark) -> dict:
    conf = spark.conf
    sc = spark.sparkContext
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_count": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": sc.getConf().get("spark.driver.memory", None),
        "state_store_provider": conf.get("spark.sql.streaming.stateStore.providerClass", None),
        "pyspark": __import__("pyspark").__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def _stop(spark) -> None:
    """Stop Spark and wait until the JVM process has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    args = _parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "gnocchi_spark")):
        print("tsbench: run from the root of a checkout (no gnocchi_spark/ here)", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}

    base = os.path.join(ROOT, ".tsbench")
    work = os.path.join(base, f"work-{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    out_dir = os.path.join(base, "out")
    os.makedirs(out_dir, exist_ok=True)
    _prepare_env(work)
    sys.path[0] = ROOT  # not tsbench/, whose module names could shadow others

    from tsbench import workloads
    from tsbench.spans import Tracer, median, tail

    if args.workload not in workloads.WORKLOADS:
        print(f"tsbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    from gnocchi_spark.session import get_spark

    load_before, cpu_before = os.getloadavg(), _cpu_times()
    tracer = Tracer(bool(args.trace))
    spark = None
    try:
        t = time.perf_counter()
        spark = get_spark()
        spark.range(1).count()
        session_s = time.perf_counter() - t
        spark.sparkContext.setLogLevel("ERROR")
        ctx = workloads.Context(spark, tracer, work, args.seed, args.seconds)
        result = workloads.WORKLOADS[args.workload](ctx)
        env = _environment(spark)
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        peak_mb = (_rss_kb(jvm_pid) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    env["load_before"] = load_before
    env["load_after"] = os.getloadavg()
    # CPU time the hypervisor gave to other guests during the run
    delta = [b - a for a, b in zip(cpu_before, _cpu_times())]
    env["cpu_steal_share"] = delta[7] / sum(delta) if sum(delta) else 0.0

    figures = dict(result.figures)
    figures["setup_s"] = session_s + result.setup_s
    tails = {}
    for kind, lat in sorted(result.lat_ms.items()):
        figures[f"{kind}_p50_ms"] = median(lat)
        value, q, n = tail(lat)
        figures[f"{kind}_tail_ms"] = value
        tails[kind] = {"percentile": q, "samples": n}
    # a lost store race is a failed attempt, beside the ops themselves
    figures["error_rate"] = (result.failed + result.lost_races) / (result.attempted + result.race_attempts)
    figures["wrong_share"] = result.wrong / result.checked if result.checked else 0.0
    layers = dict(result.layers)
    layers["session.start_ms"] = session_s * 1e3
    layers["peak_rss_mb"] = peak_mb
    layers["error_rate"] = figures["error_rate"]
    layers["wrong_share"] = figures["wrong_share"]
    pool = layers if args.trace else figures

    metrics = {}
    for name in names:
        if name in pool:
            metrics[name] = {"value": float(pool[name]), "unit": units[name]}
        elif args.trace and units[name] not in TIME_UNITS:
            metrics[name] = {"value": 0.0, "unit": units[name]}  # layer not on this workload
        else:
            print(f"tsbench: workload {args.workload} did not measure {name}", file=sys.stderr)
            return 3
    correct = result.checked > 0 and result.unexplained == 0
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "environment": env, "workload_setup_s": result.setup_s, "session_start_s": session_s,
        "figures": figures, "layers": layers, "tails": tails, "latencies_ms": result.lat_ms,
        "oracle": {"checked": result.checked, "wrong": result.wrong, "unexplained": result.unexplained},
        "attempted": result.attempted, "failed": result.failed,
        "store_races": {"attempts": result.race_attempts, "lost": result.lost_races},
    }
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(report, f, indent=1, default=str)
    if args.trace:
        tracer.write(stem + "-spans.jsonl")
    print(json.dumps(report, default=str), file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": result.attempted, "failed": result.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
