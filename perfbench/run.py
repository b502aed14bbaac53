"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload mysql-paimon --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. ``--trace 0`` measures the end-to-end
metrics; ``--trace 1`` is a separate run that records spans and Spark
counters around the calls into each module and reports the per-layer
ledger. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the line before it is a
JSON report with the inputs, the runtime pinning and every raw figure.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEM = "2g"


def pin_runtime(work: str) -> dict:
    """Pin the Spark runtime for a shared 4-core box before any Spark
    import: every core, a driver heap well below physical memory, and
    all scratch space inside the work directory."""
    cpus = len(os.sched_getaffinity(0))
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    env = {"SPARK_GRAFT_CPUS": str(cpus), "SPARK_DRIVER_MEM": DRIVER_MEM,
           "SPARK_LOCAL_DIRS": local, "TMPDIR": tmp,
           "PYTHONPATH": os.pathsep.join(
               p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)}
    os.environ.update(env)
    os.environ.pop("SPARK_SHUFFLE_PARTITIONS", None)
    return {**env, "cpus": cpus, "loadavg": os.getloadavg()}


def spark_conf(work: str, trace: bool) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
    }
    if trace:
        conf.update({"spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000",
                     "spark.ui.retainedTasks": "1000000"})
    return conf


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), fields[7]


def cpu_probe_ms() -> float:
    """Time of a fixed single-threaded hashing loop: how fast the host ran
    this process at that moment, to tell machine drift from a change."""
    import hashlib

    block = bytes(range(256)) * 256
    t = time.perf_counter()
    for _ in range(400):
        hashlib.blake2b(block).digest()
    return (time.perf_counter() - t) * 1000


def jvm_peak_rss_kb() -> int:
    """Peak resident set of the JVM child this process launched."""
    me = str(os.getpid())
    peak = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = f.read().rsplit(")", 1)[1].split()[1]
            if ppid != me:
                continue
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"java" not in f.read():
                    continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
        except (FileNotFoundError, ProcessLookupError, IndexError):
            continue
    return peak


def stop_jvm() -> None:
    """End the JVM the session launched, and wait for it: it exits when
    its stdin closes, and takes the Python workers with it."""
    context = sys.modules.get("pyspark.core.context")
    gateway = context and context.SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from perfbench import report, workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of "
                 f"{sorted(workloads.WORKLOADS)}")
    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    runtime = pin_runtime(work)
    try:
        wl = workloads.WORKLOADS[args.workload](
            args.seed, args.seconds, work,
            spark_conf(work, bool(args.trace)))
        tracer = workloads.NullTracer()
        if args.trace:
            from perfbench.trace import Tracer

            tracer = Tracer(wl.decode_module, wl.sink_module,
                            runtime["cpus"])
        runtime["cpu_probe_ms"] = [cpu_probe_ms()]
        t, ticks = time.perf_counter(), cpu_ticks()
        res = wl.run(tracer)
        wall = time.perf_counter() - t
        total, steal = (b - a for a, b in zip(ticks, cpu_ticks()))
        runtime["cpu_steal_share"] = steal / total if total else 0.0
        runtime["cpu_probe_ms"].append(cpu_probe_ms())
        rss_kb = {"python": resource.getrusage(
            resource.RUSAGE_SELF).ru_maxrss, "jvm": jvm_peak_rss_kb()}
        runtime["peak_rss_mb"] = {k: v / 1024 for k, v in rss_kb.items()}
        runtime["loadavg_end"] = os.getloadavg()
        runtime.update(res.parallelism)
        e2e = report.end_to_end(res, sum(rss_kb.values()) / 1024)
        detail = {"workload": wl.name, "seed": args.seed,
                  "inputs": wl.describe(), "runtime": runtime,
                  "wall_s": wall, "end_to_end": e2e}
        if args.trace:
            from perfbench.trace import build_ledger

            layers = build_ledger(tracer, res, wl.skipped_batches())
            layers["trace.setup_s"] = e2e["setup_s"]
            layers["trace.commit_p50_ms"] = e2e["commit_p50_ms"]
            # a required metric that is absent or 0 is a span or counter
            # the traced run failed to record
            for name in wl.layers:
                res.check(f"per-layer metric {name}", bool(layers.get(name)))
            detail["per_layer"] = layers
            metrics = report.metrics("per_layer", layers)
        else:
            metrics = report.metrics("end_to_end", e2e)
        attempted, failed = res.attempted, res.failed
        detail["error_rate"] = failed / attempted
        detail["mismatches"] = res.mismatches
        print(json.dumps(detail))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
