"""Crawl-engine benchmark.

    python3 perfbench/run.py --workload crawl_polite --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of stdout is one JSON object
with `correct`, `attempted`, `failed` and `metrics`; the line before it is
the effective configuration. `--trace 0` times the end-to-end metrics with
no instrumentation; `--trace 1` runs the operation once plainly and once with
benchmark-side spans and the Spark event log, and reports the per-layer
metrics. Workloads, metrics and predictions: perfbench/README.md.

Everything the run writes goes under `.perfbench/` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK_ROOT = ROOT / ".perfbench"

# Variables that change how the engine runs. The benchmark pins all of
# these through get_spark arguments instead and refuses to run under them.
ENGINE_ENV = ("SPARK_GRAFT_TIMING", "SPARK_GRAFT_PARQUET_CODEC", "SPARK_GRAFT_SHUFFLE",
              "SPARK_GRAFT_MASTER", "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_LOCAL_DIR")
DRIVER_MEMORY = "1g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def n_slots() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work: Path, trace: bool):
    from ba_gepris_crawler_spark.session import get_spark

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    conf = {
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        (work / "eventlog").mkdir(parents=True, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = str(work / "eventlog")
        # one plain JSON-lines file, parsed after the context stops
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    n = n_slots()
    spark = get_spark(master=f"local[{n}]", shuffle_partitions=n, app_name="perfbench", extra_conf=conf)
    return spark, conf


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = spark.sparkContext._gateway.proc.pid
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def stop_jvm(gateway) -> None:
    """End the driver JVM and wait for it: it exits when its stdin closes."""
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run_ops(wl, seconds: float) -> list:
    """Closed loop, one client: at least `wl.MIN_OPS` operations, then more
    back to back while the next one is expected to end inside the window."""
    ops, t0 = [], time.time()
    while True:
        ops.append(wl.op())
        if len(ops) >= wl.MIN_OPS and time.time() - t0 + ops[-1].seconds > seconds:
            return ops


def end_to_end(ops, setup_s: float, rss_mb: float) -> dict:
    """Every time here is on the CPU clock of the process tree
    (workloads.tree_cpu_s), not the wall clock: on a shared host the wall
    time of the same round moves with the time the host steals from the
    vCPUs, the CPU time much less (perfbench/README.md has the figures)."""
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "pages_per_cpu_s": {"value": sum(o.pages for o in ops) / sum(o.cpu_seconds for o in ops), "unit": "1/s"},
        "round_cpu_s_p50": {"value": statistics.median(r for o in ops for r in o.round_cpu_seconds), "unit": "s"},
        "peak_rss_mb": {"value": rss_mb, "unit": "MB"},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    bad = [v for v in ENGINE_ENV if v in os.environ]
    if bad:
        print(f"refusing to run: engine-altering variables set: {', '.join(bad)}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    try:
        import ba_gepris_crawler_spark  # noqa: F401
    except ImportError as exc:
        print(f"the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS, tree_cpu_s

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    # Spark's Python workers import the engine from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
    work = WORK_ROOT / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")

    spark = gateway = None
    attempted = 0
    try:
        t0, c0 = time.time(), tree_cpu_s()
        spark, conf = start_spark(work, bool(args.trace))
        gateway = spark.sparkContext._gateway
        print(f"spark started in {time.time() - t0:.1f} s", file=sys.stderr)
        wl = WORKLOADS[args.workload](spark, args.seed, n_slots(), work)
        wl.setup()
        setup_s = tree_cpu_s() - c0
        print(f"setup: {time.time() - t0:.1f} s wall, {setup_s:.1f} s CPU", file=sys.stderr)
        config = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
            "master": spark.sparkContext.master,
            "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            **{k: v for k, v in conf.items() if not k.startswith("spark.eventLog")},
            "spark": spark.version, "python": platform.python_version(), **wl.params(),
        }
        print(json.dumps({"config": config}), flush=True)
        if args.trace:
            from perfbench import layers

            metrics, ops = layers.traced(spark, wl, work, args)
            spark = None  # stopped by the traced run, which needs the event log closed
        else:
            ops = run_ops(wl, args.seconds)
            metrics = end_to_end(ops, setup_s, peak_rss_mb(spark))
        attempted = sum(o.check.attempted for o in ops)
        failed = sum(o.check.failed for o in ops)
        for o in ops:
            for p in o.check.problems:
                print(f"check: {p}", file=sys.stderr)
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    except Exception:
        # a run that raises counts every operation it attempted as failed
        traceback.print_exc()
        print(json.dumps({"correct": False, "attempted": max(attempted, 1),
                          "failed": max(attempted, 1), "metrics": {}}))
        return 1
    finally:
        if spark is not None:
            spark.stop()
        if gateway is not None:
            stop_jvm(gateway)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
