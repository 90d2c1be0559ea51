"""Catalog benchmark entry point.

    python3 perfbench/run.py --workload scene_query --seed 1 --seconds 15 --trace 0

Runs one workload of ``perfbench/workloads.py`` on a Spark session
pinned to ``local[<cpus>]`` and prints, as the last line of standard
output, ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  Everything the run writes stays under
``.perfbench_work/`` in the checkout and is removed at exit, except the
span dump of a traced run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import signal
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def pin_environment(work: str) -> int:
    """Spark and Python-worker settings for this run; returns the cores."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # executors' Python workers import the engine by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # every JVM spark-submit starts (its launcher too): temp files in the
    # work dir, no hsperfdata
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    return cpus


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``, read from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="utf-8") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for kid in children.get(todo.pop(), []):
            out.append(kid)
            todo.append(kid)
    return out


def running(pid: int) -> bool:
    """True while any thread of ``pid`` is not a zombie.  The main thread
    alone is no guide: the JVM's shows ``Z`` while the others still run."""
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return False
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat", encoding="utf-8") as fh:
                if fh.read().rsplit(")", 1)[1].split()[0] != "Z":
                    return True
        except (OSError, IndexError):
            continue
    return False


def signal_all(pids, sig) -> None:
    for pid in pids:
        try:
            os.kill(pid, sig)
        except OSError:  # already gone
            pass


def stop_spark(spark) -> None:
    """Stop Spark, then its JVM and every process under this one, and wait.

    ``spark.stop()`` leaves the gateway JVM running until it notices its
    stdin closing, which is after this process has exited; the JVM and
    its Python workers are terminated and reaped here instead.  ``spark``
    is None when the session failed to start.
    """
    from pyspark import SparkContext

    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    gateway = SparkContext._gateway
    left = set(descendants(os.getpid()))  # before stop() can orphan any
    try:
        if spark is not None:
            spark.stop()
    finally:
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:  # a broken connection: the JVM is killed below
                pass
        left |= set(descendants(os.getpid()))
        signal_all(left, signal.SIGTERM)
        deadline = time.monotonic() + 30
        while left:
            time.sleep(0.05)
            left = {pid for pid in left if running(pid)}
            if time.monotonic() > deadline:
                signal_all(left, signal.SIGKILL)
                deadline = float("inf")
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:  # reap the JVM
                pass
        except ChildProcessError:
            pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "eodatadown_spark", "__init__.py")):
        print(f"perfbench: no engine source at {ROOT}/eodatadown_spark", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    cpus = pin_environment(work)
    # a SIGTERM unwinds through the finally below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    from eodatadown_spark.session import get_spark

    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark("perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus)
        spark_start_s = time.perf_counter() - t0
        res = workloads.WORKLOADS[args.workload](
            spark, work, args.seed, args.seconds, bool(args.trace), args.size)
    finally:
        try:
            stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    metrics = res["layers"] if args.trace else res["e2e"]
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "spark_start_s": round(spark_start_s, 2), **res["summary"]}))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
