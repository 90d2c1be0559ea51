"""Profile bench entries from one run record each.

    python tools/profile_runs.py [--sf-dir DIR] [--warm N] [--plans DIR] [--e2e] [query ...]

Every run (one cold, then ``--warm`` warm runs) executes through the noop
sink under ``eodatadown_spark.plans.audit.recorded`` and prints one row
from its record: wall seconds, Spark jobs, SQL executions, and node
counts over the final plans of all of those executions — shuffle
exchanges (reused and broadcast ones are separate columns), parquet and
pinned-RDD scans, join strategies, Python-eval nodes, windows — plus the
shuffle bytes written and spill.  Wall time is not evidence on a
throttled host; the counts are.  With no query named the bench's
EXTENDED list runs.  Pins are freed between runs (``bench.free_pinned``).

``--plans DIR`` writes each run's final plan texts, one file per query
and run, to DIR.  ``--e2e`` profiles the bench's phased e2e catalog
pipeline instead, one row per phase.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402
from eodatadown_spark.plans.audit import PYTHON_EVAL, recorded  # noqa: E402

COLUMNS = [
    # (header, width, value from a record)
    ("wall", 7, lambda r: f"{r['wall_s']:.2f}"),
    ("jobs", 4, lambda r: r["jobs"]),
    ("sql", 3, lambda r: r["sql_actions"]),
    ("exch", 4, lambda r: r["shuffle_exchanges"]),
    ("reuse", 5, lambda r: r["nodes"].get("ReusedExchange", 0)),
    ("bcast", 5, lambda r: r["nodes"].get("BroadcastExchange", 0)),
    ("scan", 4, lambda r: r["nodes"].get("Scan parquet", 0)),
    ("rdd", 3, lambda r: r["nodes"].get("Scan ExistingRDD", 0)),
    ("smj", 3, lambda r: r["nodes"].get("SortMergeJoin", 0)),
    ("bhj", 3, lambda r: r["nodes"].get("BroadcastHashJoin", 0)),
    ("shj", 3, lambda r: r["nodes"].get("ShuffledHashJoin", 0)),
    ("py", 2, lambda r: sum(r["nodes"].get(k, 0) for k in PYTHON_EVAL)),
    ("win", 3, lambda r: r["nodes"].get("Window", 0)),
    ("shuf_kb", 8, lambda r: r["shuffle_bytes"] // 1024),
    ("spill_kb", 8, lambda r: r["spill_bytes"] // 1024),
]


def row(name: str, run: str, rec: dict) -> str:
    cells = " ".join(f"{v(rec)!s:>{w}}" for _, w, v in COLUMNS)
    return f"{name:38s} {run:6s} {cells}"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR",
        os.path.join(os.path.dirname(entry.SF_SMOKE), "sf0.1")))
    ap.add_argument("--warm", type=int, default=0)
    ap.add_argument("--plans", metavar="DIR")
    ap.add_argument("--e2e", action="store_true")
    args = ap.parse_args()

    from bench import EXTENDED, e2e_pipeline, free_pinned, run_once
    from eodatadown_spark.session import get_spark

    spark = get_spark("profile")
    print(f"{'name':38s} {'run':6s} "
          + " ".join(f"{h:>{w}}" for h, w, _ in COLUMNS), flush=True)
    runs = ["cold"] + [f"warm{i}" for i in range(args.warm)]
    if args.e2e:
        for run in runs:
            total, phases = e2e_pipeline(spark, args.sf_dir)
            for rec in phases:
                print(row(rec["label"], run, rec), flush=True)
            print(f"{'e2e total':38s} {run:6s} {total:7.2f}", flush=True)
            free_pinned(spark)
        spark.stop()
        return
    qmap = entry.queries()
    if args.plans:
        os.makedirs(args.plans, exist_ok=True)
    for name in args.queries or EXTENDED:
        for run in runs:
            free_pinned(spark)
            with recorded(spark, name) as rec:
                run_once(qmap[name](spark, args.sf_dir))
            print(row(name, run, rec), flush=True)
            if args.plans:
                path = os.path.join(args.plans, f"{name}_{run}.txt")
                with open(path, "w", encoding="utf-8") as fh:
                    for i, plan in enumerate(rec["plans"]):
                        fh.write(f"==== SQL execution {i + 1} of "
                                 f"{len(rec['plans'])} ====\n{plan}\n")
    spark.stop()


if __name__ == "__main__":
    main()
