"""Physical-plan audit: verify that plans have the shape we want at scale.

Every operator's contract isn't just its rows — it's the plan: filters
pushed to the parquet scan, projections pruned into ReadSchema, small dims
broadcast, expressions inside WholeStageCodegen.  These helpers extract
those facts from the executed-plan string so tests and tools can assert
them, and :func:`recorded` reads what a block of code actually ran: its
jobs, its SQL executions and their final plans.
"""

from __future__ import annotations

import io
import re
import time
from collections import Counter
from contextlib import contextmanager, redirect_stdout

from pyspark.sql import DataFrame

JOINS = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
)
PYTHON_EVAL = ("BatchEvalPython", "ArrowEvalPython")

# tree-drawing prefix of a plan line: indentation, "+- ", ":- " and "|"
_TREE = re.compile(r"[ :|+-]*")
# the node name after it; "*(n) " / "* " mark a whole-stage-codegen node
_NODE = re.compile(r"(?:\*(?:\(\d+\))? ?)?([A-Za-z]\w*)(?: ([A-Za-z]\w*))?")
_METRIC = re.compile(r"SQLPlanMetric\((shuffle bytes written|spill size),(\d+),")
_ENTRY = re.compile(r"(?:^\w*Map\(|, )(\d+) -> ")
_SIZE = re.compile(r"([\d.,]+) (B|KiB|MiB|GiB|TiB|PiB|EiB)")
_UNITS = {"B": 0, "KiB": 1, "MiB": 2, "GiB": 3, "TiB": 4, "PiB": 5, "EiB": 6}


def _explain(df: DataFrame, mode: str) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def physical_plan(df: DataFrame, mode: str = "formatted") -> str:
    # executed AQE plans append the pre-adaptive "Initial Plan" — drop it so
    # operator counts reflect what actually ran
    return _explain(df, mode).split("== Initial Plan ==")[0]


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries across every parquet scan in the plan."""
    plan = physical_plan(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        out.extend(s.strip() for s in m.group(1).split(",") if s.strip())
    return out


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema of each scan — column-pruning evidence."""
    plan = physical_plan(df)
    return [m.group(1) for m in re.finditer(r"ReadSchema: (\S+)", plan)]


def scan_column_counts(df: DataFrame) -> list[int]:
    return [s.count(":") for s in read_schemas(df)]


def plan_nodes(plan: str) -> Counter:
    """Operator counts of a physical-plan tree, in "simple" or
    "formatted" explain text.

    Line-anchored: each tree line is one node, named by its first word
    (``Exchange``, ``ReusedExchange``, ``BroadcastExchange`` ... — so a
    reused or broadcast exchange is never read as a shuffle), scans by
    their first two (``Scan parquet``, ``Scan ExistingRDD``).  AQE
    "Initial Plan" subtrees and the formatted per-node detail blocks are
    skipped; formatted subquery trees are read.  A cached relation's plan
    is counted wherever the text prints it."""
    counts: Counter = Counter()
    in_tree, initial_col = True, None
    for line in plan.splitlines():
        if not line.strip():
            in_tree = False
            continue
        if line.startswith("Subquery:"):
            in_tree, initial_col = True, None
            continue
        if not in_tree:
            continue
        col = _TREE.match(line).end()
        if initial_col is not None:
            if col >= initial_col:
                continue
            initial_col = None
        body = line[col:]
        if body.startswith("=="):
            if "Initial Plan" in body:
                initial_col = col
            continue
        m = _NODE.match(body)
        if m is None:
            continue
        name = m.group(1)
        if name in ("Scan", "FileScan") and m.group(2):
            name = f"Scan {m.group(2)}"
        counts[name] += 1
    return counts


def join_strategies(df: DataFrame) -> dict[str, int]:
    nodes = plan_nodes(_explain(df, "simple"))
    return {kind: nodes[kind] for kind in JOINS if nodes[kind]}


def codegen_stage_count(df: DataFrame, execute: bool = True) -> int:
    """Distinct WholeStageCodegen spans (simple mode marks them `*(n)`).

    Under AQE the codegen annotation only exists on the FINAL plan, so by
    default the plan is executed first (collect) — call on small inputs.
    """
    if execute:
        df.collect()
    plan = physical_plan(df, "simple")
    ids = set(re.findall(r"\*\((\d+)\)", plan))
    return len(ids)


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle exchanges — the scale-limiting operator count."""
    return plan_nodes(_explain(df, "simple"))["Exchange"]


def _size_bytes(text: str) -> int:
    """A size SQL metric as the status store formats it ('0.0 B', or
    'total (min, med, max ...)\n1.5 KiB (...)') → bytes of the total."""
    m = _SIZE.search(text.split("\n")[-1])
    if m is None:
        return 0
    return int(float(m.group(1).replace(",", "")) * 1024 ** _UNITS[m.group(2)])


@contextmanager
def recorded(spark, label: str):
    """Record what the block runs: ``with recorded(spark, "q1") as rec:``.

    On exit the listener bus is drained and ``rec`` is filled from the
    status stores with every job and SQL execution created in the block,
    selected by id range — not by job group, which threads started in
    the block do not inherit:

    - ``wall_s``: the block's wall time (the reads are not in it);
    - ``jobs``, ``sql_actions``: jobs and SQL executions;
    - ``nodes``: :func:`plan_nodes` summed over each execution's final
      plan, and ``shuffle_exchanges`` (its ``Exchange`` count);
    - ``shuffle_bytes``, ``spill_bytes``: the summed "shuffle bytes
      written" and "spill size" SQL metrics;
    - ``plans``: each execution's final plan text.

    The stores keep the last 1000 jobs and executions by default, so a
    block that runs more than that is undercounted."""
    jsc = spark.sparkContext._jsc.sc()
    jobs = jsc.statusStore()
    sql = spark._jsparkSession.sharedState().statusStore()
    jsc.listenerBus().waitUntilEmpty()
    job0 = _last_id(jobs.jobsList(None), 0, lambda j: j.jobId())
    execs = sql.executionsList()
    exec0 = _last_id(execs, execs.size() - 1, lambda e: e.executionId())
    rec: dict = {"label": label}
    t0 = time.perf_counter()
    yield rec
    rec["wall_s"] = round(time.perf_counter() - t0, 3)
    jsc.listenerBus().waitUntilEmpty()

    # job ids are handed out one by one, so the count is the id distance
    n_jobs = _last_id(jobs.jobsList(None), 0, lambda j: j.jobId()) - job0
    execs = sql.executionsList()  # oldest first; ids have gaps
    first = execs.size()
    while first > 0 and execs.apply(first - 1).executionId() > exec0:
        first -= 1
    nodes: Counter = Counter()
    plans: list[str] = []
    metric = {"shuffle bytes written": 0, "spill size": 0}
    for i in range(first, execs.size()):
        ex = execs.apply(i)
        plans.append(ex.physicalPlanDescription())
        nodes += plan_nodes(plans[-1])
        # the final plan's nodes name their metrics in one string each
        # ('List(SQLPlanMetric(spill size,42,size), ...)'), a set since a
        # cached plan read twice repeats its accumulators; the values come
        # in one string too ('Map(42 -> 1.5 KiB (...), ...)')
        graph = sql.planGraph(ex.executionId()).allNodes()
        wanted = {
            pair
            for n in range(graph.size())
            for pair in _METRIC.findall(graph.apply(n).metrics().toString())
        }
        parts = _ENTRY.split(sql.executionMetrics(ex.executionId()).toString())
        values = dict(zip(parts[1::2], parts[2::2]))
        for name, acc in wanted:
            metric[name] += _size_bytes(values.get(acc, ""))
    rec.update(
        jobs=n_jobs,
        sql_actions=len(plans),
        nodes=dict(sorted(nodes.items())),
        shuffle_exchanges=nodes["Exchange"],
        shuffle_bytes=metric["shuffle bytes written"],
        spill_bytes=metric["spill size"],
        plans=plans,
    )


def _last_id(seq, index: int, key) -> int:
    """Id of ``seq[index]`` (a status-store list), -1 when it is empty."""
    return key(seq.apply(index)) if seq.size() else -1
