"""Span tracer for the catalog benchmark.

Wraps public engine functions from outside the engine: ``install`` swaps
each target attribute for a timing wrapper and ``remove`` puts the
originals back, so an end-to-end run never sees a wrapper.  Every span
records name, start, end, parent and op id, and sets a Spark job group
for its extent.  A lazy function's span covers plan building only; an
action called on the very DataFrame a traced function returned
(``collect``, ``first``, ``count``, ``localCheckpoint`` ...) opens an
``<layer>.exec`` span linked back to that function's span and to the
spans of the traced functions whose DataFrames it was built from, so a
lazy function's execution is charged to it wherever the action runs.
Spans stay in memory and are written out once, at the end.  The tracer
times its own bookkeeping inside each op: that is the time tracing adds
to the op.

Spark counts per op come from the status tracker (jobs, stages, tasks),
the AppStatusStore stage data (shuffle write, spill) and the SQL status
store (executions, scan-node metrics), read after draining the listener
bus that fills them; GC time is read from the driver JVM's collector
beans (in ``local[N]`` the executors live in that JVM).
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame

# DataFrame methods that run a job; each is traced only when called on a
# DataFrame a traced function returned
ACTIONS = ("collect", "count", "first", "head", "take", "toPandas",
           "localCheckpoint", "checkpoint")
_LINKS = "_perfbench_links"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int
    group: str
    children: list[int] = field(default_factory=list)
    links: list[int] = field(default_factory=list)  # exec spans: the plan spans

    @property
    def dur(self) -> float:
        return self.end - self.start


def _metric_number(text: str | None) -> float:
    """SQL metric values arrive formatted ('1,000'); counts only."""
    if not text:
        return 0.0
    head = text.split("\n")[-1].split(" (")[0].replace(",", "").strip()
    try:
        return float(head)
    except ValueError:
        return 0.0


class SparkCounters:
    """Per-op Spark counts: jobs, tasks, shuffle bytes, spill, GC, SQL
    executions and their scan-node row/file counts."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._tracker = sc.statusTracker()
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._gc_beans = mf.getGarbageCollectorMXBeans()

    def gc_ms(self) -> int:
        return sum(
            max(0, self._gc_beans.get(i).getCollectionTime())
            for i in range(self._gc_beans.size())
        )

    def sql_count(self) -> int:
        return self._sql.executionsList().size()

    def jobs(self, groups: list[str]) -> dict:
        out = {"jobs": 0, "tasks": 0, "shuffle_write_bytes": 0, "spill_bytes": 0}
        for group in groups:
            for jid in self._tracker.getJobIdsForGroup(group) or []:
                info = self._tracker.getJobInfo(jid)
                if info is None:
                    continue
                out["jobs"] += 1
                for sid in info.stageIds:
                    try:
                        sd = self._store.lastStageAttempt(sid)
                    except Exception:  # stage never submitted (skipped)
                        continue
                    out["tasks"] += sd.numCompleteTasks()
                    out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    out["spill_bytes"] += (
                        sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    )
        return out

    def scans(self, first_execution: int) -> dict:
        """Scan-node 'number of output rows' / 'number of files read'
        summed over the SQL executions listed from ``first_execution``."""
        rows = files = 0.0
        execs = self._sql.executionsList()
        for i in range(first_execution, execs.size()):
            eid = execs.apply(i).executionId()
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                if not node.name().startswith("Scan"):
                    continue
                metrics = node.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    v = values.get(m.accumulatorId())
                    if not v.isDefined():
                        continue
                    if m.name() == "number of output rows":
                        rows += _metric_number(v.get())
                    elif m.name() == "number of files read":
                        files += _metric_number(v.get())
        return {"rows_scanned": rows, "files_read": files}


class Tracer:
    """Spans around installed targets, grouped by op.

    ``targets`` is a list of ``(owner, attr, layer)``: ``owner`` is a
    module or class, ``attr`` the public function or method on it and
    ``layer`` the span name.  ``label(args, kwargs)`` hooks may refine a
    span name from the call's arguments (e.g. the stage of a run_stage).
    """

    def __init__(self, spark, targets, labels=None):
        self._sc = spark.sparkContext
        self._bus = self._sc._jsc.sc().listenerBus()
        self._df_class = type(spark.range(0))
        self._targets = targets
        self._labels = labels or {}
        self._saved: list[tuple[object, str, object]] = []
        self.counters = SparkCounters(spark)
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._in_exec = False
        self.op = -1
        self.ops: list[dict] = []
        self.own_s = 0.0  # bookkeeping time inside the current op

    # -- wrappers ---------------------------------------------------------
    def install(self) -> None:
        for owner, attr, layer in self._targets:
            self._swap(owner, attr, self._wrap(owner.__dict__[attr], layer))
        for attr in ACTIONS:
            self._swap(self._df_class, attr, self._wrap_action(getattr(self._df_class, attr)))

    def remove(self) -> None:
        while self._saved:
            owner, attr, original = self._saved.pop()
            if original is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, original)

    def _swap(self, owner, attr, wrapper) -> None:
        self._saved.append((owner, attr, owner.__dict__.get(attr)))
        setattr(owner, attr, wrapper)

    def _wrap(self, fn, layer):
        tracer = self
        label = self._labels.get(layer)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            t0 = time.perf_counter()
            name = layer if label is None else f"{layer}.{label(args, kwargs)}"
            links = [i for a in (*args, *kwargs.values()) for i in tracer._links_of(a)]
            with tracer.span(name, t0) as idx:
                out = fn(*args, **kwargs)
                t1 = time.perf_counter()
                for df in _frames(out):
                    df.__dict__[_LINKS] = [idx, *links]
                tracer.own_s += time.perf_counter() - t1
            return out

        return traced

    def _wrap_action(self, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(df, *args, **kwargs):
            links = tracer._links_of(df)
            if not links or tracer._in_exec:
                return fn(df, *args, **kwargs)
            t0 = time.perf_counter()
            tracer._in_exec = True
            try:
                with tracer.span(tracer.spans[links[0]].name + ".exec", t0, links):
                    return fn(df, *args, **kwargs)
            finally:
                tracer._in_exec = False

        return traced

    def _links_of(self, arg) -> list[int]:
        """The plan spans, in the current op, a DataFrame was built by."""
        if not isinstance(arg, DataFrame):
            return []
        return [i for i in arg.__dict__.get(_LINKS, ()) if self.spans[i].op == self.op]

    # -- spans ------------------------------------------------------------
    def _set_group(self, group: str | None) -> None:
        if group is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(group, group)

    @contextlib.contextmanager
    def span(self, name: str, t0: float | None = None, links: list[int] | None = None):
        """A span from ``t0`` (default: now); the time between ``t0`` and
        the span's body, and the body's end and the span's close, is
        counted as bookkeeping."""
        t0 = time.perf_counter() if t0 is None else t0
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        span = Span(name, t0, 0.0, parent, self.op, f"perfbench-{self.op}-{idx}",
                    links=list(links or []))
        self.spans.append(span)
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        self._set_group(span.group)
        t_body = time.perf_counter()
        self.own_s += t_body - t0
        try:
            yield idx
        finally:
            t_end = time.perf_counter()
            self._stack.pop()
            self._set_group(self.spans[self._stack[-1]].group if self._stack else None)
            span.end = time.perf_counter()
            self.own_s += span.end - t_end

    @contextlib.contextmanager
    def section(self, name: str):
        """A span whose Spark counts are also kept on their own, in the
        op's ``sections``; the listener bus is drained at both ends so
        the SQL executions in between can be counted."""
        t0 = time.perf_counter()
        self._bus.waitUntilEmpty()
        sql0 = self.counters.sql_count()
        with self.span(name, t0) as idx:
            yield idx
        t1 = time.perf_counter()
        self._bus.waitUntilEmpty()
        self.ops[self.op].setdefault("sections", []).append({
            "name": name, "spans": (idx, len(self.spans)),
            "sql_actions": self.counters.sql_count() - sql0,
        })
        self.own_s += time.perf_counter() - t1

    def self_time(self, idx: int) -> float:
        """Duration minus the union of the children's intervals."""
        span = self.spans[idx]
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in sorted((self.spans[i].start, self.spans[i].end) for i in span.children):
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return span.dur - covered

    # -- ops --------------------------------------------------------------
    def op_begin(self, name: str) -> None:
        self.op = len(self.ops)
        self.own_s = 0.0
        self.ops.append({
            "name": name,
            "first_span": len(self.spans),
            "sql0": self.counters.sql_count(),
            "gc0": self.counters.gc_ms(),
        })

    def op_end(self, latency: float) -> int:
        """Close the current op: record its latency, the tracer's own time
        in it and its Spark counts, summed over the job groups of all of
        its spans; returns its index."""
        idx, rec = self.op, self.ops[self.op]
        rec["latency"] = latency
        rec["tracer_s"] = self.own_s
        self._bus.waitUntilEmpty()  # the status stores are filled from it
        groups = [s.group for s in self.spans[rec["first_span"]:]]
        rec.update(self.counters.jobs(groups))
        for sec in rec.get("sections", []):
            first, end = sec["spans"]
            sec.update(self.counters.jobs([s.group for s in self.spans[first:end]]))
        rec["sql_actions"] = self.counters.sql_count() - rec["sql0"]
        rec.update(self.counters.scans(rec["sql0"]))
        rec["gc_s"] = (self.counters.gc_ms() - rec["gc0"]) / 1000.0
        self.op = -1
        return idx

    def per_op(self, layer: str, ops: list[int], self_time: bool = False) -> float:
        """Mean over ``ops`` of the summed (self) time of spans named
        ``layer`` or ``layer.<label>``, in seconds."""
        if not ops:
            return 0.0
        wanted = set(ops)
        total = 0.0
        for i, s in enumerate(self.spans):
            if s.op in wanted and (s.name == layer or s.name.startswith(layer + ".")):
                total += self.self_time(i) if self_time else s.dur
        return total / len(ops)

    def inclusive(self, layer: str) -> list[float]:
        """Per call of ``layer``: its span plus the exec spans linked to
        it, i.e. plan building plus the execution of its result."""
        out = {i: s.dur for i, s in enumerate(self.spans) if s.name == layer}
        for s in self.spans:
            if s.name.endswith(".exec"):
                for i in set(s.links) & out.keys():
                    out[i] += s.dur
        return list(out.values())

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(
                {
                    "spans": [
                        {**asdict(s), "self": self.self_time(i)}
                        for i, s in enumerate(self.spans)
                    ],
                    "ops": self.ops,
                },
                fh,
            )


def _frames(out) -> list[DataFrame]:
    """The DataFrames a traced function returned (alone or in a tuple)."""
    if isinstance(out, DataFrame):
        return [out]
    if isinstance(out, (tuple, list)):
        return [x for x in out if isinstance(x, DataFrame)]
    return []
