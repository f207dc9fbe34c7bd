"""Measurement plumbing: spans, Spark counters, process-tree CPU and PSS.

Spans and counters are recorded only in a traced run; an untraced run
uses ``NULL_TRACER`` whose ``span`` is a shared no-op context manager,
so the end-to-end timings carry no tracing cost. Nothing here starts a
thread: counters are read at span boundaries.
"""

from __future__ import annotations

import contextlib
import os
import re
import statistics
import time
from math import lgamma

import numpy as np

# ------------------------------------------------------------ spans


class Tracer:
    """In-memory spans: (id, name, start, end, parent, request id)."""

    enabled = True

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, req: str | None = None):
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "req": req if req is not None else (parent["req"] if parent else None),
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()

    def add(self, name: str, start: float, end: float, req: str | None = None) -> None:
        """A span measured elsewhere (e.g. a streaming progress event),
        parented to the innermost open span."""
        parent = self._stack[-1] if self._stack else None
        self.spans.append(
            {
                "id": len(self.spans),
                "name": name,
                "parent": parent["id"] if parent else None,
                "req": req,
                "start": start,
                "end": end,
            }
        )

    def nested(self) -> bool:
        """Every child lies within its parent's interval."""
        by = {s["id"]: s for s in self.spans}
        return all(
            by[s["parent"]]["start"] <= s["start"] <= s["end"] <= by[s["parent"]]["end"]
            for s in self.spans
            if s["parent"] is not None
        )

    def self_time_s(self) -> dict[str, float]:
        """Per span name: duration minus the part of it that its
        children cover (children may overlap each other)."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = _union_len(
                [(max(c["start"], s["start"]), min(c["end"], s["end"])) for c in kids.get(s["id"], [])]
            )
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def total_s(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)


def _union_len(iv: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(x for x in iv if x[1] > x[0]):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class _NullTracer:
    enabled = False
    _null = contextlib.nullcontext()

    def span(self, name: str, req: str | None = None):
        return self._null

    def add(self, *a, **k) -> None:
        pass


NULL_TRACER = _NullTracer()


# ------------------------------------------------------ Spark counters

_PY_NODE = re.compile(
    r"^(ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|PythonMapInArrow|"
    r"FlatMapGroupsInPandas\w*|FlatMapCoGroupsInPandas|AggregateInPandas|"
    r"WindowInPandas|TransformWithStateInPandas|ApplyInPandasWithState)"
)
_JOIN = re.compile(r"(Join|CartesianProduct)")


class SparkCounters:
    """Reads the status tracker and status store for one job group,
    and Catalyst's phase tracker and plan shape for one DataFrame.
    Works with ``spark.ui.enabled=false``."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name, False)

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.tracker.getJobIdsForGroup(group))

    def stage_totals(self, group: str, wait_s: float = 5.0) -> dict:
        """Sums over every stage of every job in ``group``. Listener
        events land asynchronously, so wait until each job reports an
        end state first."""
        jobs = self.job_ids(group)
        deadline = time.perf_counter() + wait_s
        infos = []
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            while info is not None and info.status not in ("SUCCEEDED", "FAILED") and time.perf_counter() < deadline:
                time.sleep(0.005)
                info = self.tracker.getJobInfo(j)
            if info is not None:
                infos.append(info)
        tot = dict(jobs=len(jobs), stages=0, tasks=0, run_ms=0, cpu_ms=0.0, gc_ms=0,
                   shuffle_read=0, shuffle_write=0, spill=0, input_rows=0)
        for info in infos:
            for sid in info.stageIds:
                try:
                    a = self.store.lastStageAttempt(sid)
                except Exception:  # py4j error: stage never attempted
                    continue
                if str(a.status()) == "SKIPPED":
                    continue
                tot["stages"] += 1
                tot["tasks"] += a.numTasks()
                tot["run_ms"] += a.executorRunTime()
                tot["cpu_ms"] += a.executorCpuTime() / 1e6
                tot["gc_ms"] += a.jvmGcTime()
                tot["shuffle_read"] += a.shuffleReadBytes()
                tot["shuffle_write"] += a.shuffleWriteBytes()
                tot["spill"] += a.memoryBytesSpilled() + a.diskBytesSpilled()
                tot["input_rows"] += a.inputRecords()
        return tot

    @staticmethod
    def force_plan(df) -> object:
        """Force analysis, optimization and physical planning; return
        the QueryExecution so the action reuses the planned query."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        return qe

    @staticmethod
    def phases_ms(qe) -> dict:
        ph = qe.tracker().phases()
        out = {}
        for k in ("analysis", "optimization", "planning"):
            o = ph.get(k)
            out[k] = float(o.get().durationMs()) if o.isDefined() else 0.0
        return out

    @staticmethod
    def plan_shape(qe) -> dict:
        """Scan, exchange, join and Python-node counts of the physical
        plan as planned (before adaptive re-planning), so the counts
        depend on the query and its inputs, not on timing."""
        plan = qe.executedPlan()
        if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            plan = plan.initialPlan()  # fixed before any stage runs
        lines = plan.toString().splitlines()
        names = [re.sub(r"^[\s:+\-*()\d|]*", "", ln) for ln in lines]
        return {
            "scans": sum(n.startswith(("FileScan", "Scan ", "BatchScan", "InMemoryTableScan", "LocalTableScan")) for n in names),
            "exchanges": sum(n.startswith(("Exchange", "BroadcastExchange", "ShuffleExchange")) for n in names),
            "joins": sum(bool(_JOIN.search(n.split(" ")[0])) for n in names),
            "python_nodes": sum(bool(_PY_NODE.match(n)) for n in names),
        }

    @staticmethod
    def python_bytes(plan) -> int:
        """Bytes exchanged with Python workers: the SQL metrics of the
        Python exec nodes in an executed physical plan."""
        total = 0
        stack = [plan]
        while stack:
            p = stack.pop()
            cls = p.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                stack.append(p.executedPlan())
                continue
            if cls.endswith("QueryStageExec"):
                stack.append(p.plan())
            if _PY_NODE.match(p.nodeName()):
                ms = p.metrics()
                for key in ("dataSent", "dataReturned"):
                    m = ms.get(key)
                    if m.isDefined():
                        total += int(m.get().value())
            ch = p.children()
            for i in range(ch.size()):
                stack.append(ch.apply(i))
        return total


# ----------------------------------------------------- process tree


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(x) for x in f.read().split())
    except OSError:
        pass
    return out


def tree_pids(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    seen, todo = [], [root]
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(_children(p))
    return seen


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(pids: list[int] | None = None) -> float:
    """User+system CPU of the process tree, including reaped children
    (exited Python workers land in their parent's cutime/cstime)."""
    total = 0
    for p in pids or tree_pids():
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])
        except (OSError, IndexError):
            pass
    return total / _TICK


def tree_pss_mb(pids: list[int] | None = None) -> float:
    """Proportional set size of the process tree: resident memory with
    pages shared between processes (forked Python workers) counted
    once, in proportion."""
    total = 0
    for p in pids or tree_pids():
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                total += next(int(ln.split()[1]) for ln in f if ln.startswith("Pss:"))
        except (OSError, StopIteration):
            pass
    return total / 1024


def retained_pss_mb(spark, settle_s: float = 2.0) -> float:
    """Process-tree PSS once the JVM has collected its garbage: a full
    GC, then a reading every 0.1 s until two agree within 1 MB (G1 hands
    freed heap back concurrently). What a garbage-collected heap holds at
    its peak depends on when collections happened to run; what it
    retains depends on what the program keeps (caches, loaded frames)."""
    spark.sparkContext._jvm.System.gc()
    prev = tree_pss_mb()
    deadline = time.perf_counter() + settle_s
    while time.perf_counter() < deadline:
        time.sleep(0.1)
        cur = tree_pss_mb()
        if abs(cur - prev) < 1.0:
            return cur
        prev = cur
    return prev


# ----------------------------------------------------------- stats


def pct(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the q-quantile (0<q<1): the mean of all
    order statistics weighted by the Beta(q(n+1), (1-q)(n+1)) mass on
    [(i-1)/n, i/n]. A panel mixes a few distinct calls, so a plain
    quantile jumps between latency clusters as their order shifts; this
    estimate moves smoothly with every sample."""
    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    if n == 1:
        return float(x[0])
    a, b = q * (n + 1), (1 - q) * (n + 1)
    edges = np.arange(1, n) / n
    # Beta CDF at the interior edges by the trapezoid rule; the density
    # is bounded on [0, (n-1)/n] because a > 1 for n >= 2 and q >= 0.5
    t = np.linspace(0.0, edges[-1], 100_001)
    with np.errstate(divide="ignore"):
        log_pdf = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t) - (lgamma(a) + lgamma(b) - lgamma(a + b))
    pdf = np.exp(log_pdf)
    cdf = np.concatenate([[0.0], np.cumsum(pdf[1:] + pdf[:-1]) * (t[1] - t[0]) / 2])
    w = np.diff(np.concatenate([[0.0], np.interp(edges, t, cdf), [1.0]]))
    return float(w @ x)


def calibration_s(reps: int = 3) -> float:
    """Median time of a fixed pure-Python loop: a host-speed ruler
    recorded as context, not a metric."""
    samples = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(2_000_000):
            acc += i * i
        samples.append(time.perf_counter() - t0)
    return statistics.median(samples)


# Every per-layer metric a traced run prints, with its unit. A layer a
# workload does not exercise reads 0.
LAYER_METRICS = {
    "session.start_s": "s",
    "sources.load_ms": "ms",
    "sources.load_jobs": "count",
    "osl.compile_ms": "ms",
    "operators.build_ms": "ms",
    "operators.build_jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimizer_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.action_ms": "ms",
    "exec.run_ms": "ms",
    "exec.cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.busy_ratio": "ratio",
    "shuffle.read_bytes": "bytes",
    "shuffle.write_bytes": "bytes",
    "shuffle.spill_bytes": "bytes",
    "python.bytes": "bytes",
    "python.nodes": "count",
    "plan.scans": "count",
    "plan.exchanges": "count",
    "plan.joins": "count",
    "segment_store.hit_ratio": "ratio",
    "collect.rows": "rows",
    "rows_examined_per_result": "ratio",
    "request.construction_share": "ratio",
    "request.execution_share": "ratio",
    "pipeline.prepare_ms": "ms",
    "pipeline.ivf_index_ms": "ms",
    "pipeline.ann_query_ms": "ms",
    "pipeline.candidate_pairs": "count",
    "pipeline.dup_precision": "ratio",
    "pipeline.kept_ratio": "ratio",
    "pipeline.ann_recall": "ratio",
    "streaming.trigger_ms": "ms",
    "streaming.planning_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.rows_per_batch": "rows",
    "streaming.state_rows": "rows",
    "streaming.state_bytes": "bytes",
    "streaming.state_commit_ms": "ms",
    "streaming.backlog_files": "count",
    "trace.overhead_ratio": "ratio",
}


def empty_layers() -> dict:
    return {k: (0.0, u) for k, u in LAYER_METRICS.items()}


def exec_layers(totals: list[dict], n: int, wall_ms: float) -> dict:
    """``exec.*`` (but ``exec.action_ms``) and ``shuffle.*`` as means over
    ``n`` units of work, from ``SparkCounters.stage_totals`` dicts;
    busy ratio = executor run time / (``wall_ms`` x cores)."""
    tot = lambda k: sum(t[k] for t in totals)  # noqa: E731
    cores = len(os.sched_getaffinity(0))
    return {
        "exec.jobs": (tot("jobs") / n, "count"),
        "exec.stages": (tot("stages") / n, "count"),
        "exec.tasks": (tot("tasks") / n, "count"),
        "exec.run_ms": (tot("run_ms") / n, "ms"),
        "exec.cpu_ms": (tot("cpu_ms") / n, "ms"),
        "exec.gc_ms": (tot("gc_ms") / n, "ms"),
        "exec.busy_ratio": (tot("run_ms") / (wall_ms * cores), "ratio"),
        "shuffle.read_bytes": (tot("shuffle_read") / n, "bytes"),
        "shuffle.write_bytes": (tot("shuffle_write") / n, "bytes"),
        "shuffle.spill_bytes": (tot("spill") / n, "bytes"),
    }


def shape_layers(shapes: list[dict]) -> dict:
    """``plan.*`` and ``python.nodes``: totals over the given plans."""
    tot = lambda k: sum(s[k] for s in shapes)  # noqa: E731
    return {
        "python.nodes": (tot("python_nodes"), "count"),
        "plan.scans": (tot("scans"), "count"),
        "plan.exchanges": (tot("exchanges"), "count"),
        "plan.joins": (tot("joins"), "count"),
    }
