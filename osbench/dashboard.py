"""``dashboard``: one long-lived engine answering a REST-shaped panel.

One client, closed loop: each request is issued after the previous one
returned. A pass is the panel in a seeded fixed order; only whole
passes are measured, so every run times the same mix.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

import panel
from check import compare, corrupt, rows_from_spark
from meter import SparkCounters

STORE_READS_PER_PASS = panel.SEGMENT_TTL_S // panel.CLOCK_STEP_S
# A slow host must not halve the sample: every run measures at least
# this many passes, even past ``--seconds``.
MIN_PASSES = 2


class _Ctx:
    """What a panel op may call: the engine, an OSL compile, the clock."""

    def __init__(self, eng, tracer, clock_ms: int = 0) -> None:
        self.eng = eng
        self.tracer = tracer
        self.clock_ms = clock_ms

    def osl(self, script: str, **kw):
        from openset_spark.osl import compile_osl

        with self.tracer.span("osl.compile"):
            q = compile_osl(script, **kw)
        return q.dataframe(self.eng.events)

    def tick(self) -> int:
        self.clock_ms += panel.CLOCK_STEP_S * 1000
        return self.clock_ms


class Dashboard:
    name = "dashboard"

    def __init__(self, spark, inputs: dict, expected: dict, tracer, fault: bool, seed: int, work: str) -> None:
        import __spark_entry__

        self.spark = spark
        self.inputs = inputs
        self.expected = expected
        self.tracer = tracer
        self.fault = fault
        self.counters = SparkCounters(spark) if tracer.enabled else None
        ops = panel.ops(__spark_entry__.oracle_sql(), inputs["lookup_users"], inputs["max_ts_ms"])
        store = next(o for o in ops if o.name == "segment_store_counts")
        seq = ops + [store] * (STORE_READS_PER_PASS - 1)
        order = np.random.default_rng(seed).permutation(len(seq))
        self.order = [seq[i] for i in order]
        self.ctx = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.layer_rows: list[dict] = []
        self.n_req = 0

    # -------------------------------------------------------- set-up
    def setup(self) -> float:
        """One fresh construction: the engine and the panel's named
        segments, registered and materialized."""
        from openset_spark.engine import OpenSetEngine

        if self.ctx is not None:
            self.spark.catalog.clearCache()
        t0 = time.perf_counter()
        with self.tracer.span("engine.construct"):
            with self.tracer.span("sources.load"):
                eng = OpenSetEngine(self.spark, self.inputs["sf_dir"])
            eng.counts_query(panel.SETUP_SEGMENTS, now_ms=0).collect()
        dt = time.perf_counter() - t0
        self.ctx = _Ctx(eng, self.tracer)
        return dt

    def source_load(self) -> tuple[float, int]:
        """``load_table`` alone, timed with the jobs it launches."""
        from openset_spark.sources.tables import load_table

        c = SparkCounters(self.spark)
        c.group("sources.load")
        t0 = time.perf_counter()
        load_table(self.spark, self.inputs["sf_dir"], "events")
        dt = time.perf_counter() - t0
        return dt, len(c.job_ids("sources.load"))

    # ------------------------------------------------------ requests
    def _frames(self, out) -> list:
        if isinstance(out, dict):
            return [(k, out[k]) for k in sorted(out) if k != "_cached"]
        return [(None, out)]

    def request(self, op) -> float:
        """Engine call -> collected rows. Returns latency in seconds;
        the result is checked after the clock stops."""
        tr, c = self.tracer, self.counters
        self.n_req += 1
        req = f"r{self.n_req}"
        layer = {"op": op.name}
        t0 = time.perf_counter()
        try:
            with tr.span("request", req):
                if c:
                    c.group(req + "-build")
                with tr.span("operators.build"):
                    out = op.build(self.ctx)
                frames = self._frames(out)
                qes = []
                if c:
                    with tr.span("catalyst.plan"):
                        qes = [c.force_plan(df) for _, df in frames]
                    c.group(req + "-action")
                with tr.span("exec.action"):
                    got = {k: df.collect() for k, df in frames}
                    if isinstance(out, dict):
                        for cached in out.get("_cached", ()):
                            cached.unpersist()
        except Exception as e:  # a failed request is counted, not fatal
            self.attempted += 1
            self.failed += 1
            self.errors.append(f"{op.name}: {type(e).__name__}: {str(e)[:200]}")
            return time.perf_counter() - t0
        dt = time.perf_counter() - t0
        if c:
            layer.update(self._layer(req, qes, got))
            layer["segment_read"] = op.segment_read
            self.layer_rows.append(layer)
        self._check(op, got)
        return dt

    def _layer(self, req: str, qes, got) -> dict:
        c = self.counters
        build = c.stage_totals(req + "-build")
        act = c.stage_totals(req + "-action")
        ph = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        shape = {"scans": 0, "exchanges": 0, "joins": 0, "python_nodes": 0}
        py = 0
        for qe in qes:
            for k, v in c.phases_ms(qe).items():
                ph[k] += v
            for k, v in c.plan_shape(qe).items():
                shape[k] += v
            py += c.python_bytes(qe.executedPlan())
        return {
            "build_jobs": build["jobs"], "action": act, "build": build,
            "phases": ph, "shape": shape, "python_bytes": py,
            "rows": sum(len(r) for r in got.values()),
        }

    def _check(self, op, got: dict) -> None:
        self.attempted += 1
        want = self.expected[op.name]
        if isinstance(want, dict):
            pairs = [(got[k], want[k]) for k in sorted(want)]
        else:
            pairs = [(got[None], want)]
        for rows, w in pairs:
            g = rows_from_spark(rows)
            if self.fault and self.attempted == 1:
                g = corrupt(g)
            err = compare(g, w, op.ordered)
            if err:
                self.failed += 1
                self.errors.append(f"{op.name}: {err}")
                return

    # ---------------------------------------------------- the phases
    def warm_pass(self) -> float:
        t0 = time.perf_counter()
        for op in self.order:
            self.request(op)
        return time.perf_counter() - t0

    def _measure(self, seconds: float) -> tuple[list[float], float]:
        """Whole passes until ``seconds`` have elapsed, at least
        ``MIN_PASSES``."""
        lat: list[float] = []
        t0 = time.perf_counter()
        while True:
            for op in self.order:
                lat.append(self.request(op))
            if time.perf_counter() - t0 >= seconds and len(lat) >= MIN_PASSES * len(self.order):
                return lat, time.perf_counter() - t0

    def measure(self, seconds: float) -> dict:
        from meter import SparkCounters, pct, retained_pss_mb, tree_cpu_s

        c = SparkCounters(self.spark)
        c.group("measured")
        cpu0 = tree_cpu_s()
        lat, wall = self._measure(seconds)
        cpu = tree_cpu_s() - cpu0
        by_op: dict[str, list[float]] = {}
        for i, x in enumerate(lat):
            by_op.setdefault(self.order[i % len(self.order)].name, []).append(1e3 * x)
        self.op_ms = {k: round(statistics.median(v), 1) for k, v in by_op.items()}
        rows = c.stage_totals("measured")["input_rows"]
        self.latencies = lat
        ms = [1e3 * x for x in lat]
        return {
            "latency_p50_ms": (pct(ms, 0.5), "ms"),
            "latency_p90_ms": (pct(ms, 0.9), "ms"),
            "throughput_per_s": (len(lat) / wall, "1/s"),
            "cpu_us_per_row": (1e6 * cpu / max(rows, 1), "us"),
            "retained_pss_mb": (retained_pss_mb(self.spark), "MB"),
        }

    def mean_op_ms(self) -> float:
        return 1e3 * sum(self.latencies) / len(self.latencies)

    def traced_run(self, seconds: float, session_start_s: float) -> dict:
        load_ms, load_jobs = self.source_load()
        self.setup()
        self.latencies, _ = self._measure(seconds)
        return layer_metrics(self, session_start_s, 1e3 * load_ms, load_jobs)

    def layer_record(self) -> dict:
        """Per-op breakdown for the first traced pass."""
        n = len(self.order)
        return {r["op"]: {k: r[k] for k in ("build_jobs", "phases", "shape", "python_bytes", "rows")}
                | {"exec": r["action"]} for r in self.layer_rows[:n]}


def layer_metrics(d: Dashboard, session_start_s: float, load_ms: float, load_jobs: int) -> dict:
    """Per-layer metrics of a traced dashboard run, as means per
    request (plan shape: totals over one pass)."""
    from meter import empty_layers, exec_layers, shape_layers

    tr, rows = d.tracer, d.layer_rows
    n = len(rows)
    out = empty_layers()
    mean = lambda xs: sum(xs) / n  # noqa: E731
    act = [r["action"] for r in rows]
    osl_ms = tr.total_s("osl.compile") * 1e3
    build_ms = tr.total_s("operators.build") * 1e3
    plan_ms = tr.total_s("catalyst.plan") * 1e3
    action_ms = tr.total_s("exec.action") * 1e3
    req_ms = tr.total_s("request") * 1e3
    out.update({
        "session.start_s": (session_start_s, "s"),
        "sources.load_ms": (load_ms, "ms"),
        "sources.load_jobs": (load_jobs, "count"),
        "osl.compile_ms": (osl_ms / n, "ms"),
        "operators.build_ms": ((build_ms - osl_ms) / n, "ms"),
        "operators.build_jobs": (mean([r["build_jobs"] for r in rows]), "count"),
        "catalyst.analysis_ms": (mean([r["phases"]["analysis"] for r in rows]), "ms"),
        "catalyst.optimizer_ms": (mean([r["phases"]["optimization"] for r in rows]), "ms"),
        "catalyst.planning_ms": (mean([r["phases"]["planning"] for r in rows]), "ms"),
        "exec.action_ms": (action_ms / n, "ms"),
        **exec_layers(act, n, action_ms),
        "python.bytes": (mean([r["python_bytes"] for r in rows]), "bytes"),
        **shape_layers([r["shape"] for r in rows[: len(d.order)]]),
        "collect.rows": (mean([r["rows"] for r in rows]), "rows"),
        "rows_examined_per_result": (
            sum(a["input_rows"] for a in act) / max(1, sum(r["rows"] for r in rows)), "ratio"),
        # share of request time spent constructing (OSL compile, the
        # engine call, Catalyst) against executing the action
        "request.construction_share": ((build_ms + plan_ms) / req_ms, "ratio"),
        "request.execution_share": (action_ms / req_ms, "ratio"),
    })
    seg = [r for r in rows if r["segment_read"]]
    if seg:
        # a segment read misses when the store recomputed membership:
        # the store's full compute launches its watermark job eagerly
        hits = sum(1 for r in seg if r["build_jobs"] == 0)
        out["segment_store.hit_ratio"] = (hits / len(seg), "ratio")
    return out
