"""The write side: a backlog of JSON-lines event files drained by three
streaming pipelines fed from one ``read_event_stream``. A traced
``dashboard`` run drains it for the ``streaming.*`` layer.

Trigger policy: ``availableNow`` with ``maxFilesPerTrigger=1``, so each
file is one micro-batch. The three queries run concurrently; a drain
ends when every query has committed the last file. Each drain uses
fresh checkpoints and sinks.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import time

from meter import SparkCounters, empty_layers, exec_layers, shape_layers

GAP_MS = 30 * 60 * 1000


def _epoch_s(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class Ingest:
    name = "ingest"

    def __init__(self, spark, inputs: dict, expected: dict, tracer, fault: bool, seed: int, work: str) -> None:
        self.spark = spark
        self.inputs = inputs
        self.expected = expected
        self.tracer = tracer
        self.fault = fault
        self.work = work
        self.counters = SparkCounters(spark) if tracer.enabled else None
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")
        self.n = 0
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.drains: list[dict] = []

    def _writers(self) -> dict:
        """``read_event_stream`` and the three pipelines, up to the
        point of ``start()``."""
        from openset_spark.streaming.aggregate import stream_property_counts
        from openset_spark.streaming.ingest import read_event_stream
        from openset_spark.streaming.segments_stream import StreamSegment, stream_segment_transitions
        from openset_spark.streaming.sessions import stream_sessionize

        self.n += 1
        with self.tracer.span("sources.load"):
            ev = read_event_stream(self.spark, self.inputs["stream_dir"], max_files_per_trigger=1)
        with self.tracer.span("operators.build"):
            segs = [
                StreamSegment("buyers", lambda pdf: pdf["event_type"] == "purchase"),
                StreamSegment("clean", lambda pdf: pdf["event_type"] == "error", mode="never"),
            ]
            frames = {
                "transitions": (stream_segment_transitions(ev, segs), "append"),
                "sessions": (stream_sessionize(ev, GAP_MS), "append"),
                "property_counts": (stream_property_counts(ev), "complete"),
            }
            return {
                k: df.writeStream.format("memory").queryName(f"{k}_{self.n}").outputMode(mode)
                .trigger(availableNow=True)
                .option("checkpointLocation", os.path.join(self.work, "ckpt", f"{k}_{self.n}"))
                for k, (df, mode) in frames.items()
            }

    def drain(self) -> dict:
        """Start all three queries on the backlog; return when each has
        committed every file. Times come from the queries' progress."""
        tr = self.tracer
        writers = self._writers()
        total = self.inputs["events"]
        with tr.span("drain"):
            t0_epoch, t0_perf = time.time(), time.perf_counter()
            with tr.span("stream.start"):
                queries = {k: w.start() for k, w in writers.items()}
            done: dict[str, list[dict]] = {}
            while len(done) < len(queries):
                time.sleep(0.05)
                for k, q in queries.items():
                    if k in done:
                        continue
                    progs = q.recentProgress
                    if sum(p["numInputRows"] for p in progs) >= total:
                        done[k] = progs
                        q.stop()
                    elif q.exception() is not None:
                        raise RuntimeError(f"{k}: {q.exception()}")
            batches = {k: [p for p in progs if p["numInputRows"] > 0] for k, progs in done.items()}
            end = max(_epoch_s(b[-1]["timestamp"]) + b[-1]["durationMs"]["triggerExecution"] / 1e3
                      for b in batches.values())
            for k, bs in batches.items():
                for p in bs:
                    s = t0_perf + _epoch_s(p["timestamp"]) - t0_epoch
                    tr.add("streaming.batch", s, s + p["durationMs"]["triggerExecution"] / 1e3)
        res = {"wall_s": end - t0_epoch, "batches": batches, "queries": queries}
        if self.counters:
            c = self.counters
            res["exec"] = {k: c.stage_totals(str(q.runId)) for k, q in queries.items()}
            last = [q._jsq.streamingQuery().lastExecution() for q in queries.values()]
            res["python_bytes"] = sum(c.python_bytes(x.executedPlan()) for x in last)
            res["shape"] = [c.plan_shape(x) for x in last]
        self._check(queries)
        shutil.rmtree(os.path.join(self.work, "ckpt"), ignore_errors=True)
        return res

    def _check(self, queries: dict) -> None:
        exp = self.expected
        got = {k: self.spark.sql(f"SELECT * FROM {q.name}").collect() for k, q in queries.items()}
        for q in queries.values():
            self.spark.catalog.dropTempView(q.name)
        trans = sorted([r.user_id, r.segment, r.transition] for r in got["transitions"])
        sess = sorted(
            [r.user_id, _us(r.session_start), _us(r.session_end), r.n_events] for r in got["sessions"]
        )
        pc = {r.value: [r.people, r.events] for r in got["property_counts"]}
        if self.fault and self.attempted == 0:
            trans = trans[1:]
        checks = {
            "transitions": trans == exp["transitions"],
            "sessions": sess == exp["sessions"],
            "property_counts": set(pc) == set(exp["property_counts"]) and all(
                pc[k][1] == n and abs(pc[k][0] - p) <= 0.1 * p for k, (p, n) in exp["property_counts"].items()
            ),
        }
        for k, ok in checks.items():
            self.attempted += 1
            if not ok:
                self.failed += 1
                self.errors.append(f"ingest {k} differs from the batch answer")

    # ---------------------------------------------------- the phases
    def warm_pass(self) -> float:
        t0 = time.perf_counter()
        self.drain()
        return time.perf_counter() - t0

    def traced_run(self, seconds: float, session_start_s: float) -> dict:
        """Drains until ``seconds`` have elapsed (at least one); the
        layers are means per micro-batch."""
        t0 = time.perf_counter()
        self.drains = []
        while not self.drains or time.perf_counter() - t0 < seconds:
            self.drains.append(self.drain())
        tr = self.tracer
        out = empty_layers()
        progs = [p for d in self.drains for b in d["batches"].values() for p in b]
        n = len(progs)
        mean = lambda xs: sum(xs) / len(xs)  # noqa: E731
        dur = lambda k: mean([p["durationMs"].get(k, 0) for p in progs])  # noqa: E731
        last = [b[-1] for b in self.drains[-1]["batches"].values()]
        ex = [e for d in self.drains for e in d["exec"].values()]
        out.update({
            "session.start_s": (session_start_s, "s"),
            "sources.load_ms": (1e3 * tr.total_s("sources.load") / self.n, "ms"),
            "operators.build_ms": (1e3 * tr.total_s("operators.build") / self.n, "ms"),
            "exec.action_ms": (dur("addBatch"), "ms"),
            **exec_layers(ex, n, 1e3 * sum(d["wall_s"] for d in self.drains)),
            "python.bytes": (mean([d["python_bytes"] for d in self.drains]), "bytes"),
            **shape_layers(self.drains[-1]["shape"]),
            "streaming.trigger_ms": (dur("triggerExecution"), "ms"),
            "streaming.planning_ms": (dur("queryPlanning"), "ms"),
            "streaming.add_batch_ms": (dur("addBatch"), "ms"),
            "streaming.rows_per_batch": (mean([p["numInputRows"] for p in progs]), "rows"),
            "streaming.state_rows": (sum(_state(p, "numRowsTotal") for p in last), "rows"),
            "streaming.state_bytes": (sum(_state(p, "memoryUsedBytes") for p in last), "bytes"),
            "streaming.state_commit_ms": (mean([_state(p, "commitTimeMs") for p in progs]), "ms"),
            "streaming.backlog_files": (self.inputs["files"], "count"),
        })
        return out

    def layer_record(self) -> dict:
        d = self.drains[-1]
        return {
            "drains": len(self.drains),
            "wall_s": [round(x["wall_s"], 4) for x in self.drains],
            "batches_per_stream": {k: len(b) for k, b in d["batches"].items()},
            "exec": d.get("exec"),
            "shape": d.get("shape"),
        }


def _state(p: dict, key: str) -> float:
    return sum(s.get(key, 0) for s in p.get("stateOperators", []))


def _us(t: dt.datetime) -> int:
    return int(t.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000 + t.microsecond
