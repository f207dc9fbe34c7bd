"""openset_spark benchmark: one command, two workloads.

    python3 osbench/run.py --workload dashboard --seed 1 --seconds 15 --trace 0

Run from the repository root. It generates the workload's inputs from
``--seed``, computes the expected answers in a separate process, starts
Spark through ``openset_spark.get_spark`` on ``local[<cpus>]``, times
set-up, warms up, measures for ``--seconds`` and checks every result.
The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
the line before it (``record {...}``) carries the context: host
calibration, source digest, sizes and, with ``--trace 1``, the per-op
layer breakdown and tracing overhead (a traced ``dashboard`` run also
drains the write side for the streaming layer). ``--fault 1`` corrupts one
result to prove the checks fail the run.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()

SIZES = {
    "full": {
        "dashboard": {"n_users": 2_000, "n_events": 40_000, "n_files": 4},
        "ingest": {"n_users": 300, "n_files": 2, "per_file": 300},
        "corpus": {"n_docs": 800, "n_vec": 5_000, "dim": 64, "n_queries": 32, "n_files": 4},
    },
    "tiny": {
        "dashboard": {"n_users": 300, "n_events": 4_000, "n_files": 2},
        "ingest": {"n_users": 50, "n_files": 3, "per_file": 200},
        "corpus": {"n_docs": 400, "n_vec": 1_000, "dim": 16, "n_queries": 8, "n_files": 2},
    },
}
WORKLOADS = ("dashboard", "corpus")
SETUP_REPS = {"dashboard": 3, "corpus": 3}
# Warm-up: repeat passes (a panel pass, a drain, a job) until pass time
# stops falling -- the latest pass is no faster than WARM_FALL x the
# best earlier one -- after at least WARM_MIN passes, or until the
# workload's cap in seconds is spent.
WARM_MIN, WARM_FALL = 2, 0.97
WARM_CAP_S = {"dashboard": 10.0, "corpus": 10.0}


def _fail(msg: str) -> None:
    print(f"osbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest() -> str:
    """sha256 over the package sources, so a record names the code it
    measured (the checkout is not a git repository)."""
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(os.path.join(ROOT, "openset_spark"))):
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def host_env(work: str) -> dict:
    """Spark on every core, the driver heap sized from host memory,
    and every scratch file inside the work directory."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) / 2**20
    heap_gb = max(1, min(4, int(mem_gb // 6)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        TZ="UTC",
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join([ROOT, HERE, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{heap_gb}g",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.retainedJobs=100000 --conf spark.ui.retainedStages=100000 "
            f"--conf spark.sql.warehouse.dir={work}/warehouse "
            f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
        ),
    )
    time.tzset()
    return {"cpus": cpus, "host_mem_gb": round(mem_gb, 1), "driver_heap": f"{heap_gb}g"}


def make_inputs(workload: str, seed: int, inp: str, size: dict) -> tuple[dict, dict]:
    """Generate the inputs of a workload (or of the ``ingest`` write
    side); return (inputs, oracle params)."""
    import gen

    os.makedirs(inp, exist_ok=True)
    if workload == "dashboard":
        info = gen.dashboard_inputs(seed, inp, **size)
        return info, {"lookup_users": info["lookup_users"], "max_ts_ms": info["max_ts_ms"]}
    if workload == "ingest":
        from ingest import GAP_MS

        return gen.ingest_inputs(seed, inp, **size), {"gap_ms": GAP_MS}
    from corpus import K

    return gen.corpus_inputs(seed, inp, **size), {"k": K}


def workload_class(name: str):
    import importlib

    mod = importlib.import_module(name)
    return getattr(mod, name.capitalize())


def run_oracle(workload: str, inp: str, params: dict, work: str) -> dict:
    pp, out = os.path.join(work, "params.json"), os.path.join(work, "expected.json")
    with open(pp, "w") as f:
        json.dump(params, f)
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "oracle.py"), workload, inp, pp, out],
        cwd=ROOT, capture_output=True, text=True, timeout=170,
    )
    if r.returncode != 0:
        _fail(f"oracle failed:\n{r.stderr[-2000:]}")
    with open(out) as f:
        return json.load(f)


def stop_spark(spark) -> None:
    """Stop the context and wait for the JVM (and its Python workers)
    to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def warm_up(wl, cap_s: float) -> dict:
    passes: list[float] = []
    t0 = time.perf_counter()
    while True:
        passes.append(wl.warm_pass())
        if len(passes) >= WARM_MIN and passes[-1] >= WARM_FALL * min(passes[:-1]):
            break
        if time.perf_counter() - t0 > cap_s:
            break
    return {"passes": len(passes), "pass_s": [round(p, 4) for p in passes]}


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--fault", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    a = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    if not os.path.isdir(os.path.join(ROOT, "openset_spark")):
        _fail("run from the repository root: openset_spark/ not found")
    work = os.path.join(ROOT, ".osbench_work", f"{a.workload}-s{a.seed}-p{os.getpid()}")
    try:
        result, record = _run(a, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("record " + json.dumps(record, default=str))
    print(json.dumps(result))


def _run(a, work: str) -> tuple[dict, dict]:
    from meter import NULL_TRACER, Tracer, calibration_s

    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "size": a.size, "sizes": SIZES[a.size][a.workload]}
    record["host"] = host_env(work)
    record["calibration_s"] = round(calibration_s(), 4)
    record["source_digest"] = source_digest()
    phase = record["phase_s"] = {}
    t_phase = [time.perf_counter()]

    def mark(name: str) -> None:
        now = time.perf_counter()
        phase[name] = round(now - t_phase[0], 3)
        t_phase[0] = now

    inp = os.path.join(work, "input")
    t0 = time.perf_counter()
    inputs, params = make_inputs(a.workload, a.seed, inp, SIZES[a.size][a.workload])
    record["gen_s"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    expected = run_oracle(a.workload, inp, params, work)
    record["oracle_s"] = round(time.perf_counter() - t0, 3)
    side = None
    if a.trace and a.workload == "dashboard":
        # the write side of the same events, for the streaming layer
        side_inp = os.path.join(work, "input-ingest")
        side_inputs, side_params = make_inputs("ingest", a.seed, side_inp, SIZES[a.size]["ingest"])
        side = (side_inputs, run_oracle("ingest", side_inp, side_params, work))
    mark("inputs")

    from openset_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("osbench")
    session_start_s = time.perf_counter() - t0
    try:
        spark.range(1).count()  # the session's first job, outside every timing
        mark("session")
        cls = workload_class(a.workload)
        wl = cls(spark, inputs, expected, NULL_TRACER, bool(a.fault), a.seed, work)
        record["first_setup_s"] = wl.setup()
        record["warm_up"] = warm_up(wl, WARM_CAP_S[a.workload])
        mark("warm_up")
        # set-up is timed on a warm process: fresh constructions after
        # the warm-up, the last of which serves the measured phase
        setups = [wl.setup() for _ in range(SETUP_REPS[a.workload])]
        record["setup_samples_s"] = [round(s, 4) for s in setups]
        mark("setup")
        e2e = wl.measure(a.seconds)
        mark("measure")
        metrics = {"setup_s": (statistics.median(setups), "s"), **e2e}
        record["e2e"] = {k: v[0] for k, v in metrics.items()}
        if hasattr(wl, "op_ms"):
            record["op_ms"] = wl.op_ms  # median latency per panel call
        runs = [wl]
        if a.trace:
            tracer = Tracer()
            traced = cls(spark, inputs, expected, tracer, bool(a.fault), a.seed, work)
            metrics = traced.traced_run(a.seconds, session_start_s)
            base, with_trace = wl.mean_op_ms(), traced.mean_op_ms()
            record["trace_overhead"] = {
                "untraced_mean_op_ms": base,
                "traced_mean_op_ms": with_trace,
                "ratio": with_trace / base - 1,
            }
            metrics["trace.overhead_ratio"] = (with_trace / base - 1, "ratio")
            record["layers"] = traced.layer_record()
            runs.append(traced)
            if side is not None:
                from ingest import Ingest

                # one warm drain, then one traced drain
                ing = Ingest(spark, *side, tracer, bool(a.fault), a.seed, work)
                record["ingest_warm_up"] = warm_up(ing, 0.0)
                layers = ing.traced_run(0.0, session_start_s)
                metrics.update({k: v for k, v in layers.items() if k.startswith("streaming.")})
                record["ingest_layers"] = ing.layer_record()
                runs.append(ing)
            record["spans"] = {"count": len(tracer.spans), "nested": tracer.nested(),
                               "self_s": tracer.self_time_s()}
        attempted = sum(r.attempted for r in runs)
        failed = sum(r.failed for r in runs)
        record["errors"] = [e for r in runs for e in r.errors][:20]
        mark("traced")
    finally:
        stop_spark(spark)
    mark("stop")
    result = {
        "correct": failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, record


if __name__ == "__main__":
    main()
