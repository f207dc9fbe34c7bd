"""``corpus``: the LLM-data pipeline as whole batch jobs.

Set-up loads the documents and embeddings and builds the IVF index.
One job is ``prepare_corpus`` (clean, language and quality filters,
exact and transitive MinHash dedup, leakage-safe split) collected,
then ``ivf_topk`` for a fixed query set against the set-up index.
Jobs run back to back, one client.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

from gen import KEEP_LANGS
from meter import SparkCounters, empty_layers, exec_layers, pct, retained_pss_mb, shape_layers, tree_cpu_s

K = 10
N_LISTS = 16
NPROBE = 4
SPLITS = {"train": 0.8, "val": 0.1, "test": 0.1}
MIN_RECALL = 0.8
# Every run times at least this many jobs, even past ``--seconds``, so
# a slow host does not halve the sample.
MIN_JOBS = 2


class Corpus:
    name = "corpus"

    def __init__(self, spark, inputs: dict, expected: dict, tracer, fault: bool, seed: int, work: str) -> None:
        import pyarrow.parquet as pq

        self.spark = spark
        self.inputs = inputs
        self.expected = expected
        self.tracer = tracer
        self.fault = fault
        self.counters = SparkCounters(spark) if tracer.enabled else None
        d = inputs["dir"]
        emb = pq.read_table(os.path.join(d, "embeddings.parquet"))
        self.vec = {int(i): np.asarray(v, dtype=np.float64)
                    for i, v in zip(emb["vec_id"].to_pylist(), emb["embedding"].to_pylist())}
        self.qvec = np.load(os.path.join(d, "queries.npy"))
        self.index = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.jobs: list[dict] = []
        self.n = 0

    def setup(self) -> float:
        """Load documents and embeddings, build and materialize the IVF
        index, and stage the query vectors."""
        from pyspark.sql import functions as F

        from openset_spark.pipeline.similarity import ivf_index
        from openset_spark.sources.tables import load_table

        if self.index is not None:
            self.index[0].unpersist()
        tr, d = self.tracer, self.inputs["dir"]
        t0 = time.perf_counter()
        with tr.span("sources.load"):
            docs = load_table(self.spark, d, "documents")
            emb = load_table(self.spark, d, "embeddings").withColumn(
                "embedding", F.col("embedding").cast("array<double>"))
        with tr.span("pipeline.ivf_index"):
            assigned, cents = ivf_index(emb, n_lists=N_LISTS)
            assigned = assigned.localCheckpoint()
        self.queries = self.spark.createDataFrame(
            [(i, [float(x) for x in q]) for i, q in enumerate(self.qvec)],
            "query_id long, embedding array<double>",
        )
        dt = time.perf_counter() - t0
        self.docs, self.index = docs, (assigned, cents)
        return dt

    def job(self) -> float:
        from openset_spark.pipeline.compose import prepare_corpus
        from openset_spark.pipeline.similarity import ivf_topk

        tr, c = self.tracer, self.counters
        self.n += 1
        rec: dict = {}
        t0 = time.perf_counter()
        with tr.span("job", f"j{self.n}"):
            if c:
                c.group(f"j{self.n}-prepare")
            with tr.span("pipeline.prepare"):
                prepared = prepare_corpus(
                    self.docs, languages=KEEP_LANGS, min_quality=0.5,
                    transitive=True, split_fractions=SPLITS,
                ).select("doc_id", "clean_text", "split")
                if c:
                    rec["qe_prepare"] = c.force_plan(prepared)
                rows = prepared.collect()
            if c:
                c.group(f"j{self.n}-ann")
            with tr.span("pipeline.ann_query"):
                top = ivf_topk(None, self.queries, k=K, n_lists=N_LISTS, nprobe=NPROBE, index=self.index)
                if c:
                    rec["qe_ann"] = c.force_plan(top)
                hits = top.collect()
        dt = time.perf_counter() - t0
        if c:
            rec["prepare"] = c.stage_totals(f"j{self.n}-prepare")
            rec["ann"] = c.stage_totals(f"j{self.n}-ann")
        rec["kept"] = len(rows)
        rec["recall"] = self._check(rows, hits)
        rec["s"] = dt
        self.jobs.append(rec)
        return dt

    def _check(self, rows, hits) -> float:
        exp = self.expected
        ids = [r.doc_id for r in rows]
        if self.fault and self.attempted == 0:
            ids = ids[1:]
        errs = []
        if sorted(ids) != exp["keep"]:
            errs.append(f"prepared ids differ from expected ({len(ids)} vs {len(exp['keep'])})")
        norm = [" ".join(r.clean_text.lower().split()) for r in rows]
        if len(set(norm)) != len(norm):
            errs.append("exact duplicates survive")
        split = {r.doc_id: r.split for r in rows}
        if set(split.values()) - set(SPLITS):
            errs.append("unknown split")
        for fam in exp["families"]:
            kept = [i for i in fam if i in split]
            if kept != [fam[0]]:
                errs.append(f"family {fam} kept {kept}")
                break
        # ANN: ranks 1..K per query and each score is the exact cosine
        by_q: dict[int, list] = {}
        for h in hits:
            by_q.setdefault(h.query_id, []).append(h)
        recall = []
        for qi, want in enumerate(exp["topk"]):
            got = sorted(by_q.get(qi, []), key=lambda h: h.rank)
            if [h.rank for h in got] != list(range(1, K + 1)):
                errs.append(f"query {qi}: ranks {[h.rank for h in got]}")
                break
            q = self.qvec[qi]
            for h in got:
                v = self.vec[h.vec_id]
                cos = float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v)))
                if abs(cos - h.cos_sim) > 1e-9:
                    errs.append(f"query {qi}: vec {h.vec_id} cos {h.cos_sim} != {cos}")
                    break
            recall.append(len({h.vec_id for h in got} & set(want)) / K)
        mean_recall = sum(recall) / max(1, len(recall))
        if mean_recall < MIN_RECALL:
            errs.append(f"ANN recall@{K} {mean_recall:.3f} < {MIN_RECALL}")
        self.attempted += 2
        if errs:
            self.failed += 1
            self.errors.extend(errs[:3])
        return mean_recall

    # ---------------------------------------------------- the phases
    def warm_pass(self) -> float:
        return self.job()

    def measure(self, seconds: float) -> dict:
        c = SparkCounters(self.spark)
        c.group("measured")
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        self.jobs = []
        while len(self.jobs) < MIN_JOBS or time.perf_counter() - t0 < seconds:
            self.job()
        cpu = tree_cpu_s() - cpu0
        rows = c.stage_totals("measured")["input_rows"]
        ms = [1e3 * j["s"] for j in self.jobs]
        return {
            "latency_p50_ms": (pct(ms, 0.5), "ms"),
            "latency_p90_ms": (pct(ms, 0.9), "ms"),
            "throughput_per_s": (self.inputs["docs"] / statistics.median(j["s"] for j in self.jobs), "1/s"),
            "cpu_us_per_row": (1e6 * cpu / max(rows, 1), "us"),
            "retained_pss_mb": (retained_pss_mb(self.spark), "MB"),
        }

    def mean_op_ms(self) -> float:
        return 1e3 * statistics.mean(j["s"] for j in self.jobs)

    def traced_run(self, seconds: float, session_start_s: float) -> dict:
        tr = self.tracer
        self.setup()
        t0 = time.perf_counter()
        self.jobs = []
        while len(self.jobs) < MIN_JOBS or time.perf_counter() - t0 < seconds:
            self.job()
        jobs, n = self.jobs, len(self.jobs)
        c = self.counters
        ex = [e for j in jobs for e in (j["prepare"], j["ann"])]
        shape = [c.plan_shape(jobs[0][k]) for k in ("qe_prepare", "qe_ann")]
        phases = [c.phases_ms(j[k]) for j in jobs for k in ("qe_prepare", "qe_ann")]
        job_ms = 1e3 * tr.total_s("job")
        pairs, precision = self._candidate_pairs()
        out = empty_layers()
        out.update({
            "session.start_s": (session_start_s, "s"),
            "sources.load_ms": (1e3 * tr.total_s("sources.load"), "ms"),
            "catalyst.analysis_ms": (sum(p["analysis"] for p in phases) / n, "ms"),
            "catalyst.optimizer_ms": (sum(p["optimization"] for p in phases) / n, "ms"),
            "catalyst.planning_ms": (sum(p["planning"] for p in phases) / n, "ms"),
            "exec.action_ms": (job_ms / n, "ms"),
            **exec_layers(ex, n, job_ms),
            "python.bytes": (sum(c.python_bytes(j[k].executedPlan()) for j in jobs
                                 for k in ("qe_prepare", "qe_ann")) / n, "bytes"),
            **shape_layers(shape),
            "collect.rows": (sum(j["kept"] for j in jobs) / n + K * len(self.qvec), "rows"),
            "pipeline.prepare_ms": (1e3 * tr.total_s("pipeline.prepare") / n, "ms"),
            "pipeline.ivf_index_ms": (1e3 * tr.total_s("pipeline.ivf_index"), "ms"),
            "pipeline.ann_query_ms": (1e3 * tr.total_s("pipeline.ann_query") / n, "ms"),
            "pipeline.candidate_pairs": (pairs, "count"),
            "pipeline.dup_precision": (precision, "ratio"),
            "pipeline.kept_ratio": (jobs[0]["kept"] / self.inputs["docs"], "ratio"),
            "pipeline.ann_recall": (jobs[0]["recall"], "ratio"),
        })
        return out

    def _candidate_pairs(self) -> tuple[int, float]:
        """MinHash candidate pairs over the cleaned corpus, and the share
        of them that fall inside one planted family."""
        from openset_spark.pipeline.cleaning import clean_documents
        from openset_spark.pipeline.dedup import minhash_candidates

        with self.tracer.span("pipeline.candidates"):
            pairs = minhash_candidates(clean_documents(self.docs), text_col="clean_text").collect()
        fam = {i: k for k, f in enumerate(self.expected["families"]) for i in f}
        true = sum(1 for p in pairs if p.id_a in fam and fam.get(p.id_a) == fam.get(p.id_b))
        return len(pairs), true / max(1, len(pairs))

    def layer_record(self) -> dict:
        j = self.jobs[0]
        c = self.counters
        return {
            "jobs": len(self.jobs),
            "job_s": [round(x["s"], 4) for x in self.jobs],
            "prepare": {"exec": j["prepare"], "shape": c.plan_shape(j["qe_prepare"])},
            "ann": {"exec": j["ann"], "shape": c.plan_shape(j["qe_ann"])},
        }
