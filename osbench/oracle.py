"""Expected answers, computed in their own process before the timed run.

    python3 osbench/oracle.py <workload> <input_dir> <params.json> <out.json>

DuckDB answers the dashboard panel (reusing ``__spark_entry__``'s
oracle SQL where the question matches) and the ingest pipeline's batch
answer over the same JSON-lines files; NumPy answers the exact top-k
for the ANN queries; the planted duplicate families give the corpus
job's expected survivor set.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.getcwd())

from check import rows_from_duck  # noqa: E402


def _duck_rows(con, sql: str, rename: dict | None = None) -> list[dict]:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return rows_from_duck(cols, cur.fetchall(), rename)


def dashboard(inp: str, params: dict) -> dict:
    import duckdb

    import __spark_entry__
    import panel

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(
        f"CREATE TABLE ev_all AS SELECT * FROM read_parquet('{inp}/events.parquet/*.parquet')"
    )
    out = {}
    for op in panel.ops(__spark_entry__.oracle_sql(), params["lookup_users"], params["max_ts_ms"]):
        scope = f"WHERE {panel._SQL_SEGMENT_USERS[op.scope]}" if op.scope else ""
        con.execute(f"CREATE OR REPLACE VIEW events AS SELECT * FROM ev_all {scope}")
        if isinstance(op.sql, dict):
            out[op.name] = {k: _duck_rows(con, q, op.rename) for k, q in op.sql.items()}
        else:
            out[op.name] = _duck_rows(con, op.sql, op.rename)
    return out


_SQL_SESSIONS = """
WITH g AS (
  SELECT user_id, t,
    CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t) > {gap_us} THEN 1 ELSE 0 END AS nb
  FROM (SELECT user_id, epoch_us(ts) AS t FROM ev)),
s AS (
  SELECT user_id, t, SUM(nb) OVER (PARTITION BY user_id ORDER BY t ROWS UNBOUNDED PRECEDING) AS sid
  FROM g),
a AS (SELECT user_id, sid, MIN(t) AS st, MAX(t) AS en, COUNT(*) AS n FROM s GROUP BY 1, 2),
l AS (SELECT user_id, MAX(sid) AS last FROM a GROUP BY 1)
SELECT a.user_id, st, en, n FROM a JOIN l USING (user_id) WHERE sid < last
"""


def ingest(inp: str, params: dict) -> dict:
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(
        f"""CREATE TABLE ev AS SELECT * FROM read_json('{inp}/stream/*.json',
        format='newline_delimited', columns={{event_id: 'BIGINT', ts: 'TIMESTAMP',
        user_id: 'BIGINT', event_type: 'VARCHAR', value: 'DOUBLE', props: 'VARCHAR'}})"""
    )
    counts = con.execute(
        "SELECT event_type, COUNT(DISTINCT user_id), COUNT(*) FROM ev GROUP BY 1"
    ).fetchall()
    sessions = con.execute(_SQL_SESSIONS.format(gap_us=params["gap_ms"] * 1000)).fetchall()
    trans = con.execute(
        """SELECT DISTINCT user_id, 'buyers', 'enter' FROM ev WHERE event_type = 'purchase'
        UNION ALL SELECT DISTINCT user_id, 'clean', 'exit' FROM ev WHERE event_type = 'error'"""
    ).fetchall()
    return {
        "property_counts": {k: [p, n] for k, p, n in counts},
        "sessions": sorted([list(map(int, r)) for r in sessions]),
        "transitions": sorted([[int(u), s, t] for u, s, t in trans]),
        "events": con.execute("SELECT COUNT(*) FROM ev").fetchone()[0],
    }


def corpus(inp: str, params: dict) -> dict:
    import pyarrow.parquet as pq

    with open(os.path.join(inp, "corpus_meta.json")) as f:
        meta = json.load(f)
    losers = {i for fam in meta["families"] for i in fam[1:]}
    keep = sorted(set(meta["candidates_keep"]) - losers)
    emb = pq.read_table(os.path.join(inp, "embeddings.parquet"))
    ids = emb["vec_id"].to_numpy()
    vec = np.array(emb["embedding"].to_pylist(), dtype=np.float64)
    q = np.load(os.path.join(inp, "queries.npy"))
    sims = (q @ vec.T) / np.outer(np.linalg.norm(q, axis=1), np.linalg.norm(vec, axis=1))
    k = params["k"]
    top = np.argsort(-sims, axis=1, kind="stable")[:, :k]
    return {
        "keep": keep,
        "families": meta["families"],
        "topk": [[int(ids[j]) for j in row] for row in top],
    }


def main(argv: list[str]) -> None:
    workload, inp, params_path, out = argv
    with open(params_path) as f:
        params = json.load(f)
    res = {"dashboard": dashboard, "ingest": ingest, "corpus": corpus}[workload](inp, params)
    with open(out, "w") as f:
        json.dump(res, f)


if __name__ == "__main__":
    main(sys.argv[1:])
