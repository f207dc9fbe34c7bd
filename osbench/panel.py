"""The dashboard panel: REST-shaped engine calls and their oracle SQL.

Each ``Op`` pairs one call into ``OpenSetEngine`` (or the OSL compiler
it fronts) with the DuckDB query that answers it. Where a registry key
of ``__spark_entry__`` asks the same question, its ``oracle_sql()``
text is reused verbatim. This module is imported by the benchmark
process and by the oracle process; it starts no JVM.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

# Named segments registered at set-up. Their membership is cached by
# the engine's segment store and expires ``SEGMENT_TTL_S`` after it was
# computed; the store read advances the clock by ``CLOCK_STEP_S``, so
# one store read in ``SEGMENT_TTL_S / CLOCK_STEP_S`` finds it expired.
SEGMENT_TTL_S = 120
CLOCK_STEP_S = 60
SETUP_SEGMENTS = f"""
@segment buyers ttl={SEGMENT_TTL_S}_seconds
if event.ever(== "purchase")
  return(true)
end

@segment clean ttl={SEGMENT_TTL_S}_seconds
if event.never(== "error")
  return(true)
end
"""
_SQL_SEGMENT_USERS = {
        "clean": "user_id NOT IN (SELECT user_id FROM ev_all WHERE event_type = 'error')",
}

OSL_EVENT_AGG = """
select
  count id
  sum price as total_value
end

each_row where event.is(== "purchase")
  << event, get_year(stamp)
end
"""

OSL_COUNTS = """
@segment purchasers use_cached=True refresh=5_minutes
if event.ever(== "purchase")
  return(true)
end

@segment engaged z_index=100
if event.ever(any ["click", "view"]) && event.never(== "error")
  return(true)
end

@segment quiet use_cached=True
if event.never(any ["purchase", "click"])
  return(true)
end
"""

OSL_BATCH = (
    "@segment bigbuyers\n"
    'if event.ever(== "purchase")\n  return(true)\nend\n'
    "@use bigbuyers\n"
    "@property event_type\n"
)

_SQL_STORE_COUNTS = """
SELECT 'buyers' AS segment, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS people
FROM ev_all WHERE event_type = 'purchase'
UNION ALL
SELECT 'clean', CAST(COUNT(*) AS BIGINT) FROM (
  SELECT user_id FROM ev_all GROUP BY user_id
  HAVING MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) = 0)
"""

_SQL_BATCH = {
    "segments": """
SELECT 'bigbuyers' AS segment, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS people
FROM events WHERE event_type = 'purchase'""",
    "property:event_type": """
WITH b AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
SELECT event_type AS value, COUNT(DISTINCT user_id) AS people,
  COUNT(DISTINCT CASE WHEN user_id IN (SELECT user_id FROM b) THEN user_id END) AS bigbuyers_people
FROM events GROUP BY 1""",
}


@dataclass
class Op:
    """One panel call. ``build(ctx)`` returns a DataFrame, or a dict of
    named DataFrames for the batch endpoint. ``sql`` is the oracle
    (per frame for a dict). ``scope`` restricts the oracle's ``events``
    view to one named segment's users. ``ordered`` results are compared
    row by row in order; the rest as multisets."""

    name: str
    build: Callable
    sql: str | dict
    scope: str | None = None
    ordered: bool = False
    rename: dict = field(default_factory=dict)
    segment_read: bool = False


def ops(oracle: dict[str, str], lookup_users: list[int], max_ts_ms: int) -> list[Op]:
    """The panel. ``oracle`` is ``__spark_entry__.oracle_sql()``."""
    from pyspark.sql import functions as F

    def two_dim():
        return ["event_type", F.dayofweek("ts").cast("long").alias("dow")]

    steps = lambda: [F.col("event_type") == s for s in ("signup", "click", "purchase")]  # noqa: E731
    out = [
        Op("event_by_type", lambda c: c.eng.event_query(
            group_by=["event_type"],
            aggs=[("count", "event_id", "events"), ("sum", "value", "total_value")]),
            oracle["event_agg_by_type"]),
        Op("event_rollup", lambda c: c.eng.event_query(
            group_by=two_dim(), aggs=[("count", "event_id", "events")], rollup=True),
            oracle["event_agg_rollup"]),
        Op("osl_event_agg", lambda c: c.osl(OSL_EVENT_AGG, column_map={"price": "value"}),
           oracle["osl_event_agg"]),
        Op("counts_query", lambda c: c.eng.counts_query(OSL_COUNTS), oracle["osl_segment_counts"]),
        Op("segment_store_counts", lambda c: c.eng.segment_store.counts(
            ["buyers", "clean"], now_ms=c.tick()), _SQL_STORE_COUNTS, segment_read=True),
        Op("funnel_clean", lambda c: c.eng.funnel(steps(), segments=["clean"]),
           oracle["funnel_signup_purchase"], scope="clean", segment_read=True),
        Op("property_plain", lambda c: c.eng.property_counts("event_type"),
           oracle["property_counts"], rename={"prop_value": "value"}),
        Op("property_rx", lambda c: c.eng.property_counts("event_type", rx="^(p|c)"),
           oracle["property_counts_rx"], rename={"prop_value": "value"}),
        Op("property_bucketed", lambda c: c.eng.property_counts("value", bucket=50.0),
           oracle["property_counts_bucketed"], rename={"bucket_lo": "value"}),
        Op("histogram_weeks", lambda c: c.eng.histogram_query(
            "return( to_weeks(now - last_stamp) )", bucket=1.0, now_ms=max_ts_ms,
            name="weeks_since"), oracle["osl_histogram_weeks"]),
        Op("retention_week", lambda c: c.eng.retention("week"), oracle["weekly_retention"]),
        Op("paths", lambda c: c.eng.paths(3, 10), oracle["top_paths"]),
        Op("batch_osl", lambda c: c.eng.batch_osl(OSL_BATCH, now_ms=0), _SQL_BATCH),
    ]
    for u in lookup_users:
        out.append(Op(
            f"customer_{u}", lambda c, u=u: c.eng.customer(u),
            oracle["customer_timeline"].replace("user_id = 7", f"user_id = {int(u)}"),
            ordered=True,
        ))
    return out
