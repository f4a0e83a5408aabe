"""Run counters/metrics — re-expression of internal/stats/stats.go:69-154
and the system_stats hypertable (schema.sql:49-66).

One row per run (or per checkpoint partition): monotone counters, distinct
gauges, and the per-msg-type histogram as ``array<long>`` length 10
(index = msg_type; out-of-range types silently dropped, stats.go:89-93).
uint64->int64 clamp semantics preserved (db/client.go:131-139):
``clamp_u64``/``clamp_read`` are the one persist/read-back clamp (q17).

A5, processing time (stats.go:128-132), is measured wall time and so not
a column here: the checkpoint manifests record it as ``proc_time_ms``."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sbse.session import frame_sql

I64_MAX = (1 << 63) - 1


def clamp_u64(col):
    """uint64 -> int64 persist clamp (db/client.go:131-139). Comparison in
    decimal(38,0) so values beyond int64 clamp instead of overflowing in
    the cast (the Go code compares in uint64 for the same reason)."""
    return F.least(
        col.cast("decimal(38,0)"), F.lit(I64_MAX).cast("decimal(38,0)")
    ).cast("bigint")


def clamp_read(col):
    """negative -> 0 read-back clamp (db/client.go:227-235)."""
    return F.greatest(col.cast("bigint"), F.lit(0))


def _count_if(cond: str) -> str:
    return f"CAST(sum(CASE WHEN {cond} THEN 1 ELSE 0 END) AS BIGINT)"


# The aggregate lists are SQL text and the whole build is one statement:
# a run_metrics build makes a few py4j round trips instead of ~1,300
# through the Column API (one per expression node).
_KEYED = "ok AND `key` IS NOT NULL"
_RUN_AGGS = [
    "count(1) AS total_rows",
    f"{_count_if('ok')} AS parsed_rows",
    f"{_count_if('NOT ok')} AS failed_rows",
    f"{_count_if(_KEYED)} AS stored_states",
    f"count(DISTINCT CASE WHEN {_KEYED} THEN "
    "concat_ws('|', source, CAST(`key` AS STRING)) END) AS active_keys",
    "array(" + ", ".join(_count_if(f"ok AND msg_type = {i}") for i in range(10))
    + ") AS msg_type_counts",
]
_SESSION_AGGS = [
    "count(1) AS created_sessions",
    f"{_count_if('ended_at IS NOT NULL')} AS ended_sessions",
    f"{_count_if('is_open')} AS active_sessions",
]
def run_metrics(decoded: DataFrame, sessions: DataFrame | None = None) -> DataFrame:
    """One row of run counters over ``decoded``, with the session counters
    over ``sessions`` beside them when it is given."""
    sql = f"SELECT {', '.join(_RUN_AGGS)} FROM {{decoded}}"
    frames = {"decoded": decoded}
    if sessions is not None:
        sql = (f"SELECT * FROM ({sql}) CROSS JOIN "
               f"(SELECT {', '.join(_SESSION_AGGS)} FROM {{sessions}})")
        frames["sessions"] = sessions
    return frame_sql(sql, **frames)
