"""Retention / expiry — re-expression of TimescaleDB retention policies
(internal/db/migrations/002_retention_policies.go:7-11: drop chunks older
than 30d/90d) and the logger's compress-yesterday lifecycle
(cmd/logger/main.go:199-231).

``retain`` is the DataFrame-level grain: a predicate over bucket_start vs
the horizon. The partition-level grain — O(1) directory drops on a
date-partitioned warehouse table, the Spark analog of hypertable chunk
drops (no data rewrite) — is ``catalog.expire_partitions``.

Callers pass the horizon; the reference's are raw/1m 30 days, 1h/1d 90 days.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def retain(tier: DataFrame, now_ts: str, horizon_days: int) -> DataFrame:
    """Rows whose ``bucket_start`` is younger than the horizon. ``now_ts``
    is an explicit timestamp string — never wall clock (determinism)."""
    return tier.filter(
        F.col("bucket_start")
        >= F.to_timestamp(F.lit(now_ts)) - F.expr(f"interval {horizon_days} days")
    )
