"""Retention / expiry — re-expression of TimescaleDB retention policies
(internal/db/migrations/002_retention_policies.go:7-11: drop chunks older
than 30d/90d) and the logger's compress-yesterday lifecycle
(cmd/logger/main.go:199-231).

Two grains:
* DataFrame-level ``retain`` (predicate over bucket_start vs horizon), and
* partition-level ``expire_partitions`` — O(1) directory drops on a
  date-partitioned warehouse table, the Spark analog of hypertable chunk
  drops (no data rewrite).

Default horizons follow the reference: raw/1m 30 days, 1h/1d 90 days.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_HORIZON_DAYS = {"raw": 30, "1m": 30, "1h": 90, "1d": 90}


def retain(tier: DataFrame, now_ts: str, horizon_days: int,
           bucket_col: str = "bucket_start") -> DataFrame:
    """Rows younger than the horizon. ``now_ts`` is an explicit timestamp
    string — never wall clock (determinism)."""
    return tier.filter(
        F.col(bucket_col)
        >= F.to_timestamp(F.lit(now_ts)) - F.expr(f"interval {horizon_days} days")
    )


def expire_partitions(table_path: str, keep: callable) -> list[str]:
    """Drop partition directories (``<col>=<value>``) for which
    ``keep(value) is False``. Returns dropped partition values.

    This is the chunk-drop analog: deleting a closed date partition is a
    metadata/directory operation, no rewrite of surviving data."""
    dropped = []
    if not os.path.isdir(table_path):
        return dropped
    for entry in sorted(os.listdir(table_path)):
        full = os.path.join(table_path, entry)
        if not os.path.isdir(full) or "=" not in entry:
            continue
        value = entry.split("=", 1)[1]
        if not keep(value):
            shutil.rmtree(full)
            dropped.append(value)
    return dropped
