"""Partitioned warehouse layer — the Iceberg-model analog of the reference's
TimescaleDB hypertable chunking (migrations/001_initial_schema.go:14-31
create_hypertable; 002_retention_policies.go:7-11 chunk drops).

Tables are written date-partitioned (``log_date=yyyy-MM-dd`` directories,
derived from the table's time column), with snapshot manifests recording
per-partition row counts and time-column min/max — Iceberg-style metadata
that lets planners answer "what is the newest bucket" and "which partitions
can this range scan touch" WITHOUT scanning data:

* ``write_partitioned``  — partitionBy(log_date) zstd overwrite + snapshot
  manifest (one small groupBy(log_date) stats job; tier tables are
  ~1e3-1e5x smaller than raw so this is control-plane-grade).
* ``read_partitioned``   — date-range read whose filter lands in the scan's
  PartitionFilters (verified by test_catalog plan check): a 240 h retention
  scan over years of history touches only the surviving date dirs.
* ``expire_partitions``  — the chunk-drop analog: O(1) directory removals of
  wholly-expired dates (works through nested ``ck_part=*/log_date=*``
  layouts), no rewrite of survivors; appends a new snapshot.
* ``refresh_tier``       — continuous-aggregate refresh
  (002_retention_policies.go:13-37): recompute ONLY the dirty bucket window
  from raw and dynamic-partition-overwrite the affected dates; untouched
  date dirs are not rewritten.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LOG_DATE = "log_date"


# ---------------------------------------------------------------------------
# snapshots
# ---------------------------------------------------------------------------

def _snap_dir(path: str) -> str:
    return os.path.join(path, "_snapshots")


def _next_snapshot_id(path: str) -> int:
    d = _snap_dir(path)
    if not os.path.isdir(d):
        return 0
    ids = [int(f[5:-5]) for f in os.listdir(d)
           if f.startswith("snap-") and f.endswith(".json")]
    return max(ids) + 1 if ids else 0


def current_snapshot(path: str) -> dict | None:
    """Latest snapshot manifest, or None. Control-plane JSON read."""
    d = _snap_dir(path)
    sid = _next_snapshot_id(path) - 1
    if sid < 0:
        return None
    with open(os.path.join(d, f"snap-{sid}.json")) as f:
        return json.load(f)


def _write_snapshot(path: str, partitions: dict, op: str) -> dict:
    os.makedirs(_snap_dir(path), exist_ok=True)
    sid = _next_snapshot_id(path)
    snap = {
        "snapshot_id": sid,
        "op": op,
        "partitions": partitions,  # {log_date: {rows, ts_min, ts_max}}
        "total_rows": sum(p["rows"] for p in partitions.values()),
        "ts_max": max((p["ts_max"] for p in partitions.values()), default=None),
        "ts_min": min((p["ts_min"] for p in partitions.values()), default=None),
    }
    tmp = os.path.join(_snap_dir(path), f"snap-{sid}.json.tmp")
    with open(tmp, "w") as f:
        json.dump(snap, f, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(_snap_dir(path), f"snap-{sid}.json"))
    return snap


def _partition_stats(df: DataFrame, date_col: str) -> dict:
    rows = (
        df.groupBy(F.date_format(date_col, "yyyy-MM-dd").alias(LOG_DATE))
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.min(date_col).cast("string").alias("ts_min"),
            F.max(date_col).cast("string").alias("ts_max"),
        )
        .collect()
    )
    stats = {
        r[LOG_DATE]: {"rows": int(r["rows"]), "ts_min": r["ts_min"],
                      "ts_max": r["ts_max"]}
        for r in rows
    }
    if None in stats:
        # A NULL time value would land in __HIVE_DEFAULT_PARTITION__, break
        # max()/min() over the snapshot stats, and then be silently dropped
        # by every range read — refuse loudly instead (detected inside the
        # same stats job; no extra scan).
        raise ValueError(
            f"{stats[None]['rows']} row(s) have NULL {date_col!r}; a "
            f"partitioned table's time column must be non-null — filter or "
            f"repair upstream"
        )
    return stats


# ---------------------------------------------------------------------------
# write / read
# ---------------------------------------------------------------------------

def write_partitioned(
    df: DataFrame,
    path: str,
    date_col: str = "bucket_start",
) -> dict:
    """Overwrite ``path`` with ``df`` date-partitioned (zstd parquet) and
    append a snapshot manifest. Returns the snapshot."""
    # one computation of df for BOTH the stats job and the write (round 6:
    # the stats job used to recompute the whole upstream chain — for q14
    # that was a second full decode+LOCF pass); the checkpoint also keeps
    # the refuse-before-write NULL contract intact, since the stats job
    # still runs before any file is touched.
    df = df.localCheckpoint(eager=False)
    stats = _partition_stats(df, date_col)
    (
        df.withColumn(LOG_DATE, F.date_format(date_col, "yyyy-MM-dd"))
        .write.mode("overwrite")
        .partitionBy(LOG_DATE)
        .option("compression", "zstd")
        .parquet(path)
    )
    return _write_snapshot(path, stats, op="overwrite")


def read_partitioned(
    spark: SparkSession,
    path: str,
    start: str | None = None,
    end: str | None = None,
) -> DataFrame:
    """Read with an inclusive [start, end] date range on the partition
    column — the filter is a partition filter (pruning, not data scan).
    ``start``/``end`` are 'yyyy-MM-dd' strings."""
    df = spark.read.parquet(path)
    dt = dict(df.dtypes)[LOG_DATE]
    def lit(v):
        return F.to_date(F.lit(v)) if dt == "date" else F.lit(v)
    if start is not None:
        df = df.filter(F.col(LOG_DATE) >= lit(start))
    if end is not None:
        df = df.filter(F.col(LOG_DATE) <= lit(end))
    return df


# ---------------------------------------------------------------------------
# retention: O(1) partition drops (hypertable chunk-drop analog)
# ---------------------------------------------------------------------------

def _date_dirs(path: str):
    """Yield (dirpath, date_value) for every log_date=... directory, at the
    top level or nested one deep (ck_part=*/log_date=*)."""
    if not os.path.isdir(path):
        return
    for entry in sorted(os.listdir(path)):
        full = os.path.join(path, entry)
        if not os.path.isdir(full):
            continue
        if entry.startswith(f"{LOG_DATE}="):
            yield full, entry.split("=", 1)[1]
        elif "=" in entry:  # nested layout, e.g. ck_part=3/log_date=...
            for sub in sorted(os.listdir(full)):
                subfull = os.path.join(full, sub)
                if os.path.isdir(subfull) and sub.startswith(f"{LOG_DATE}="):
                    yield subfull, sub.split("=", 1)[1]


def expire_partitions(path: str, keep_from: str) -> list[str]:
    """Drop every log_date partition strictly older than ``keep_from``
    ('yyyy-MM-dd'). Directory removals only — surviving partitions are not
    rewritten (asserted by mtime in test_catalog). Appends a snapshot with
    the surviving partition set."""
    dropped = []
    for full, value in list(_date_dirs(path)):
        if value < keep_from:
            shutil.rmtree(full)
            dropped.append(value)
    snap = current_snapshot(path)
    if snap:
        survivors = {d: s for d, s in snap["partitions"].items()
                     if d >= keep_from}
        _write_snapshot(path, survivors, op="expire")
    return sorted(set(dropped))


# ---------------------------------------------------------------------------
# continuous-aggregate refresh (dirty-bucket recompute)
# ---------------------------------------------------------------------------

def refresh_tier(
    states: DataFrame,
    tier_path: str,
    unit: str,
    dirty_start: str,
    dirty_end: str,
) -> dict:
    """Refresh a stored rollup tier for the dirty window only — the
    TimescaleDB continuous-aggregate refresh shape
    (002_retention_policies.go:13-37): buckets inside [dirty_start,
    dirty_end] (dates, inclusive) are recomputed FROM RAW states and written
    with dynamic partition overwrite, so untouched date partitions are not
    rewritten. The states input should itself be a pruned read of the raw
    table (pass the same date range to read_partitioned)."""
    from sbse.rollup import bucket_rollup

    spark = states.sparkSession
    sub = states.filter(
        F.date_format(F.date_trunc(unit, "ts"), "yyyy-MM-dd")
        .between(dirty_start, dirty_end)
    )
    tier = bucket_rollup(sub, unit)
    stats = _partition_stats(tier, "bucket_start")
    prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            tier.withColumn(LOG_DATE, F.date_format("bucket_start", "yyyy-MM-dd"))
            .write.mode("overwrite")
            .partitionBy(LOG_DATE)
            .parquet(tier_path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
    prev = current_snapshot(tier_path)
    merged = dict(prev["partitions"]) if prev else {}
    merged.update(stats)  # refreshed dates replace their stats wholesale
    return _write_snapshot(tier_path, merged, op="refresh")
