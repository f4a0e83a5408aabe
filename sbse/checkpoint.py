"""Per-partition checkpointing with lineage + metrics manifests.

Re-expression of the reference's durability machinery — the migrations
applied-ledger (internal/db/migrations/migrations.go:112-135: ordered,
idempotent, skip-if-applied) and the periodic stats persistence (tracker
main.go:90) — as a partition-grain resume protocol:

* input is split into N deterministic content-hash partitions
  (``pmod(xxhash64(source, entity_key), N)`` — stable across runs AND
  cluster sizes);
* ALL partition fingerprints are computed in ONE pass
  (``partition_fingerprints``: groupBy(ck_part) + commutative bit_xor of a
  full-content row hash — doc_id, n_tok AND the token array, so changed
  token contents invalidate a partition even when ids/lengths collide);
* partitions that need compute are staged ONCE via
  ``write.partitionBy(ck_part)`` (a cold run scans the raw input exactly
  once; each per-partition pipeline then reads only its own pruned
  ``ck_part=<p>/`` directory — the hash predicate alone cannot prune files);
* each partition runs the full pipeline and atomically writes its outputs
  under ``<warehouse>/<table>/ck_part=<p>/`` (tables with a time column are
  further date-partitioned ``log_date=yyyy-MM-dd`` — the catalog layout, so
  retention drops and range scans prune without rewrites) plus a JSON
  manifest ``<warehouse>/_manifests/<run_id>/part-<p>.json`` recording
  lineage (input fingerprint, row counts) and metrics (duration, output
  rows via ``df.observe`` — counted DURING the write, never re-read);
* a resumed run skips every partition whose manifest exists and whose input
  fingerprint still matches — a fully-skipped resume costs exactly ONE
  Spark job (the fingerprint pass; asserted in test_checkpoint).

At cluster scale each "partition" is a coarse unit of work (e.g. a day of
data, thousands of Spark tasks), so the driver-side loop is control-plane
only.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from sbse.skew import checkpoint_partition

# Output tables that carry a time column get the catalog's date layout.
DATE_COLS = {
    "states": "ts",
    "sessions": "started_at",
    "rollup_1m": "bucket_start",
    "rollup_1h": "bucket_start",
    "rollup_1d": "bucket_start",
    "gapfill_1h": "bucket_start",
}


def partition_fingerprints(labeled: DataFrame, id_col: str = "doc_id") -> dict:
    """Order-insensitive content fingerprints for EVERY ck_part in one scan:
    {part: (row_count, bit_xor(xxhash64(id, n_tok, tokens)))}. bit_xor is
    commutative — identical no matter how the data is partitioned. Empty
    partitions are simply absent (callers treat missing as (0, 0))."""
    rows = (
        labeled.groupBy("ck_part")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(f"bit_xor(xxhash64({id_col}, n_tok, tokens))").alias("h"),
        )
        .collect()
    )
    return {
        int(r["ck_part"]): (int(r["n"]), int(r["h"]) if r["h"] is not None else 0)
        for r in rows
    }


def _manifest_path(warehouse: str, run_id: str, part: int) -> str:
    return os.path.join(warehouse, "_manifests", run_id, f"part-{part}.json")


def _write_output(df: DataFrame, table: str, path: str) -> int:
    """Write one output table, returning its row count from an Observation
    (metrics collected by the write job itself — no post-write re-read)."""
    obs = Observation(f"rows_{table}")
    observed = df.observe(obs, F.count(F.lit(1)).alias("n"))
    date_col = DATE_COLS.get(table)
    if date_col and date_col in df.columns:
        (
            observed.withColumn("log_date", F.date_format(date_col, "yyyy-MM-dd"))
            .write.mode("overwrite").partitionBy("log_date").parquet(path)
        )
    else:
        observed.write.mode("overwrite").parquet(path)
    return int(obs.get["n"])


def run_partitioned(
    token_df: DataFrame,
    pipeline_fn: Callable[[DataFrame], dict[str, DataFrame]],
    warehouse: str,
    run_id: str,
    n_parts: int = 4,
) -> dict:
    """Run ``pipeline_fn`` per checkpoint partition; resume-safe.

    Returns a summary dict {partition: 'computed'|'skipped'}."""
    os.makedirs(os.path.join(warehouse, "_manifests", run_id), exist_ok=True)
    labeled = checkpoint_partition(token_df, n_parts)
    fps = partition_fingerprints(labeled)
    summary: dict[int, str] = {}

    # Pass 1 (control plane): decide which partitions need compute.
    todo: list[int] = []
    for p in range(n_parts):
        mpath = _manifest_path(warehouse, run_id, p)
        n, h = fps.get(p, (0, 0))
        if os.path.exists(mpath):
            with open(mpath) as f:
                manifest = json.load(f)
            if manifest["input_rows"] == n and manifest["input_hash"] == h:
                summary[p] = "skipped"
                continue
        todo.append(p)
    if not todo:
        return summary

    # Stage the needed partitions ONCE, partitionBy(ck_part): the hash
    # predicate `ck_part == p` cannot prune files on the raw input, so the
    # round-2 per-partition filter cost n_parts full input scans on a cold
    # run. One up-front write turns that into 1 scan + n_parts
    # partition-PRUNED reads (each subset's inputFiles live under its own
    # ck_part=<p>/ dir — asserted in test_checkpoint). Scratch data; removed
    # after a fully successful run.
    import shutil

    spark = token_df.sparkSession
    staging = os.path.join(warehouse, "_staging", run_id)
    if any(fps.get(p, (0, 0))[0] > 0 for p in todo):
        (
            labeled.filter(F.col("ck_part").isin([int(p) for p in todo]))
            .write.mode("overwrite").partitionBy("ck_part").parquet(staging)
        )
        staged = spark.read.parquet(staging)
    else:
        # Every todo partition is empty (e.g. an empty input table): the
        # partitionBy write produces no files and reading the staging dir
        # would fail with UNABLE_TO_INFER_SCHEMA — run the (empty) subsets
        # straight off the labeled frame instead.
        staged = labeled

    for p in todo:
        mpath = _manifest_path(warehouse, run_id, p)
        n, h = fps.get(p, (0, 0))
        t0 = time.monotonic()
        subset = staged.filter(F.col("ck_part") == p).drop("ck_part")
        outputs = pipeline_fn(subset)
        out_meta = {}
        for table, df in outputs.items():
            path = os.path.join(warehouse, table, f"ck_part={p}")
            out_meta[table] = {"path": path, "rows": _write_output(df, table, path)}
        dur_s = time.monotonic() - t0
        manifest = {
            "run_id": run_id,
            "partition": p,
            "input_rows": n,
            "input_hash": h,
            "outputs": out_meta,
            "duration_s": round(dur_s, 3),
            # A5 processing-time counter, u64->i64 persist clamp
            # (stats.go:128-132; db/client.go:131-139)
            "proc_time_ms": min(int(dur_s * 1000), (1 << 63) - 1),
        }
        tmp = mpath + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        os.replace(tmp, mpath)  # atomic: manifest exists only if outputs do
        summary[p] = "computed"
    shutil.rmtree(staging, ignore_errors=True)  # success: staging is scratch
    return summary
