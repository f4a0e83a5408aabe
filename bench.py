"""Bench harness — prints ONE JSON line.

Times the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], plus an end-to-end
rollup-throughput measure (sequences/sec) over a materialized synthetic
token table (the engine's real input shape, read from parquet like the
Iceberg table it models).

Measurement discipline (round-3 lesson: a contended host silently poisoned
BENCH_r03 with 3-10x inflated numbers):
* every timed segment samples /proc/stat around itself and records the
  hypervisor-steal percentage for exactly that window;
* each query runs SBSE_BENCH_RUNS times (default 3) and reports the
  best-of-N (the run least hurt by transient contention); the pipeline runs
  SBSE_BENCH_PIPE_RUNS times (default 2), each timed from the
  ``run_pipeline`` call, whose build runs the barrier jobs, to the last
  output's count;
* REFUSE-AND-RETRY (round 5, VERDICT r4 #7): a timed segment whose steal
  window exceeds 2% is recorded but NOT trusted — if a query has no quiet
  run after its N, up to SBSE_BENCH_MAX_RETRIES (default 6) extra runs are
  added until one lands in a quiet window. The reported best-of is the best
  QUIET run when any exists; ``contended`` is true only if some query never
  got a quiet window at all, so the artifact converges to contended=false
  without human judgment whenever the host offers any quiet air;
* the JSON carries a ``host`` block — steal lo/hi over all segments, per-
  query steal lists, retry counts, load averages, and the ``contended``
  flag — so a poisoned artifact is self-identifying instead of silently
  wrong.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
if HERE not in sys.path:
    sys.path.insert(0, HERE)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SYNTH_ROWS = int(os.environ.get("SBSE_BENCH_SYNTH_ROWS", "2000000"))
N_RUNS = int(os.environ.get("SBSE_BENCH_RUNS", "3"))
N_PIPE_RUNS = int(os.environ.get("SBSE_BENCH_PIPE_RUNS", "2"))
MAX_RETRIES = int(os.environ.get("SBSE_BENCH_MAX_RETRIES", "6"))
STEAL_CONTENDED_PCT = 2.0

HEADLINE = [
    "q01_decode",
    "q03_state_final",
    "q04_sessions_gap30",
    "q06_rollup_1m",
    "q07_rollup_1h",
    "q08_rollup_1d",
    "q09_gapfill_1h",
    "q11_validation_gate",
    "q13_archive_daily",
    "q20_dedup_exact",
    "q22_minhash_lsh",
    "q25_text_quality",
    "q26_ann_topk",
    "q30_simhash_candidates",
    "q31_ann_ivf",
    "q33_rollup_quantiles",
    "q34_sessions_bigkey",
    "q35_quantile_cascade",
    "q36_simhash_multiblock",
    "q37_contamination",
    "q38_shuffle_shard",
    "q39_stratified_sample",
    "q40_pack_sequences",
    "q41_counter_increase",
    "q42_counter_cascade",
    "q43_counter_bigkey",
    "q44_curation_e2e",
]


def _proc_stat() -> tuple[int, int]:
    """(total_jiffies, steal_jiffies) from the aggregate cpu line."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    vals = [int(x) for x in parts[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals), steal


def _timed(fn) -> tuple[float, float]:
    """Run fn; return (wall seconds, steal%% of host cpu over that window)."""
    t_a, s_a = _proc_stat()
    t0 = time.monotonic()
    fn()
    dt = time.monotonic() - t0
    t_b, s_b = _proc_stat()
    steal_pct = 100.0 * (s_b - s_a) / max(t_b - t_a, 1)
    return dt, steal_pct


def _best_quiet(fn, n_runs: int):
    """Best-of-N with refuse-and-retry: contended segments (steal above
    STEAL_CONTENDED_PCT) are recorded but never reported as the best; if
    all N are contended, keep adding single runs (cap MAX_RETRIES) until a
    quiet window lands. Returns (best, runs, run_steals, contended)."""
    runs: list[float] = []
    stls: list[float] = []
    for _ in range(n_runs):
        dt, st = _timed(fn)
        runs.append(round(dt, 3))
        stls.append(round(st, 2))
    extra = 0
    while (not any(s <= STEAL_CONTENDED_PCT for s in stls)
           and extra < MAX_RETRIES):
        dt, st = _timed(fn)
        runs.append(round(dt, 3))
        stls.append(round(st, 2))
        extra += 1
    quiet = [d for d, s in zip(runs, stls) if s <= STEAL_CONTENDED_PCT]
    return (min(quiet) if quiet else min(runs)), runs, stls, not quiet


def main() -> None:
    from sbse.pipeline import run_pipeline
    from sbse.queries import all_queries
    from sbse.session import get_spark
    from sbse.tokens import synth

    spark = get_spark(app_name="sbse-bench")
    spark.sparkContext.setLogLevel("ERROR")
    sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in SF_DIR else -1.0
    load_start = os.getloadavg()

    qtimes: dict[str, float] = {}
    qruns: dict[str, list[float]] = {}
    steals: list[float] = []
    qs = all_queries()
    # Steady-state protocol (same as the pipeline warm-up below): drive the
    # same query shapes once at the smallest sf so the timed loop measures
    # execution, not first-query JVM/codegen/Python-worker start-up — those
    # are per-process costs that amortize to ~0 on a long-running cluster.
    warm_sf = "/root/testdata/sf0.001"
    for name in ("q01_decode", "q22_minhash_lsh", "q26_ann_topk",
                 "q30_simhash_candidates", "q31_ann_ivf",
                 "q36_simhash_multiblock"):
        qs[name](spark, warm_sf).count()
    qsteals: dict[str, list[float]] = {}
    contended_queries: list[str] = []
    for name in HEADLINE:
        best, runs, stls, contended = _best_quiet(
            lambda: qs[name](spark, SF_DIR).count(), N_RUNS
        )
        qruns[name] = runs
        qsteals[name] = stls
        steals.extend(stls)
        qtimes[name] = best
        if contended:
            contended_queries.append(name)

    # throughput: full pipeline (decode -> LOCF -> sessionize -> 3 tiers ->
    # gapfill -> metrics) over a parquet token table of SYNTH_ROWS sequences
    tok_path = f"/tmp/sbse_bench_tokens_{SYNTH_ROWS}"
    if not os.path.exists(tok_path):
        synth(spark, SYNTH_ROWS).write.mode("overwrite").parquet(tok_path)
    tok = spark.read.parquet(tok_path)
    # warm-up with the same plan shapes (JIT + codegen compile are
    # per-process costs that amortize to ~0 in a long-running job)
    warm = run_pipeline(tok.limit(100_000), decode_mode="expr",
                        with_gorilla=False, cache_tiers=True)
    for k in ("sessions", "rollup_1m", "rollup_1d", "gapfill_1h"):
        warm[k].count()

    counts: dict[str, int] = {}
    pipe_runs: list[float] = []
    pipe_stls: list[float] = []

    def _pipe_once() -> tuple[float, float]:
        def build_and_drive():
            # the build runs the barriers' jobs, so it is timed too; the
            # counts force the full DAG: tiers + sessions + metrics
            out = run_pipeline(tok, decode_mode="expr", with_gorilla=False,
                               cache_tiers=True)
            counts.update(
                {
                    "sessions": out["sessions"].count(),
                    "rollup_1m": out["rollup_1m"].count(),
                    "rollup_1d": out["rollup_1d"].count(),
                    "gapfill_1h": out["gapfill_1h"].count(),
                }
            )

        dt, st = _timed(build_and_drive)
        return round(dt, 3), round(st, 2)

    for _ in range(N_PIPE_RUNS):
        dt, st = _pipe_once()
        pipe_runs.append(dt)
        pipe_stls.append(st)
    extra = 0
    while (not any(s <= STEAL_CONTENDED_PCT for s in pipe_stls)
           and extra < MAX_RETRIES):
        dt, st = _pipe_once()
        pipe_runs.append(dt)
        pipe_stls.append(st)
        extra += 1
    steals.extend(pipe_stls)
    quiet_pipe = [d for d, s in zip(pipe_runs, pipe_stls)
                  if s <= STEAL_CONTENDED_PCT]
    pipe_s = min(quiet_pipe) if quiet_pipe else min(pipe_runs)
    if not quiet_pipe:
        contended_queries.append("pipeline_e2e")
    total = round(sum(qtimes.values()) + pipe_s, 3)
    qtimes["pipeline_e2e"] = pipe_s
    qruns["pipeline_e2e"] = pipe_runs
    load_end = os.getloadavg()

    print(
        json.dumps(
            {
                "metric": "headline_queries_plus_pipeline_wall",
                "value": total,
                "unit": "sec",
                "queries": qtimes,
                "sf": sf,
                "rollup_throughput_seq_per_s": round(SYNTH_ROWS / pipe_s, 1),
                "pipeline_rows": SYNTH_ROWS,
                "pipeline_out_counts": counts,
                "cpus": os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count())),
                "query_runs": qruns,
                "query_steals": qsteals,
                "host": {
                    "steal_pct_min": min(steals),
                    "steal_pct_max": max(steals),
                    "loadavg_start": round(load_start[0], 2),
                    "loadavg_end": round(load_end[0], 2),
                    "runs_per_query": N_RUNS,
                    "pipeline_runs": N_PIPE_RUNS,
                    "max_retries": MAX_RETRIES,
                    "pipeline_steals": pipe_stls,
                    # contended = some segment NEVER saw a quiet window
                    # even after retries; a lone noisy run that was
                    # retried into quiet air does not poison the artifact
                    "contended_queries": contended_queries,
                    "contended": bool(contended_queries),
                },
            }
        )
    )


if __name__ == "__main__":
    main()
