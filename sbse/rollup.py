"""Time-bucketed rollups, the 1m->1h->1d continuous-aggregate cascade, and
LOCF gap-fill over bucket grids.

Mirrors the reference's TimescaleDB continuous aggregates
(internal/db/migrations/002_retention_policies.go:13-37 —
``aircraft_states_hourly`` COUNT rollup, ``system_stats_daily`` SUM rollup)
plus the north-star additions: a 1-minute tier, first/last token
fingerprints per bucket, and ``time_bucket_gapfill``+``locf`` analogs.

Scale notes:
* each tier aggregates the PREVIOUS tier (1h from 1m, 1d from 1h) — the
  incremental-refresh shape of continuous aggregates; at 100 TB the 1m tier
  is ~1e5x smaller than raw, so the cascade is nearly free;
* partial (map-side) aggregation applies to every groupBy here;
* the gap-fill spine is generated per (source, key) from min/max bucket —
  explode(sequence(...)) — and joined back; the LOCF pass shares the
  (source, key) partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sbse.sessionize import ord_col

TIER_UNITS = {"1m": "minute", "1h": "hour", "1d": "day"}
_STEP_INTERVAL = {"minute": "interval 1 minute", "hour": "interval 1 hour",
                  "day": "interval 1 day"}


def bucket_rollup(states: DataFrame, unit: str = "minute") -> DataFrame:
    """Base rollup straight from (merged) states: per (source, key, bucket).

    first_fp/last_fp are xxhash64 fingerprints of the first/last row's token
    array in arrival order (FIXTURES.md F4) — the token-stream identity the
    north star tracks through every tier.
    """
    e = states.select(
        "source",
        "key",
        "n_tok",
        ord_col().alias("ord"),
        F.date_trunc(unit, F.col("ts")).alias("bucket_start"),
        F.xxhash64(F.col("tokens")).alias("fp"),
    )
    return e.groupBy("source", "key", "bucket_start").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("n_tok").cast("bigint").alias("n_tok_sum"),
        F.min("n_tok").alias("n_tok_min"),
        F.max("n_tok").alias("n_tok_max"),
        F.expr("min_by(n_tok, ord)").alias("first_ntok"),
        F.expr("max_by(n_tok, ord)").alias("last_ntok"),
        F.expr("min_by(fp, ord)").alias("first_fp"),
        F.expr("max_by(fp, ord)").alias("last_fp"),
    )


def cascade(tier: DataFrame, unit: str) -> DataFrame:
    """Aggregate a finer tier into a coarser one (1m->1h, 1h->1d).

    cnt/n_tok_sum re-sum; min/max re-extremize; first_*/last_* take the
    earliest/latest child bucket's values — exactly re-aggregation of the
    finer tier, so tier(raw) == cascade(tier_finer) (cascade invariant,
    FIXTURES.md F4)."""
    return (
        tier.withColumn("parent", F.date_trunc(unit, F.col("bucket_start")))
        .groupBy("source", "key", "parent")
        .agg(
            F.sum("cnt").cast("bigint").alias("cnt"),
            F.sum("n_tok_sum").cast("bigint").alias("n_tok_sum"),
            F.min("n_tok_min").alias("n_tok_min"),
            F.max("n_tok_max").alias("n_tok_max"),
            F.expr("min_by(first_ntok, bucket_start)").alias("first_ntok"),
            F.expr("max_by(last_ntok, bucket_start)").alias("last_ntok"),
            F.expr("min_by(first_fp, bucket_start)").alias("first_fp"),
            F.expr("max_by(last_fp, bucket_start)").alias("last_fp"),
        )
        .withColumnRenamed("parent", "bucket_start")
    )


def counter_exprs(prev):
    """Reset-aware (increase, is_reset) expressions given the previous-value
    Column — the single source of truth for counter semantics, shared by the
    plain path (prev = lag over the global per-key window), the monster-key
    chunked path (prev = coalesce(chunk-local lag, carried chunk-final
    value); bigkey.counter_increase_chunked, whose q43 contract is exact
    equality with q41), and transliterated in numpy by
    streaming.stateful_counter_increase (fold-equality pytest-pinned)."""
    inc = (
        F.when(prev.isNull(), F.lit(0))
        .when(F.col("n_tok") >= prev, F.col("n_tok") - prev)
        .otherwise(F.col("n_tok"))
    )
    reset = F.when(prev.isNotNull() & (F.col("n_tok") < prev), 1).otherwise(0)
    return inc, reset


def counter_aggs():
    """The (n_samples, tok_increase, n_resets) agg triple over _inc/_reset
    columns — shared by both batch counter paths."""
    return [
        F.count(F.lit(1)).alias("n_samples"),
        F.sum("_inc").cast("bigint").alias("tok_increase"),
        F.sum("_reset").cast("bigint").alias("n_resets"),
    ]


def counter_increase(states: DataFrame, unit: str = "hour") -> DataFrame:
    """Reset-aware counter increase per (source, key, bucket) — the
    PromQL ``increase()`` / TimescaleDB ``counter_agg`` analog over the
    n_tok stream.

    Per key in arrival order (ord_col — same (ts, seq) order as every other
    operator): a sample's contribution is ``n_tok - lag(n_tok)`` when
    non-negative, or ``n_tok`` after a counter reset (the counter restarted
    from 0, so its current value is the visible increase); a key's first
    sample contributes 0 (no baseline). The lag chain is GLOBAL per key —
    it crosses bucket boundaries — which is exactly what makes the
    per-bucket sums mergeable: increase(1d) == sum of its hours'
    increase(1h), the invariant counter_cascade relies on and q42's oracle
    checks against a direct day-grain computation from raw.

    100 TB: one window per (source, key) (the monster-key insurance for a
    pathological key is the sbse.bigkey chunked-window pattern), then one
    partial-agg groupBy.
    """
    w = Window.partitionBy("source", "key").orderBy("ord")
    e = states.withColumn("ord", ord_col())
    e = e.withColumn("_prev", F.lag("n_tok").over(w)).withColumn(
        "bucket_start", F.date_trunc(unit, F.col("ts"))
    )
    inc, reset = counter_exprs(F.col("_prev"))
    e = e.withColumn("_inc", inc).withColumn("_reset", reset)
    return e.groupBy("source", "key", "bucket_start").agg(*counter_aggs())


def counter_cascade(tier: DataFrame, unit: str) -> DataFrame:
    """Merge a finer counter-increase tier into a coarser one (1h -> 1d):
    pure re-summation, valid because the lag chain in counter_increase is
    global per key."""
    return (
        tier.withColumn("parent", F.date_trunc(unit, F.col("bucket_start")))
        .groupBy("source", "key", "parent")
        .agg(
            F.sum("n_samples").cast("bigint").alias("n_samples"),
            F.sum("tok_increase").cast("bigint").alias("tok_increase"),
            F.sum("n_resets").cast("bigint").alias("n_resets"),
        )
        .withColumnRenamed("parent", "bucket_start")
    )


def gapfill_locf(tier: DataFrame, unit: str = "minute") -> DataFrame:
    """time_bucket_gapfill + locf analog (TimescaleDB; SURVEY.md §2.5 W5).

    Emits one row per (source, key, bucket) on the key's [min, max] bucket
    spine; missing buckets get cnt=0/n_tok_sum=0, is_gap=true, and
    last_ntok carried forward (LOCF).

    Spine generation is two-level for sub-day units (round 5, VERDICT r4
    "what's wrong" #3): one ``sequence()`` per (key, day) first, then the
    unit buckets within each day — a multi-year key at minute grain used to
    build its whole spine as ONE array row (525,600 elements/year, a
    per-row memory spike heading for Spark's array ceiling at 100x); now no
    single array exceeds 1,440 elements (minutes/day) regardless of key
    span, and day-grain arrays are one element per day. Output identical
    (asserted against the single-sequence shape in tests).
    """
    step = _STEP_INTERVAL[unit]
    ends = tier.groupBy("source", "key").agg(
        F.min("bucket_start").alias("b0"), F.max("bucket_start").alias("b1")
    )
    if unit == "day":
        spine = ends.select(
            "source",
            "key",
            F.explode(
                F.sequence(F.col("b0"), F.col("b1"), F.expr(step))
            ).alias("bucket_start"),
        )
    else:
        days = ends.select(
            "source", "key", "b0", "b1",
            F.explode(
                F.sequence(
                    F.date_trunc("DAY", F.col("b0")),
                    F.date_trunc("DAY", F.col("b1")),
                    F.expr("interval 1 day"),
                )
            ).alias("d"),
        )
        day_end = F.col("d") + F.expr("interval 1 day") - F.expr(step)
        spine = days.select(
            "source",
            "key",
            F.explode(
                F.sequence(
                    F.greatest(F.col("d"), F.col("b0")),
                    F.least(day_end, F.col("b1")),
                    F.expr(step),
                )
            ).alias("bucket_start"),
        )
    j = spine.join(tier, ["source", "key", "bucket_start"], "left")
    w = (
        Window.partitionBy("source", "key")
        .orderBy("bucket_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "source",
        "key",
        "bucket_start",
        F.coalesce("cnt", F.lit(0)).alias("cnt"),
        F.coalesce("n_tok_sum", F.lit(0)).alias("n_tok_sum"),
        F.col("cnt").isNull().alias("is_gap"),
        F.last("last_ntok", ignorenulls=True).over(w).alias("last_ntok_locf"),
    )


def tier_tables(states: DataFrame) -> dict[str, DataFrame]:
    """The full retention-tier cascade: raw states -> 1m -> 1h -> 1d."""
    r1m = bucket_rollup(states, "minute")
    r1h = cascade(r1m, "hour")
    r1d = cascade(r1h, "day")
    return {"1m": r1m, "1h": r1h, "1d": r1d}


# ---------------------------------------------------------------------------
# Quantile tiers: EXACT mergeable value-frequency sketches through the
# cascade (q33's scale twin wired into the continuous-aggregate shape,
# 002_retention_policies.go:13-37)
# ---------------------------------------------------------------------------
#
# The sketch is a per-bucket map<n_tok, count> — exact and mergeable (merge
# = entrywise sum), which percentile_approx's internal state is NOT exposed
# as in SQL. It is the right 100 TB structure for BOUNDED-DOMAIN values
# like token counts (map size = distinct n_tok per bucket, <= the model's
# max sequence length — a few thousand entries, ~1e2-1e4x smaller than the
# raw rows it summarizes). For genuinely unbounded continuous domains the
# one-pass percentile_approx twin applies instead (pinned within 1
# rank-percentile of this exact path in test_rollup_tiers).
#
# All pure Catalyst: two partial-aggregatable groupBys build the sketch,
# explode+sum+rebuild merges it, and extraction is an explode + running-sum
# window + min(when(cum >= rank)) — value-at-rank, bit-portable (the same
# integer rank math as q33; float interpolation is not cross-engine-stable).

_QKEYS = ("source", "key", "bucket_start")


def _freq_map(per_value: DataFrame) -> DataFrame:
    """(keys, v, c) -> (keys, ntok_freq sorted-entry map)."""
    return per_value.groupBy(*_QKEYS).agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("v", "c")))
        ).alias("ntok_freq")
    )


def bucket_rollup_q(states: DataFrame, unit: str = "minute") -> DataFrame:
    """Quantile-bearing tier straight from states: per (source, key,
    bucket) the exact n_tok value-frequency sketch."""
    per_v = (
        states.select(
            "source", "key",
            F.date_trunc(unit, F.col("ts")).alias("bucket_start"),
            F.col("n_tok").alias("v"),
        )
        .groupBy(*_QKEYS, "v")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return _freq_map(per_v)


def cascade_q(tier_q: DataFrame, unit: str) -> DataFrame:
    """Merge a finer quantile tier into a coarser one: explode the maps,
    sum counts per value, rebuild — cascade_q(bucket_rollup_q(raw, fine))
    == bucket_rollup_q(raw, coarse) (the sketch cascade invariant,
    asserted in test_rollup_tiers)."""
    per_v = (
        tier_q.select(
            "source", "key",
            F.date_trunc(unit, F.col("bucket_start")).alias("bucket_start"),
            F.explode("ntok_freq").alias("v", "c"),
        )
        .groupBy(*_QKEYS, "v")
        .agg(F.sum("c").alias("c"))
    )
    return _freq_map(per_v)


def tier_quantiles(tier_q: DataFrame) -> DataFrame:
    """Extract exact p50/p95 (value-at-rank, q33's integer rank math) from
    a quantile tier's sketches."""
    e = tier_q.select(
        *_QKEYS, F.explode("ntok_freq").alias("v", "c")
    )
    w = (
        Window.partitionBy(*_QKEYS)
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wa = Window.partitionBy(*_QKEYS)
    e = (
        e.withColumn("cum", F.sum("c").over(w))
        .withColumn("cnt", F.sum("c").over(wa))
    )
    p50_rank = F.expr("(cnt - 1) DIV 2 + 1")
    p95_rank = F.expr("(19 * (cnt - 1)) DIV 20 + 1")
    return e.groupBy(*_QKEYS).agg(
        F.max("cnt").alias("cnt"),
        F.min(F.when(F.col("cum") >= p50_rank, F.col("v"))).alias("ntok_p50"),
        F.min(F.when(F.col("cum") >= p95_rank, F.col("v"))).alias("ntok_p95"),
    )


def quantile_tier_tables(states: DataFrame) -> dict[str, DataFrame]:
    """The quantile-sketch cascade alongside tier_tables: 1m from raw, 1h
    and 1d by sketch MERGE (never recomputed from states)."""
    q1m = bucket_rollup_q(states, "minute")
    q1h = cascade_q(q1m, "hour")
    q1d = cascade_q(q1h, "day")
    return {"1m": q1m, "1h": q1h, "1d": q1d}
