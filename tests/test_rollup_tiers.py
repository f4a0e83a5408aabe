"""F4 rollup/tier fixtures: cascade invariant, gap-fill LOCF, fingerprints."""

from pyspark.sql import functions as F

from tests.conftest import make_token_rows
from tests.test_sessionize import mk


def _states(spark, n=400):
    from sbse.decode import decode
    from sbse.sessionize import locf_merge, states_only
    from sbse.tokens import synth

    return locf_merge(states_only(decode(synth(spark, n), "expr")))


def test_cascade_invariant(spark):
    """1h tier computed from the 1m tier == 1h tier computed from raw states
    (continuous-aggregate refresh correctness, migrations/002 analog)."""
    from sbse.rollup import bucket_rollup, cascade

    st = _states(spark)
    direct_1h = bucket_rollup(st, "hour")
    cascaded_1h = cascade(bucket_rollup(st, "minute"), "hour")
    assert sorted(map(str, direct_1h.collect())) == sorted(map(str, cascaded_1h.collect()))
    direct_1d = bucket_rollup(st, "day")
    cascaded_1d = cascade(cascaded_1h, "day")
    assert sorted(map(str, direct_1d.collect())) == sorted(map(str, cascaded_1d.collect()))


def test_tier_counts_conserve_rows(spark):
    from sbse.rollup import tier_tables

    st = _states(spark)
    n = st.count()
    tiers = tier_tables(st)
    for name, t in tiers.items():
        assert t.agg(F.sum("cnt")).collect()[0][0] == n, name


def test_fingerprints_follow_arrival_order(spark):
    """first_fp/last_fp = xxhash64 of the first/last token array per bucket
    in (ts, seq) order."""
    from sbse.decode import decode
    from sbse.rollup import bucket_rollup
    from sbse.sessionize import states_only

    rows = [mk(0, 0, key=1, alt=100), mk(1, 30, key=1, alt=200),
            mk(2, 59, key=1, alt=300)]
    df = make_token_rows(spark, rows)
    st = states_only(decode(df, "expr"))
    r = bucket_rollup(st, "minute").collect()
    assert len(r) == 1
    fps = {row.doc_id: row.fp for row in st.withColumn(
        "fp", F.xxhash64("tokens")).collect()}
    assert r[0].first_fp == fps["d000000000000"]
    assert r[0].last_fp == fps["d000000000002"]
    assert r[0].first_fp != r[0].last_fp


def test_gapfill_locf(spark):
    """Missing buckets appear with cnt=0, is_gap, and LOCF-carried value
    (time_bucket_gapfill + locf analog, SURVEY.md §2.5 W5)."""
    from sbse.decode import decode
    from sbse.rollup import bucket_rollup, gapfill_locf
    from sbse.sessionize import states_only

    # events in minutes 0, 1, and 4 -> buckets 2,3 are gaps
    rows = [mk(0, 10, key=1), mk(1, 70, key=1, alt=5), mk(2, 250, key=1)]
    df = make_token_rows(spark, rows)
    r1m = bucket_rollup(states_only(decode(df, "expr")), "minute")
    filled = gapfill_locf(r1m, "minute").orderBy("bucket_start").collect()
    assert len(filled) == 5
    assert [r.cnt for r in filled] == [1, 1, 0, 0, 1]
    assert [r.is_gap for r in filled] == [False, False, True, True, False]
    # LOCF: gap buckets carry minute-1's last_ntok
    assert filled[2].last_ntok_locf == filled[1].last_ntok_locf == 23
    assert [r.n_tok_sum for r in filled] == [23, 23, 0, 0, 23]


def test_retention_horizon(spark):
    from sbse.retention import retain
    from sbse.rollup import bucket_rollup
    from sbse.decode import decode
    from sbse.sessionize import states_only

    rows = [mk(0, 0, key=1), mk(1, 86400 * 40, key=1)]  # 40 days apart
    df = make_token_rows(spark, rows)
    r1d = bucket_rollup(states_only(decode(df, "expr")), "day")
    kept = retain(r1d, now_ts="2023-02-10 00:00:00", horizon_days=30)
    assert kept.count() == 1
    assert r1d.count() == 2


import pytest


@pytest.mark.parametrize("sf", ["/root/testdata/sf0.01", "/root/testdata/sf0.1"])
def test_quantile_sketch_cascade_lossless(spark, sf):
    """The mergeable value-frequency sketch cascade (1m -> 1h -> 1d, merge
    only — never recomputed from states) extracts quantiles EQUAL to the
    direct-from-states rank path at both sf0.01 and sf0.1 (error 0, well
    inside the <=1-rank-percentile acceptance): the sketch is exact and its
    merge is lossless, which is what lets 1h/1d tiers carry p50/p95 in the
    continuous-aggregate refresh shape without touching raw."""
    from sbse.queries import _decoded
    from sbse.rollup import (bucket_rollup_q, cascade_q, quantile_tier_tables,
                             tier_quantiles)
    from sbse.sessionize import states_only

    st = states_only(_decoded(spark, sf)).localCheckpoint(eager=False)
    tiers = quantile_tier_tables(st)
    for unit, tier in (("hour", tiers["1h"]), ("day", tiers["1d"])):
        via_cascade = tier_quantiles(tier)
        direct = tier_quantiles(bucket_rollup_q(st, unit))
        cols = sorted(via_cascade.columns)
        assert sorted(direct.columns) == cols
        diff = (via_cascade.select(cols).exceptAll(direct.select(cols)).count()
                + direct.select(cols).exceptAll(via_cascade.select(cols)).count())
        assert diff == 0, (sf, unit)


def test_quantile_sketch_bounded_size(spark):
    """Sketch size honesty: the per-bucket map cardinality is bounded by
    the n_tok domain, not by row count — the property that makes the exact
    sketch the right 100 TB structure for token lengths."""
    from pyspark.sql import functions as F

    from sbse.queries import _decoded
    from sbse.rollup import bucket_rollup_q, cascade_q
    from sbse.sessionize import states_only

    st = states_only(_decoded(spark, "/root/testdata/sf0.01"))
    dom = st.select("n_tok").distinct().count()
    q1d = cascade_q(bucket_rollup_q(st, "minute"), "day")
    max_size = q1d.select(F.max(F.size("ntok_freq"))).collect()[0][0]
    assert max_size <= dom


def test_quantile_scale_twin_accuracy(spark):
    """q33's exact rank-selection quantiles double as the accuracy oracle
    for the 100 TB scale twin (percentile_approx: one-pass mergeable
    sketch, no per-bucket sort). With accuracy=10000 the sketch must land
    within 1 rank-percentile of the exact value on every bucket."""
    from pyspark.sql import functions as F

    from sbse.queries import q33_rollup_quantiles

    sf = "/root/testdata/sf0.01"
    exact = {(r.source, str(r.bucket_start)): (r.cnt, r.ntok_p50, r.ntok_p95)
             for r in q33_rollup_quantiles(spark, sf).collect()}

    from sbse.queries import _decoded
    from sbse.sessionize import states_only

    d = states_only(_decoded(spark, sf)).select(
        "source", F.date_trunc("hour", "ts").alias("bucket_start"), "n_tok")
    approx = {
        (r.source, str(r.bucket_start)): (r.a50, r.a95)
        for r in d.groupBy("source", "bucket_start").agg(
            F.percentile_approx("n_tok", 0.5, 10000).alias("a50"),
            F.percentile_approx("n_tok", 0.95, 10000).alias("a95"),
        ).collect()
    }
    assert set(exact) == set(approx)
    values = {}
    for r in d.collect():
        values.setdefault((r.source, str(r.bucket_start)), []).append(r.n_tok)
    for key, (cnt, p50, p95) in exact.items():
        vs = sorted(values[key])
        a50, a95 = approx[key]
        for a, p in ((a50, 0.5), (a95, 0.95)):
            lo = vs[max(0, int((p - 0.01) * (cnt - 1)))]
            hi = vs[min(cnt - 1, int((p + 0.01) * (cnt - 1)) + 1)]
            assert lo <= a <= hi, (key, p, a, lo, hi)


def test_gapfill_two_level_spine_multiyear(spark):
    """VERDICT r4 #5: the gapfill spine must not materialize one
    sequence() array per key — a multi-year key at minute grain used to
    build a 1M+-element single-row array. The two-level (day, then
    minute-within-day) spine keeps every array <= 1,440 elements by
    construction; this drives a 2-year single-key span at minute grain and
    checks the exact spine row count + endpoints + gap accounting, and
    cross-day equivalence with the expected bucket set."""
    from pyspark.sql import functions as F

    from sbse.rollup import gapfill_locf

    # sparse 1m tier: one point at the start, one ~2 years later, a few in
    # between — spine = every minute in [b0, b1]
    t0 = 1672531200000  # 2023-01-01 00:00 UTC
    two_years_min = 2 * 365 * 24 * 60
    pts = [0, 5, 60 * 24 * 100, two_years_min]  # minutes offsets
    tier = spark.createDataFrame(
        [("s0", 1, t0 + m * 60000, 1, 7, 7, 7, 7, 7, "fp", "fp")
         for m in pts],
        "source string, key bigint, ms bigint, cnt bigint, n_tok_sum bigint,"
        "n_tok_min bigint, n_tok_max bigint, first_ntok bigint,"
        "last_ntok bigint, first_fp string, last_fp string",
    ).select(
        "source", "key", F.timestamp_millis("ms").alias("bucket_start"),
        "cnt", "n_tok_sum", "n_tok_min", "n_tok_max", "first_ntok",
        "last_ntok", "first_fp", "last_fp",
    )
    filled = gapfill_locf(tier, "minute")
    agg = filled.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("bucket_start").alias("lo"),
        F.max("bucket_start").alias("hi"),
        F.sum(F.col("is_gap").cast("int")).alias("gaps"),
    ).collect()[0]
    assert agg["n"] == two_years_min + 1
    assert agg["lo"].isoformat() == "2023-01-01T00:00:00"
    assert agg["hi"].isoformat() == "2024-12-31T00:00:00"
    assert agg["gaps"] == two_years_min + 1 - len(pts)
    # LOCF carried across the year boundary
    row = filled.filter(
        F.col("bucket_start") == F.to_timestamp(F.lit("2024-01-01 00:00:00"))
    ).collect()[0]
    assert row.is_gap and row.last_ntok_locf == 7


def test_counter_increase_reset_semantics(spark):
    """PromQL increase(): monotone deltas sum; a drop is a reset and
    contributes the post-reset value; first sample contributes 0; the lag
    chain crosses bucket boundaries."""
    import datetime as dt

    from sbse.rollup import counter_cascade, counter_increase

    def row(sec, n_tok, seq):
        return {"source": "s", "key": 7,
                "ts": dt.datetime(2024, 1, 1, 0, 0, 0) + dt.timedelta(
                    seconds=sec),
                "seq": seq, "n_tok": n_tok}

    # hour 0: 10 -> 15 (+5) -> 3 (reset: +3); hour 1: 8 (+5 across boundary)
    states = spark.createDataFrame([
        row(0, 10, 1), row(10, 15, 2), row(20, 3, 3), row(3600, 8, 4),
    ])
    out = {r["bucket_start"].hour: r
           for r in counter_increase(states, "hour").collect()}
    assert out[0]["tok_increase"] == 5 + 3
    assert out[0]["n_resets"] == 1
    assert out[0]["n_samples"] == 3
    assert out[1]["tok_increase"] == 5  # 8 - 3, lag crosses the boundary
    assert out[1]["n_resets"] == 0

    # cascade: day == sum of hours (lossless merge)
    day = counter_cascade(counter_increase(states, "hour"), "day").collect()
    assert len(day) == 1
    assert day[0]["tok_increase"] == 13
    assert day[0]["n_samples"] == 4
    assert day[0]["n_resets"] == 1
