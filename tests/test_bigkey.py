"""Monster-key chunked windows (sbse.bigkey) — SURVEY §4.3 item 3.

Equality contracts: the chunked LOCF + sessionize stage (and its LOCF-only
and sessionize-only views) must equal the plain window versions
row-for-row on any input, and so must the session rollup over it,
including streams whose sessions straddle many chunk boundaries; plus a
single-hot-key run at
millions of events with an ANALYTIC ground truth (the case that pins the
plain path to one sort task — the reference's unbounded per-key map defect,
cmd/tracker/main.go:51-53)."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR, make_token_rows


def _states(spark):
    from sbse.decode import decode
    from sbse.queries import _decoded
    from sbse.sessionize import states_only

    return states_only(_decoded(spark, SF_DIR)).localCheckpoint()


def _sym_diff(a, b):
    cols = sorted(a.columns)
    assert sorted(b.columns) == cols, (sorted(b.columns), cols)
    return (a.select(cols).exceptAll(b.select(cols)).count()
            + b.select(cols).exceptAll(a.select(cols)).count())


def test_locf_chunked_equals_plain(spark):
    from sbse.bigkey import locf_merge_chunked
    from sbse.sessionize import locf_merge

    st = _states(spark)
    assert _sym_diff(locf_merge(st), locf_merge_chunked(st, chunk_ms=120_000)) == 0


def test_sessionize_chunked_equals_plain(spark):
    """2-minute chunks against 30 s gaps, on real harness data and on a
    dense stream whose sessions chain across many chunks (at 31 s chunks
    most of them hold one session merging backward, so s_start and
    session_id come from the anchored chain start)."""
    from sbse.bigkey import sessionize_chunked
    from sbse.decode import decode
    from sbse.sessionize import locf_merge, sessionize, states_only
    from tests.test_sessionize import mk

    # key 1: a 600 s session at 10 s steps, a gap, then a 60 s session;
    # key 2: one session at 25 s steps
    rows = [mk(i, 10 * i, key=1, alt=i % 3) for i in range(61)]
    rows += [mk(100 + i, 700 + 20 * i, key=1) for i in range(4)]
    rows += [mk(200 + i, 25 * i, key=2, lat=i % 2) for i in range(13)]
    dense = states_only(decode(make_token_rows(spark, rows), "expr"))
    for st in (_states(spark), dense):
        m = locf_merge(st).localCheckpoint()
        for chunk_ms in (120_000, 31_000):  # incl. chunk barely over the gap
            a = sessionize(m, gap_ms=30_000)
            b = sessionize_chunked(m, gap_ms=30_000, chunk_ms=chunk_ms)
            assert _sym_diff(a, b) == 0, chunk_ms


def test_modular_chain_equals_plain(spark):
    """locf_merge_chunked chained into sessionize_chunked (the benchmark's
    traced run) must equal the plain path, and the chunk column must not
    leak into either output."""
    from sbse.bigkey import locf_merge_chunked, sessionize_chunked
    from sbse.sessionize import locf_merge, sessionize

    st = _states(spark)
    m = locf_merge_chunked(st, chunk_ms=120_000)
    assert "_chunk" not in m.columns
    b = sessionize_chunked(m, gap_ms=30_000, chunk_ms=120_000)
    assert "_chunk" not in b.columns
    a = sessionize(locf_merge(st), gap_ms=30_000)
    assert _sym_diff(a, b) == 0


def test_chunk_must_exceed_gap(spark):
    from sbse.bigkey import sessionize_chunked

    with pytest.raises(ValueError, match="chunk_ms"):
        sessionize_chunked(_states(spark), gap_ms=30_000, chunk_ms=30_000)


def test_full_chain_property_random_streams(spark):
    """Hypothesis property: the session rollup over the chunked stage ==
    the plain chain's for random
    per-key streams with random chunk sizes (boundary straddles, chains of
    single-session chunks, duplicate timestamps); and the fused stage's
    per-event output equals sessionize(locf_merge(.)) on every column, in
    the same order, across chunk boundaries."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from sbse.bigkey import locf_sessionize_chunked
    from sbse.decode import decode
    from sbse.sessionize import (locf_merge, session_rollup, sessionize,
                                 states_only)
    from tests.test_sessionize import mk

    @settings(max_examples=5, deadline=None)
    @given(
        st.lists(st.integers(min_value=0, max_value=3000),
                 min_size=1, max_size=30),
        st.sampled_from([31_000, 45_000, 120_000]),
    )
    def check(secs, chunk_ms):
        # two keys, sparse non-zero fields so LOCF carry-in matters
        rows = [
            mk(i, s, key=1 + (i % 2), alt=(i % 3) * 100, callsign=i % 2,
               lat=(i % 4), gs=(i % 5))
            for i, s in enumerate(sorted(secs))
        ]
        df = make_token_rows(spark, rows)
        st_df = states_only(decode(df, "expr")).localCheckpoint()
        plain_events = sessionize(locf_merge(st_df), gap_ms=30_000)
        events = locf_sessionize_chunked(st_df, gap_ms=30_000,
                                         chunk_ms=chunk_ms)
        plain = session_rollup(plain_events)
        chunked = session_rollup(events)
        assert _sym_diff(plain, chunked) == 0, (secs, chunk_ms)

        assert events.columns == plain_events.columns
        assert _sym_diff(plain_events, events) == 0, (secs, chunk_ms)

    check()


def test_monster_single_key_analytic(spark):
    """One (source, key) with 2M events at 1 Hz and a > gap jump every 50k
    events: exactly 40 sessions of 50k events each, boundaries analytic.
    The plain path would sort all 2M rows in ONE window task; the chunked
    path bounds every partition to a 1-hour chunk (3.6k rows) and still
    produces the exact session set."""
    from sbse.bigkey import locf_sessionize_chunked
    from sbse.sessionize import session_rollup

    n, per, gap_jump_s = 2_000_000, 50_000, 60
    ev = spark.range(n).select(
        F.lit("hot").alias("source"),
        F.lit(7777).cast("long").alias("key"),
        # second i of session j starts at j*(per + gap_jump_s) + i
        (F.lit(1704067200)  # 2024-01-01 UTC
         + (F.col("id") / per).cast("long") * F.lit(gap_jump_s)
         + F.col("id")).alias("_sec"),
        F.col("id").alias("seq"),
    ).select(
        "source", "key", F.timestamp_seconds(F.col("_sec")).alias("ts"), "seq",
        F.lit("AB").alias("callsign"), F.lit(100).alias("altitude"),
        F.lit(1.0).alias("ground_speed"), F.lit(0.0).alias("track"),
        F.lit(1.0).alias("lat"), F.lit(2.0).alias("lon"),
        F.lit(0).alias("vertical_rate"), F.lit("7700").alias("squawk"),
        F.lit(False).alias("on_ground"), F.lit(3).alias("n_tok"),
    )
    out = session_rollup(locf_sessionize_chunked(ev, gap_ms=30_000,
                                                 chunk_ms=3_600_000))
    rows = out.orderBy("started_at").collect()
    assert len(rows) == n // per
    assert all(r.n_events == per for r in rows)
    assert all(r.max_altitude == 100 for r in rows)
    # boundaries: session j spans [base + j*(per+jump), ... + per - 1]
    base = 1704067200
    for j, r in enumerate(rows):
        start = base + j * (per + gap_jump_s)
        assert int(r.started_at.timestamp()) == start, j
        assert int(r.ended_at.timestamp()) == start + per - 1, j
    # only the last session is open-able
    assert [r.is_open for r in rows] == [False] * (len(rows) - 1) + [True]


def test_pipeline_bigkey_mode_equals_plain(spark):
    """run_pipeline(bigkey_chunk_ms=...) must produce every output of the
    plain window path — states, sessions, all tiers, gap-fill, metrics and
    the Gorilla blobs — row for row: the production switch for hot keys."""
    from sbse.pipeline import run_pipeline
    from sbse.tokens import synth

    tok = synth(spark, 30_000).localCheckpoint()
    plain = run_pipeline(tok, decode_mode="expr")
    big = run_pipeline(tok, decode_mode="expr", bigkey_chunk_ms=120_000)
    assert sorted(big) == sorted(plain)
    for table in ("states", "sessions", "rollup_1m", "rollup_1h", "rollup_1d",
                  "gapfill_1h", "metrics", "gorilla_1m"):
        assert _sym_diff(plain[table], big[table]) == 0, table


def test_counter_chunked_equals_plain_across_boundaries(spark):
    """Counter resets and increases that straddle chunk boundaries stitch
    exactly: the chunked twin equals rollup.counter_increase row-for-row,
    including a key whose only reset is the first sample of a chunk."""
    import datetime as dt

    from sbse.bigkey import counter_increase_chunked
    from sbse.rollup import counter_increase

    def row(key, sec, n_tok, seq):
        return {"source": "s", "key": key,
                "ts": dt.datetime(2024, 1, 1) + dt.timedelta(seconds=sec),
                "seq": seq, "n_tok": n_tok}

    rows = []
    # key 1: monotone ramp crossing many 10s chunks
    rows += [row(1, i * 7, 10 + i, i) for i in range(40)]
    # key 2: reset exactly at a chunk boundary (sec=20 with chunk_ms=10s)
    rows += [row(2, 0, 50, 100), row(2, 10, 60, 101),
             row(2, 20, 5, 102), row(2, 30, 6, 103)]
    # key 3: single sample (no baseline, contributes 0)
    rows += [row(3, 5, 99, 200)]
    states = spark.createDataFrame(rows)

    plain = {tuple(sorted(r.asDict().items()))
             for r in counter_increase(states, "minute").collect()}
    chunked = {tuple(sorted(r.asDict().items()))
               for r in counter_increase_chunked(
                   states, "minute", chunk_ms=10_000).collect()}
    assert plain == chunked
    # sanity on the boundary reset: key 2's minute-0 increase is 10 + 5
    k2 = [dict(t) for t in plain if dict(t)["key"] == 2]
    assert sum(r["tok_increase"] for r in k2) == 10 + 5 + 1
    assert sum(r["n_resets"] for r in k2) == 1


def test_with_chunk_refuses_existing_chunk(spark):
    """A pre-existing _chunk column is refused whatever chunk size it was
    built with (nothing proves its size), by _with_chunk and by the
    chunked stage; a frame without one gets floor(ts ms / chunk_ms)."""
    import pytest
    from pyspark.sql import functions as F

    from sbse.bigkey import _with_chunk, locf_sessionize_chunked

    df = spark.createDataFrame(
        [("s", 1, "2024-01-01 00:02:01", 1)],
        "source string, key bigint, ts string, seq bigint",
    ).withColumn("ts", F.to_timestamp("ts"))
    c = _with_chunk(df, 120_000)
    assert c.columns == [*df.columns, "_chunk"]
    assert c.first()["_chunk"] == 1704067321000 // 120_000
    for chunk_ms in (120_000, 60_000):
        with pytest.raises(ValueError, match="_chunk"):
            _with_chunk(c, chunk_ms)
    with pytest.raises(ValueError, match="_chunk"):
        locf_sessionize_chunked(c, gap_ms=30_000, chunk_ms=120_000)
    # a foreign _chunk is refused too
    fake = df.withColumn("_chunk", F.lit(0))
    with pytest.raises(ValueError, match="_chunk"):
        _with_chunk(fake, 120_000)
