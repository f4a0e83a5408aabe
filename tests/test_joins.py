"""Focused tests for sbse.joins. ``attribute_events_to_sessions`` is the
as-of form of the interval join; the generic sort-merge interval join kept
here is its oracle. The two must be row-identical on gap sessions, which
never overlap, and overlapping sessions must be refused, not attributed to
the latest one."""

import collections

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR, make_token_rows

COLS = ["source", "key", "ts", "seq", "session_id", "started_at", "ended_at"]


def generic_interval_join(events, sessions):
    """One row per (event, session) pair of a (source, key) whose
    [started_at, ended_at] contains the event's ts: a shuffled sort-merge
    join on the equi keys, then the range filter. Overlapping sessions
    give an event one row per containing session."""
    s = sessions.select(
        "session_id",
        F.col("source").alias("s_source"),
        F.col("key").alias("s_key"),
        "started_at",
        "ended_at",
    )
    return events.join(
        s,
        (F.col("source") == F.col("s_source"))
        & (F.col("key") == F.col("s_key"))
        & F.col("ts").between(F.col("started_at"), F.col("ended_at")),
    ).drop("s_source", "s_key")


def _rows(df):
    return collections.Counter(tuple(r) for r in df.select(*COLS).collect())


def test_interval_join_asof_mode_equals_generic_on_gap_sessions(spark):
    from sbse.joins import attribute_events_to_sessions
    from sbse.queries import _merged
    from sbse.sessionize import session_rollup, sessionize

    m = _merged(spark, SF_DIR)
    sessions = session_rollup(sessionize(m, gap_ms=30_000,
                                         close_trailing=True))
    ev = m.select("source", "key", "ts", "seq")
    generic = _rows(generic_interval_join(ev, sessions))
    asof = _rows(attribute_events_to_sessions(ev, sessions))
    assert generic == asof
    assert len(generic) > 0


def _sessions(spark, rows):
    """(session_id, started_at, ended_at) rows of key 1 at source s."""
    return spark.createDataFrame(
        [(sid, "s", 1, start, end) for sid, start, end in rows],
        "session_id string, source string, key bigint, started_at string, "
        "ended_at string",
    ).select("session_id", "source", "key",
             F.to_timestamp("started_at").alias("started_at"),
             F.to_timestamp("ended_at").alias("ended_at"))


def test_interval_join_refuses_overlapping_sessions(spark):
    """An event inside two overlapping sessions belongs to both (the
    generic join's answer); the as-of form could give it only to the
    later one, so it refuses the input instead. The check covers a
    previous session left open (NULL ended_at) and sessions that only
    touch (the containment is inclusive), and it passes disjoint sessions
    whose last one is open."""
    from sbse.joins import attribute_events_to_sessions

    ev = spark.createDataFrame(
        [("s", 1, "2024-01-01 00:00:05", 1), ("s", 1, "2024-01-01 00:00:25", 2)],
        "source string, key bigint, ts string, seq bigint",
    ).select("source", "key", F.to_timestamp("ts").alias("ts"), "seq")
    t = "2024-01-01 00:00:"
    overlap = _sessions(spark, [("a", t + "00", t + "10"),
                                ("b", t + "03", t + "07")])
    assert {r.session_id for r in generic_interval_join(ev, overlap)
            .collect()} == {"a", "b"}
    for sessions in (
        overlap,
        _sessions(spark, [("a", t + "00", None), ("b", t + "20", t + "30")]),
        _sessions(spark, [("a", t + "00", t + "10"),
                          ("b", t + "10", t + "30")]),
    ):
        with pytest.raises(Exception, match="overlapping sessions"):
            attribute_events_to_sessions(ev, sessions).collect()
    disjoint = _sessions(spark, [("a", t + "00", t + "10"), ("b", t + "20", None)])
    got = attribute_events_to_sessions(ev, disjoint)
    assert _rows(got) == _rows(generic_interval_join(ev, disjoint))
    assert [r.session_id for r in got.collect()] == ["a"]


def test_asof_attribution_property_random_streams(spark):
    """Hypothesis property (the J1 route's parity): for random per-key
    event streams, sessionized by ``locf_sessionize`` + ``session_rollup``
    with a random gap and trailing-close rule, the as-of attribution equals
    the generic interval join row for row. The streams hold duplicate
    timestamps, gaps of exactly the gap and one more millisecond, two
    sources and several keys."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from sbse.decode import decode
    from sbse.joins import attribute_events_to_sessions
    from sbse.sessionize import locf_sessionize, session_rollup, states_only
    from tests.test_sessionize import mk

    @settings(max_examples=8, deadline=None)
    @given(
        st.lists(st.tuples(st.integers(1, 3), st.integers(0, 1),
                           st.integers(0, 240), st.sampled_from([0, 1, 500])),
                 min_size=1, max_size=40),
        st.sampled_from([1_000, 5_000, 20_000, 30_000, 60_000]),
        st.booleans(),
    )
    def check(events, gap_ms, close_trailing):
        rows = [mk(i, secs, key=key, ms=ms, src=f"src-0{src}", alt=i % 3)
                for i, (key, src, secs, ms) in enumerate(events)]
        states = states_only(decode(make_token_rows(spark, rows))).localCheckpoint()
        sessions = session_rollup(locf_sessionize(
            states, gap_ms=gap_ms, close_trailing=close_trailing))
        ev = states.select("source", "key", "ts", "seq")
        got = _rows(attribute_events_to_sessions(ev, sessions))
        want = _rows(generic_interval_join(ev, sessions))
        assert got == want, (events, gap_ms, close_trailing)

    check()
