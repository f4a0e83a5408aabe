"""The SQL-text plan stages equal their Column-API forms.

Each stage ``run_pipeline`` builds is one ``spark.sql`` statement; its
Column-API body is kept in ``tests/column_forms.py``. Both builds must give
the same column names and types, the same rows, and the same executed
plan (AQE off, so the plan is final) up to expression ids and the
analyzer's ``_wN`` window-input aliases. The input rows hold LOCF carries
behind zero-valued leading fields, gaps of exactly ``gap_ms`` and
``gap_ms + 1``, sessions straddling 120 s chunk edges, and a key with a
single event."""

import re

import pytest

from tests import column_forms as cf
from tests.conftest import make_token_rows
from tests.test_sessionize import mk

GAP_MS = 30_000
CHUNK_MS = 120_000


def _rows():
    # key 1: zero-valued leading fields, then values that later rows carry
    # over their own zeros; gaps of exactly 30 s (same session) and 30.001 s
    # (new session)
    rows = [mk(0, 0, key=1), mk(1, 10, key=1, alt=0, lat=0, callsign=0),
            mk(2, 20, key=1, alt=7, lat=3, callsign=5, gs=2),
            mk(3, 50, key=1), mk(4, 80, key=1, ms=1, lon=4),
            mk(5, 95, key=1, sq=9, vr=3, trk=6)]
    # key 2: one session straddling the 120 s and 240 s chunk edges, then a
    # gap and a second one straddling 360 s
    rows += [mk(10 + i, s, key=2, lat=i % 2, alt=i)
             for i, s in enumerate((100, 115, 125, 140, 230, 239, 241, 260))]
    rows += [mk(20 + i, s, key=2, gs=i)
             for i, s in enumerate((340, 355, 365, 380))]
    # key 3: a single event; key 1 again from another source
    rows += [mk(30, 500, key=3, callsign=4, alt=2)]
    rows += [mk(31, 5, key=1, src="src-01"), mk(32, 36, key=1, src="src-01")]
    return rows


@pytest.fixture(scope="module")
def states(spark):
    from sbse.decode import decode
    from sbse.sessionize import states_only

    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield states_only(decode(make_token_rows(spark, _rows()))).localCheckpoint()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def plan(df) -> str:
    """The executed plan without expression, stage, plan and codegen ids or
    ``_wN`` alias numbers, which vary per build."""
    text = df._jdf.queryExecution().executedPlan().toString()
    return re.sub(r"#\d+L?|(?<=_w)\d+|(?<=QueryStage )\d+|(?<=plan_id=)\d+|"
                  r"(?<=\*\()\d+(?=\))", "", text)


def assert_same(got, want):
    assert [(f.name, f.dataType) for f in got.schema] == \
        [(f.name, f.dataType) for f in want.schema]
    assert sorted(map(repr, got.collect())) == sorted(map(repr, want.collect()))
    assert plan(got) == plan(want)


def test_locf_sessionize(states):
    from sbse.sessionize import locf_sessionize

    for close in (True, False):
        got = locf_sessionize(states, GAP_MS, close)
        assert_same(got, cf.locf_sessionize(states, GAP_MS, close))
    # the edge rows are there: key 1 splits at the 30.001 s gap, not at 30 s
    s = {r.seq: r.sidx for r in got.filter("source = 'src-00' AND `key` = 1")
         .collect()}
    assert [s[i] for i in range(6)] == [1, 1, 1, 1, 2, 2]


def test_locf_sessionize_merged_input(states):
    """Over an already merged frame only the session columns are added."""
    from sbse.sessionize import locf_merge, locf_sessionize

    merged = locf_merge(states)
    assert_same(locf_sessionize(merged, GAP_MS),
                cf.locf_sessionize(merged, GAP_MS))


def test_locf_sessionize_chunked(states):
    from sbse.bigkey import locf_sessionize_chunked

    for close in (True, False):
        assert_same(locf_sessionize_chunked(states, GAP_MS, CHUNK_MS, close),
                    cf.locf_sessionize_chunked(states, GAP_MS, CHUNK_MS, close))


def test_session_rollup(states):
    from sbse.bigkey import locf_sessionize_chunked
    from sbse.sessionize import locf_sessionize, session_rollup

    for close in (True, False):
        ev = locf_sessionize(states, GAP_MS, close)
        assert_same(session_rollup(ev), cf.session_rollup(ev))
    ev = locf_sessionize_chunked(states, GAP_MS, CHUNK_MS)
    assert_same(session_rollup(ev), cf.session_rollup(ev))


def test_tiers(states):
    from sbse.rollup import bucket_rollup, cascade, gapfill_locf

    for unit in ("minute", "hour"):
        assert_same(bucket_rollup(states, unit), cf.bucket_rollup(states, unit))
    tier = {"minute": bucket_rollup(states, "minute").localCheckpoint()}
    for finer, unit in (("minute", "hour"), ("hour", "day")):
        got = cascade(tier[finer], unit)
        assert_same(got, cf.cascade(tier[finer], unit))
        tier[unit] = got.localCheckpoint()
    for unit, t in tier.items():
        assert_same(gapfill_locf(t, unit), cf.gapfill_locf(t, unit))


def test_stage_over_cached_frame_keeps_it_cached(spark, states):
    """A stage's temporary view is dropped without uncaching: PySpark's
    ``spark.sql(..., name=df)`` drops it through ``Catalog.dropTempView``,
    which also uncaches every cached plan with the view's result — a
    persisted tier, as soon as a cascade or gap-fill was built over it."""
    from sbse.rollup import bucket_rollup, cascade, gapfill_locf

    cache = spark._jsparkSession.sharedState().cacheManager()
    tier = bucket_rollup(states, "minute").persist()
    try:
        cascade(tier, "hour")
        gapfill_locf(tier, "minute")
        assert cache.lookupCachedData(tier._jdf).isDefined()
    finally:
        tier.unpersist()
