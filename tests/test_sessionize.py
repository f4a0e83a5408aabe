"""F3 session-boundary + LOCF merge fixtures (port of reference
cmd/tracker/main_test.go:141-450 semantics)."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import make_token_rows


def mk(i, secs, key, ms=0, mt=8, callsign=0, alt=0, gs=0, trk=0, lat=0,
       lon=0, vr=0, sq=0, og=0, src="src-00"):
    """Build one MSG token row."""
    t = [0] * 23
    t[0], t[1], t[2], t[3], t[5] = 0, mt, secs, ms, key
    t[11], t[12], t[13], t[14], t[15], t[16], t[17], t[18], t[22] = (
        callsign, alt, gs, trk, lat, lon, vr, sq, og)
    return (f"d{i:012d}", t, src)


def _run(spark, rows, gap_ms, close_trailing=True):
    from sbse.decode import decode
    from sbse.sessionize import locf_merge, session_rollup, sessionize, states_only

    df = make_token_rows(spark, rows)
    merged = locf_merge(states_only(decode(df, "expr")))
    sess = sessionize(merged, gap_ms=gap_ms, close_trailing=close_trailing)
    return session_rollup(sess)


def test_gap30_splits_sessions(spark):
    """Events at +0,5,20,55,120 s, gap=30 s -> sessions {0,5,20},{55},{120}
    (the tracker's inactivity rule, main.go:234-252, at the north-star 30s)."""
    rows = [mk(i, s, key=7) for i, s in enumerate([0, 5, 20, 55, 120])]
    out = _run(spark, rows, 30_000).orderBy("started_at").collect()
    assert [r.n_events for r in out] == [3, 1, 1]
    assert [r.started_at.second for r in out] == [0, 55, 0]
    assert out[0].ended_at.second == 20
    # deterministic surrogate ids, stable across runs (W3)
    again = _run(spark, rows, 30_000).orderBy("started_at").collect()
    assert [r.session_id for r in out] == [r.session_id for r in again]
    assert len({r.session_id for r in out}) == 3


def test_gap300_single_session(spark):
    """Same events, reference 5-min gap -> one session
    (main_test.go:296-316 update-existing path)."""
    rows = [mk(i, s, key=7) for i, s in enumerate([0, 5, 20, 55, 120])]
    out = _run(spark, rows, 300_000).collect()
    assert len(out) == 1
    assert out[0].n_events == 5
    assert out[0].started_at.second == 0 and out[0].ended_at.minute == 2


def test_close_trailing_false_leaves_open(spark):
    """The reference never closes a session without a successor message
    (SURVEY.md §2.9): trailing session gets ended_at NULL."""
    rows = [mk(i, s, key=7) for i, s in enumerate([0, 5, 120])]
    out = _run(spark, rows, 30_000, close_trailing=False).orderBy("started_at").collect()
    assert out[0].ended_at is not None      # closed by successor gap
    assert out[1].ended_at is None          # trailing: open
    assert out[1].is_open


def test_two_keys_interleaved_no_crosstalk(spark):
    rows = []
    i = 0
    for s in [0, 10, 200]:
        rows.append(mk(i, s, key=1)); i += 1
        rows.append(mk(i, s + 2, key=2)); i += 1
    out = _run(spark, rows, 30_000)
    per_key = {r["key"]: r["n"] for r in
               out.groupBy("key").agg(F.count("*").alias("n")).collect()}
    assert per_key == {1: 2, 2: 2}  # each key: {0,10} then {200}


def test_locf_merge_vector(spark):
    """mergeStates port (tracker main.go:159-186; main_test.go:383-421):
    non-zero fields override, zero fields do NOT, on_ground/ts always do."""
    rows = [
        # callsign arrives on a type-4 message (parser.go:116)
        mk(0, 0, key=5, mt=4, callsign=1111),
        # full position state (like existing AircraftState in the Go test)
        mk(1, 2, key=5, alt=10000, gs=250, trk=90, lat=40,
           lon=-74, vr=500, sq=7700, og=1),
        # new callsign: non-zero -> overrides
        mk(2, 4, key=5, mt=4, callsign=2222),
        # update: new altitude; everything else zero/unparseable; og back to 0
        mk(3, 6, key=5, alt=11000, sq=-999999),
    ]
    from sbse.decode import decode
    from sbse.sessionize import locf_merge, states_only

    df = make_token_rows(spark, rows)
    m = locf_merge(states_only(decode(df, "expr"))).orderBy("ts").collect()
    last = m[-1]
    assert last.callsign_m == "2222"          # non-zero overrides
    assert last.altitude_m == 11000
    assert last.ground_speed_m == 250.0       # zero does NOT override
    assert last.track_m == 90.0
    assert last.lat_m == 40.0 and last.lon_m == -74.0
    assert last.vertical_rate_m == 500
    assert last.squawk_m == "7700"            # unparseable squawk keeps old
    assert last.on_ground is False            # always overwritten (main.go:182-184)
    # mid-sequence: zeros on the type-4 rows never clobbered the position
    assert m[2].lat_m == 40.0 and m[2].altitude_m == 10000


def test_session_rollup_first_last_max(spark):
    """A1 semantics: first_*/last_* at session boundaries over merged values;
    max_* across the session (tracker main.go:207-232)."""
    rows = [
        mk(0, 0, key=9, lat=10, lon=20, alt=100, gs=50),
        mk(1, 5, key=9, lat=0, lon=0, alt=300, gs=40),   # zeros -> LOCF carries 10/20
        mk(2, 9, key=9, lat=30, lon=40, alt=200, gs=60),
    ]
    out = _run(spark, rows, 30_000).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.first_lat, r.first_lon) == (10.0, 20.0)
    assert (r.last_lat, r.last_lon) == (30.0, 40.0)
    assert r.max_altitude == 300
    assert r.max_ground_speed == 60.0
    assert r.max_ground_speed_i == 60
    assert r.n_events == 3


def test_validation_gate(spark):
    """Gate vector (main_test.go:242-255): invalid key -> no states/sessions;
    default_valid covers the mock-vs-real divergence (SURVEY.md §7.4)."""
    from sbse.pipeline import run_pipeline

    rows = [mk(0, 0, key=5), mk(1, 5, key=6), mk(2, 9, key=7)]
    df = make_token_rows(spark, rows)
    dim = spark.createDataFrame([(5, False), (6, True)], "key bigint, valid boolean")
    # mock semantics: missing key (7) -> valid
    out = run_pipeline(df, decode_mode="expr", validation=dim,
                       default_valid=True, with_gorilla=False)
    keys = {r.key for r in out["sessions"].collect()}
    assert keys == {6, 7}
    # real-redis semantics: missing -> invalid (redis/client.go:141-143)
    out2 = run_pipeline(df, decode_mode="expr", validation=dim,
                        default_valid=False, with_gorilla=False)
    assert {r.key for r in out2["sessions"].collect()} == {6}


def test_partition_invariance(spark):
    """Session ids/rollups identical regardless of input partitioning —
    the determinism that makes N-vs-4N-executor runs byte-comparable."""
    rows = [mk(i, s, key=k) for i, (s, k) in enumerate(
        [(s, k) for k in (1, 2, 3) for s in (0, 10, 100, 110, 400)])]
    df = make_token_rows(spark, rows)
    from sbse.decode import decode
    from sbse.sessionize import locf_merge, session_rollup, sessionize, states_only

    def run(d):
        m = locf_merge(states_only(decode(d, "expr")))
        return session_rollup(sessionize(m, gap_ms=30_000))

    a = sorted(map(str, run(df).collect()))
    b = sorted(map(str, run(df.repartition(13)).collect()))
    assert a == b


def test_max_ground_speed_rounds_half_even(spark):
    """Go float64 -> Postgres INTEGER coercion rounds half-to-even
    (schema.sql:40); the engine uses bround so exact .5 speeds match the
    reference (round() would round half away from zero)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(2.5,), (3.5,), (-2.5,)], "v double")
    got = [r[0] for r in df.select(
        F.bround("v").cast("bigint")).collect()]
    assert sorted(got) == [-2, 2, 4]


def test_sessionize_property_random_streams(spark):
    """Property: for random per-key event-time streams (duplicates and
    bursts included) whose events carry a random zero or non-zero altitude,
    the plain stage and the chunked stage (2-minute chunks, which the
    streams cross) both equal an independent Python reference: per-event
    LOCF ``altitude_m``, and per-session boundaries, event counts and
    ``max_altitude``. The reference shares no code with the window pass
    that both stages run."""
    from hypothesis import example, given, settings
    from hypothesis import strategies as st

    from sbse.bigkey import locf_sessionize_chunked
    from sbse.decode import decode
    from sbse.sessionize import locf_sessionize, session_rollup, states_only

    gap_s = 30
    stages = {
        "plain": lambda d: locf_sessionize(d, gap_ms=gap_s * 1000),
        "chunked": lambda d: locf_sessionize_chunked(
            d, gap_ms=gap_s * 1000, chunk_ms=120_000),
    }

    @settings(max_examples=6, deadline=None)
    @given(st.lists(
        st.tuples(st.integers(min_value=0, max_value=3600),
                  st.one_of(st.just(0), st.integers(min_value=1,
                                                    max_value=45_000))),
        min_size=1, max_size=40))
    # sessions and LOCF runs straddling the 120 s and 240 s chunk edges,
    # with gaps of exactly 30 s (same session) and 31 s (a new one)
    @example([(100, 0), (110, 500), (125, 0), (155, 0), (186, 0), (239, 700),
              (241, 0), (241, 0), (271, 0), (400, 0), (480, 900)])
    def check(events):
        # stable sort: equal seconds keep list order, which is seq order
        events = sorted(events, key=lambda e: e[0])
        rows = [mk(i, s, key=1, alt=a) for i, (s, a) in enumerate(events)]
        st_df = states_only(
            decode(make_token_rows(spark, rows), "expr")).localCheckpoint()

        # independent reference: LOCF in arrival order (a zero altitude is
        # missing), and the sorted times split on gap > 30 s
        want_alt, last = {}, 0
        for i, (_, a) in enumerate(events):
            last = a or last
            want_alt[f"d{i:012d}"] = last
        runs = [[0]]
        for i in range(1, len(events)):
            if events[i][0] - events[runs[-1][-1]][0] > gap_s:
                runs.append([i])
            else:
                runs[-1].append(i)
        want = sorted(
            (events[r[0]][0], events[r[-1]][0], len(r),
             max(want_alt[f"d{i:012d}"] for i in r))
            for r in runs)

        for name, stage in stages.items():
            ev = stage(st_df)
            got_alt = {r.doc_id: r.altitude_m
                       for r in ev.select("doc_id", "altitude_m").collect()}
            assert got_alt == want_alt, (name, events)
            got = sorted(
                (int(r.started_at.timestamp()), int(r.ended_at.timestamp()),
                 r.n_events, r.max_altitude)
                for r in session_rollup(ev).collect())
            base = got[0][0] - want[0][0]  # epoch offset of mk()
            expect = [(a + base, b + base, n, m) for a, b, n, m in want]
            assert got == expect, (name, events, got, expect)

    check()
