"""F2 parser fixture vectors (port of reference parser_test.go:11-111,
asserting the *actual* +1-shifted semantics per SURVEY.md §1.3) + a
cross-check of the Catalyst decode against an independent Python decoder
on synthetic data."""

import pytest

from tests.conftest import make_token_rows


def _msg8_full():
    # analog of parser_test.go:21 'valid position message' — full MSG,8 line
    t = [0] * 23
    t[0] = 0        # MSG
    t[1] = 8
    t[2] = 100      # +100 s
    t[3] = 500      # +500 ms
    t[5] = 42       # hex/key (canonical 4 + shift 1 — parser.go:104)
    t[11] = 777     # callsign slot (ignored for type 8)
    t[12] = 35000   # altitude (canonical 11 + 1 — parser.go:149-153)
    t[13] = 450     # ground_speed
    t[14] = 180     # track
    t[15] = 40      # lat
    t[16] = -74     # lon
    t[17] = 64      # vertical_rate
    t[18] = 1234    # squawk
    t[22] = 1       # on_ground
    return t


def _sq(v):
    t = _msg8_full()
    t[18] = v
    return t


CASES = [
    ("msg8_full", _msg8_full(), dict(
        ok=True, prefix="MSG", msg_type=8, key=42, callsign="",
        altitude=35000, ground_speed=450.0, track=180.0, lat=40.0, lon=-74.0,
        vertical_rate=64, squawk="1234", on_ground=True)),
    ("msg4_callsign", [4, 4, 10, 0, 4, 99, 0, 0, 0, 0, 0, 7788] + [0] * 10, dict(
        ok=True, msg_type=4, key=99, callsign="7788", altitude=0,
        ground_speed=0.0, squawk="", on_ground=False)),
    ("msg8_no_onground_22", _msg8_full()[:22], dict(
        ok=True, msg_type=8, on_ground=False)),
    ("short_msg_fails", [0, 8, 10, 0, 4, 99, 0, 0, 0, 0, 0, 5], dict(
        ok=False, msg_type=None, key=None)),
    ("msg99_fails", [0, 99] + [0] * 21, dict(ok=False, msg_type=None)),
    ("msg1_no_key", [0, 1, 10, 0, 4, 99] + [0] * 17, dict(
        ok=True, msg_type=1, key=None)),
    ("msg2_no_key", [0, 2, 10, 0, 4, 99] + [0] * 17, dict(
        ok=True, msg_type=2, key=None)),
    ("sta_minimal", [1, 5, 50, 0, 77, 0, 0, 0, 0, 4321], dict(
        ok=True, prefix="STA", msg_type=10, key=77, callsign="4321",
        altitude=0, on_ground=False)),
    ("air_minimal", [2, 0, 50, 0, 78, 0, 0, 0, 0, 0], dict(
        ok=True, prefix="AIR", msg_type=11, key=78, callsign="")),
    ("id_minimal", [3, 0, 50, 0, 79, 0, 0, 0, 0, 9], dict(
        ok=True, prefix="ID", msg_type=12, key=79, callsign="9")),
    ("sta_too_short", [1, 5, 50, 0, 77, 0, 0, 0, 0], dict(ok=False)),
    ("alt_sentinel", [0, 5, 10, 0, 4, 99, 0, 0, 0, 0, 0, 0, -999999] + [0] * 9,
     dict(ok=True, msg_type=5, altitude=0)),
    ("squawk_zero", _sq(0), dict(ok=True, squawk="0000")),
    ("squawk_long", _sq(12345), dict(ok=True, squawk="12345")),
    ("squawk_sentinel", _sq(-999999), dict(ok=True, squawk="")),
    ("callsign_zero", [4, 4, 10, 0, 4, 99, 0, 0, 0, 0, 0, 0] + [0] * 10, dict(
        ok=True, msg_type=4, callsign="")),
]


@pytest.mark.parametrize("mode", ["expr"])
def test_fixture_vectors(spark, mode):
    from sbse.decode import decode

    rows = [(f"d{i:012d}", t, "src-00") for i, (_, t, _) in enumerate(CASES)]
    df = make_token_rows(spark, rows)
    got = {r["doc_id"]: r.asDict() for r in decode(df, mode).collect()}
    for i, (name, _tokens, want) in enumerate(CASES):
        row = got[f"d{i:012d}"]
        for col, val in want.items():
            assert row[col] == val, f"{name}[{mode}].{col}: {row[col]!r} != {val!r}"


@pytest.mark.parametrize("mode", ["expr"])
def test_against_independent_python_decoder(spark, mode):
    """Engine decode vs a from-the-spec Python decoder, on the
    deterministic synthetic mix."""
    from sbse.decode import decode
    from sbse.tokens import synth
    from tests.ref_decoder import decode_row

    tok = synth(spark, 500)
    inp = tok.collect()
    got = {r["doc_id"]: r.asDict() for r in decode(tok, mode).collect()}
    assert len(got) == 500
    for r in inp:
        want = decode_row(r.doc_id, list(r.tokens), r.n_tok, r.source)
        have = got[r.doc_id]
        for col, val in want.items():
            h = have[col]
            if col == "ts" and h is not None:
                h = h.replace(tzinfo=None)
                val = val.replace(tzinfo=None) if val else val
            assert h == val, f"{r.doc_id}.{col}: {h!r} != {val!r}"


def test_token_array_equality_invariant(spark):
    """BASELINE.json input_hint: decode carries tokens through untouched —
    per-row exact token-array equality vs the source table."""
    from pyspark.sql import functions as F

    from sbse.decode import decode
    from sbse.tokens import synth

    tok = synth(spark, 2000)
    dec = decode(tok).select("doc_id", F.col("tokens").alias("tokens_out"))
    j = tok.join(dec, "doc_id")
    bad = j.filter(~(F.col("tokens") == F.col("tokens_out"))).count()
    assert bad == 0, f"{bad} rows mutated tokens"
    assert j.count() == 2000


def test_sources_and_decode_leave_no_temp_views(spark):
    """Building a token table and decoding it registers no view in the
    caller's catalog: a shared session-global view name would be raced on
    by threads building pipelines, and would outlive the call."""
    from sbse.decode import decode
    from sbse.tokens import synth, token_table_from_events
    from tests.conftest import SF_DIR

    session = spark.newSession()  # temp views are per session
    before = sorted(t.name for t in session.catalog.listTables())
    assert decode(synth(session, 200), mode="expr").count() == 200
    assert decode(token_table_from_events(session, SF_DIR),
                  mode="expr").count() > 0
    assert sorted(t.name for t in session.catalog.listTables()) == before


def test_decode_refuses_unknown_mode(spark):
    """``"expr"`` is the only decode; any other mode is refused by ``decode``
    and by ``run_pipeline`` before a job runs, never silently mapped."""
    from sbse.decode import decode
    from sbse.pipeline import run_pipeline
    from sbse.tokens import synth

    tok = synth(spark, 10)
    with pytest.raises(ValueError, match="arrow"):
        decode(tok, "arrow")
    with pytest.raises(ValueError, match="arrow"):
        run_pipeline(tok, decode_mode="arrow")
