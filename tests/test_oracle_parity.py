"""Spark-engine vs DuckDB-oracle parity for every oracle-checked query —
a local replica of the driver's correctness gate (row count + schema names +
order-insensitive values)."""

import math
import os

import pandas as pd
import pytest

from tests.conftest import SF_DIR

# the second oracle scale for the session rollup: sf0.01 beside SF_DIR
SF2_DIR = os.environ.get(
    "SBSE_TEST_SF2_DIR", os.path.join(os.path.dirname(SF_DIR), "sf0.01"))


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if str(s.dtype).startswith(("float", "Float")):
            df[c] = s.astype("float64").round(9)
        elif str(s.dtype).startswith(("int", "Int", "uint", "UInt")):
            df[c] = s.astype("Int64")
        elif str(s.dtype).startswith("datetime"):
            df[c] = s.astype("datetime64[us]")
        elif str(s.dtype) in ("bool", "boolean", "object"):
            df[c] = s.astype("object").where(s.notna(), None)
    return df.sort_values(list(df.columns), ignore_index=True)


def _pairs():
    from sbse.oracle import oracles
    from sbse.queries import all_queries

    o = oracles()
    q = all_queries()
    assert set(o) <= set(q), f"oracle without query: {set(o) - set(q)}"
    return sorted(o)


def _assert_matches_oracle(spark, duck, name, sf_dir):
    from sbse.oracle import oracles
    from sbse.queries import all_queries

    got = all_queries()[name](spark, sf_dir).toPandas()
    want = duck.execute(oracles()[name]).df()
    assert sorted(got.columns) == sorted(want.columns), (
        f"{name}: columns {sorted(got.columns)} != {sorted(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: rows {len(got)} != {len(want)}"
    g, w = _normalize(got), _normalize(want)
    pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=False,
                                  rtol=1e-9, atol=1e-12, obj=name)


@pytest.mark.parametrize("name", _pairs())
def test_query_matches_oracle(spark, duck, name):
    _assert_matches_oracle(spark, duck, name, SF_DIR)


@pytest.fixture(scope="module")
def duck_sf2():
    import duckdb

    con = duckdb.connect()
    path = f"{SF2_DIR}/events.parquet"
    assert os.path.exists(path), f"second-scale fixture missing: {path}"
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{path}'")
    yield con
    con.close()


@pytest.mark.parametrize(
    "name", ["q04_sessions_gap30", "q05_sessions_gap300", "q34_sessions_bigkey"])
def test_session_rollup_matches_oracle_second_scale(spark, duck_sf2, name):
    """The one session rollup, over the plain chain at both gaps and over
    the chunked chain, against the DuckDB oracle at a second, 10x scale."""
    _assert_matches_oracle(spark, duck_sf2, name, SF2_DIR)


def test_all_queries_run(spark):
    """Engine-only queries (no oracle) still execute and return rows."""
    from sbse.oracle import oracles
    from sbse.queries import all_queries

    engine_only = set(all_queries()) - set(oracles())
    for name in sorted(engine_only):
        df = all_queries()[name](spark, SF_DIR)
        n = df.count()
        assert n >= 0, name
        assert not math.isnan(n)
