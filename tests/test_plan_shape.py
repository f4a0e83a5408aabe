"""Plan-shape pins for the rollup window stages, plus a source guard.

Every ``withColumn`` adds its own projection, and Catalyst plans one
``Window`` operator per projection and window spec — a chain of N window
columns over one spec becomes N sort-buffered window passes. The window
builders therefore add each dependency level's columns in one ``select``;
these tests count ``Window`` operators in executed plans (AQE off, so the
plan is final) so that a reintroduced chain fails here instead of quietly
costing run time, and reject a ``withColumn`` call inside a loop anywhere
in ``sbse/``."""

import ast
import pathlib
import re

import pytest
from pyspark.sql import DataFrame

from tests.conftest import SF_DIR

SBSE = pathlib.Path(__file__).resolve().parent.parent / "sbse"


def _windows(df: DataFrame) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(1 for line in plan.splitlines()
               if re.match(r"^[\s:|+\-]*Window \[", line))


@pytest.fixture
def states(spark):
    from sbse.queries import _decoded
    from sbse.sessionize import states_only

    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield states_only(_decoded(spark, SF_DIR)).localCheckpoint()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def test_locf_merge_one_window(states):
    from sbse.sessionize import locf_merge

    assert _windows(locf_merge(states)) == 1


def test_session_chain_window_count(states):
    """The plain chain plans 4 Window operators: LOCF, then the session
    columns in three dependency levels. The rollup is a groupBy and adds
    none, so a window-pass rollup reintroduced here fails; the chunked
    chain's benchmark alias is the same function."""
    from sbse import bigkey
    from sbse.sessionize import locf_merge, session_rollup, sessionize

    assert _windows(session_rollup(sessionize(locf_merge(states)))) == 4
    assert bigkey.session_rollup_agg is session_rollup


def test_chunked_stage_window_count(spark, states):
    """The chunked LOCF + sessionize stage, with its full session contract,
    plans 7 Window operators: each of its two readers of the window frame
    (summary groupBy, join probe) runs the chunk-local LOCF and session
    columns in two, plus three over the per-chunk summary. q34 runs the
    same stage under its groupBy rollup."""
    from sbse.bigkey import locf_sessionize_chunked
    from sbse.queries import q34_sessions_bigkey

    assert _windows(locf_sessionize_chunked(states, 30_000, 120_000)) == 7
    assert _windows(q34_sessions_bigkey(spark, SF_DIR)) == 7


def test_no_with_column_in_loops():
    """A ``withColumn`` inside a ``for``/``while`` loop (comprehensions
    included) builds one projection per iteration; build the columns as a
    list and add them in one ``select``."""
    loops = (ast.For, ast.AsyncFor, ast.While, ast.ListComp, ast.SetComp,
             ast.DictComp, ast.GeneratorExp)
    hits = []
    for path in sorted(SBSE.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for loop in ast.walk(tree):
            if not isinstance(loop, loops):
                continue
            for node in ast.walk(loop):
                if (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr == "withColumn"):
                    hits.append(f"{path.relative_to(SBSE.parent)}:{node.lineno}")
    assert not hits, sorted(set(hits))
