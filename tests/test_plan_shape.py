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
    from sbse.sessionize import locf_merge, session_rollup, sessionize

    assert _windows(session_rollup(sessionize(locf_merge(states)))) <= 6


def test_locf_merge_chunked_one_window_before_checkpoint(states, monkeypatch):
    """The chunk-local LOCF frame — the one localCheckpoint materializes —
    computes all eight carry columns in one Window operator."""
    from sbse.bigkey import locf_merge_chunked

    seen = []
    frame_cls = type(states)
    checkpoint = frame_cls.localCheckpoint

    def spy(self, *args, **kwargs):
        seen.append(self)
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "localCheckpoint", spy)
    locf_merge_chunked(states, chunk_ms=120_000)
    assert len(seen) == 1
    assert _windows(seen[0]) == 1


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
