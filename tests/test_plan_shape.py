"""Plan-shape pins for the rollup window stages, plus a source guard.

Every ``withColumn`` adds its own projection, and Catalyst plans one
``Window`` operator per projection and window spec — a chain of N window
columns over one spec becomes N sort-buffered window passes. The window
builders therefore add each dependency level's columns in one ``select``;
these tests count ``Window`` operators in executed plans (AQE off, so the
plan is final) so that a reintroduced chain fails here instead of quietly
costing run time, and reject a ``withColumn`` call inside a loop anywhere
in ``sbse/``. Plan building is priced too: a ``run_pipeline`` build stays
within a py4j round-trip budget."""

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
    """The modular chain plans 4 Window operators: LOCF, then the session
    columns in three dependency levels. The rollup is a groupBy and adds
    none, so a window-pass rollup reintroduced here fails; the chunked
    chain's benchmark alias is the same function."""
    from sbse import bigkey
    from sbse.sessionize import locf_merge, session_rollup, sessionize

    assert _windows(session_rollup(sessionize(locf_merge(states)))) == 4
    assert bigkey.session_rollup_agg is session_rollup


def test_plain_stage_window_count(spark, states):
    """The plain stage runs LOCF and the session opener in one window pass:
    3 Window operators (LOCF + opener, ordinal + start, per-key max sidx),
    and so do q04 and q05. q15 reads no ``is_open``, and its literal
    close_trailing folds ``ended_at`` off ``is_trailing``: the opener, the
    ordinal and the as-of join's LOCF."""
    from sbse.queries import (q04_sessions_gap30, q05_sessions_gap300,
                              q15_interval_join)
    from sbse.sessionize import locf_sessionize, session_rollup

    assert _windows(session_rollup(locf_sessionize(states))) == 3
    assert _windows(q04_sessions_gap30(spark, SF_DIR)) == 3
    assert _windows(q05_sessions_gap300(spark, SF_DIR)) == 3
    assert _windows(q15_interval_join(spark, SF_DIR)) == 3


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


def test_dataframe_debugging_off(spark):
    """``get_spark`` turns PySpark's per-Column call-site capture off; with
    it on, every Column call makes ~6 extra py4j round trips."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


@pytest.mark.parametrize("kw", [{}, {"bigkey_chunk_ms": 120_000, "cache_tiers": True}],
                         ids=["plain", "bigkey"])
def test_pipeline_build_round_trips(spark, monkeypatch, kw):
    """Building ``run_pipeline``'s plans costs O(stages) py4j round trips,
    not one per expression node: each stage is SQL text, one JVM call to
    analyse. The count covers every ``send_command`` while the outputs are
    built (proxy deletes from py4j's finalizer thread included), and the
    barriers' ``localCheckpoint`` and job-description calls but not the
    jobs they run inside the JVM. The Column-API build took ~4k (plain) and ~6k (bigkey)."""
    from sbse.pipeline import run_pipeline
    from sbse.tokens import synth

    tok = synth(spark, 5_000)
    client = spark.sparkContext._gateway._gateway_client
    send, calls = client.send_command, []

    def counted(*args, **kwargs):
        calls.append(1)
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counted)
    run_pipeline(tok, gap_ms=30_000, **kw)
    monkeypatch.undo()
    assert len(calls) <= 1_000, len(calls)


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


# The (ts, seq) window order and the LOCF nullif as SQL text. The DuckDB
# oracle (oracle.py) is the independent reference the engine is checked
# against, so its SQL is not an engine route and its text is not scanned.
_TS_SEQ_ORDER = re.compile(r"ORDER\s+BY\s+`?ts`?\s*(?:ASC\s*)?,\s*`?seq`?\b",
                           re.IGNORECASE)
_NULLIF = re.compile(r"\bnullif\s*\(", re.IGNORECASE)


def _top_name(node):
    """The name a top-level statement defines: a function or class name,
    or the target of a module-level assignment."""
    if isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
        targets = getattr(node, "targets", None) or [node.target]
        return ", ".join(ast.unparse(t) for t in targets)
    return getattr(node, "name", None)


def _sites(tree, attr: str, text, args=None, scan_text: bool = True) -> set:
    """Top-level names in ``tree`` holding either form of one construct:
    a Column call ``.attr(...)`` (whose constant arguments are ``args``,
    when given), or a string literal, f-string parts included, that
    ``text`` matches."""
    hits = set()
    for top in tree.body:
        for node in ast.walk(top):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == attr
                    and (args is None or [a.value for a in node.args
                                          if isinstance(a, ast.Constant)] == args)):
                hits.add(_top_name(top))
            if (scan_text and isinstance(node, ast.Constant)
                    and isinstance(node.value, str) and text.search(node.value)):
                hits.add(_top_name(top))
    return hits


def _event_order_sites() -> tuple[set, set]:
    """(file, top-level name) of every (ts, seq) window order and every
    LOCF nullif in ``sbse/``, in either form."""
    order, nullif = set(), set()
    for path in sorted(SBSE.rglob("*.py")):
        rel = path.relative_to(SBSE).as_posix()
        tree = ast.parse(path.read_text(), filename=str(path))
        text = rel != "oracle.py"
        order |= {(rel, n) for n in _sites(tree, "orderBy", _TS_SEQ_ORDER,
                                           ["ts", "seq"], text)}
        nullif |= {(rel, n) for n in _sites(tree, "nullif", _NULLIF,
                                            scan_text=text)}
    return order, nullif


def test_one_event_order_pass_per_family():
    """Each per-key event-order window family has one implementation that
    the plain and chunked routes share: the (ts, seq) order is built only
    in the session pass and the counter lag, and the LOCF ``nullif`` only
    in the session pass — as SQL text or as a Column call."""
    order, nullif = _event_order_sites()
    assert order == {("sessionize.py", "local_pass"),
                     ("rollup.py", "counter_lag")}
    assert nullif == {("sessionize.py", "local_pass")}


def test_event_order_guard_sees_both_forms():
    """The guard above finds a second copy in either form: SQL text (plain
    or f-string, any case and spacing, backticked) or a Column call."""
    tree = ast.parse(
        'def a(p):\n    return f"OVER (PARTITION BY {p} order by `ts`,  seq)"\n'
        'def b(w):\n    return w.orderBy("ts", "seq")\n'
        'def c(w):\n    return w.orderBy("ts")\n'
        'X = "lag(v) OVER (ORDER BY ts ASC, seq)"\n'
        'def d(F, c):\n    return F.nullif(c, F.lit(0))\n'
        'def e():\n    return "last(NULLIF (x, 0), true)"\n')
    assert _sites(tree, "orderBy", _TS_SEQ_ORDER, ["ts", "seq"]) == {"a", "b", "X"}
    assert _sites(tree, "nullif", _NULLIF) == {"d", "e"}


def _is_accumulate(node) -> bool:
    """``acc = acc + <product>``, ``acc += <product>`` or an in-place
    ``np.add(..., out=...)``: one step of a multiply-add fold."""
    def product(e):
        return (isinstance(e, ast.BinOp) and isinstance(e.op, ast.Mult))

    if isinstance(node, ast.AugAssign):
        return isinstance(node.op, ast.Add) and product(node.value)
    if isinstance(node, ast.BinOp) and isinstance(node.op, ast.Add):
        return product(node.left) or product(node.right)
    return (isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "add"
            and any(k.arg == "out" for k in node.keywords))


def test_one_ordered_fold_loop():
    """The ascending-dimension multiply-add fold that keeps the embedding
    cosines bit-identical to the oracle's ordered list_sum has one numpy
    implementation: a loop that accumulates a product exists in
    ``similarity.py`` only inside ``_fold``."""
    path = SBSE / "datapipe" / "similarity.py"
    tree = ast.parse(path.read_text(), filename=str(path))
    hits = set()
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.Lambda)):
            continue
        for loop in ast.walk(fn):
            if (isinstance(loop, (ast.For, ast.While))
                    and any(_is_accumulate(n) for n in ast.walk(loop))):
                hits.add(getattr(fn, "name", "<lambda>"))
    assert hits == {"_fold"}, sorted(hits)
