"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship end-to-end pipeline (token table -> decode
-> LOCF merge -> gap sessionization -> 1m rollup tier) on sf0.001.
``queries``/``oracle_sql`` expose every implemented operator with its DuckDB
oracle (see sbse/oracle.py for the generated SQL).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

_HERE = os.path.dirname(os.path.abspath(__file__))
if _HERE not in sys.path:
    sys.path.insert(0, _HERE)

from pyspark.sql import DataFrame, SparkSession  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from sbse.pipeline import run_pipeline
    from sbse.session import ensure_shipped
    from sbse.tokens import token_table_from_events

    ensure_shipped(spark)
    tok = token_table_from_events(spark, "/root/testdata/sf0.001")
    out = run_pipeline(tok, gap_ms=30_000, with_gorilla=False)
    return out["rollup_1m"]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from sbse.queries import all_queries

    return all_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL per query (engine-only ops omitted)."""
    from sbse.oracle import oracles

    return oracles()
