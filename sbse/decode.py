"""Decode stage: token arrays -> typed event rows.

``decode`` is pure Catalyst: the query is generated from the same SQL
template as the DuckDB oracle (``dialect.decode_sql``), so the engine and
the oracle share one definition, and the stage is whole-stage-codegen'd
with no Python worker. It preserves reference semantics exactly
(parser.go:32-211; SURVEY.md §1.3): +1-shifted field indexes, keep-zero
sentinels, arity/type validity, and the ``tokens`` array is carried through
untouched (per-row token-equality invariant, BASELINE.json input_hint).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from sbse.dialect import SPARK, decode_sql
from sbse.session import frame_sql


def decode(df: DataFrame, mode: str = "expr") -> DataFrame:
    """``mode`` accepts only ``"expr"``, the one implementation."""
    if mode != "expr":
        raise ValueError(f"unknown decode mode: {mode}")
    # a DataFrame argument gets a uniquely named view, dropped once the
    # query is analysed: no shared session-global name for threads to race on
    return frame_sql(decode_sql(SPARK, "{tok}"), tok=df)
