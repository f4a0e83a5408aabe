"""Join operators (SURVEY.md §2.3).

The reference has no relational joins — its lookups are key-value reads
(J1/J2 at cmd/tracker/main.go:118-123,191-199). Re-expressed relationally:

* ``asof_join`` — the time-series classic (latest right row with
  right_ts <= left ts per key). Implemented as union + window LOCF, i.e.
  ONE shuffle on the key, no range-join blowup — the Spark-native scale
  path for 100 TB.
* ``attribute_events_to_sessions`` — J1's re-attribution form: each event
  matched to the session of its (source, key) whose
  [started_at, ended_at] contains its ts. Gap sessions partition a key's
  timeline, so the containing session is the latest one started at or
  before the event: the as-of join plus the containment filter. Sessions
  that overlap are refused with an error, not silently given to the
  latest one; the generic interval join that would pair an event with
  every containing session is the oracle in ``tests/test_joins.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def attribute_events_to_sessions(events: DataFrame,
                                 sessions: DataFrame) -> DataFrame:
    """Each event row matched to the session whose [started_at, ended_at]
    contains its ts (same source/key): the as-of join on started_at (one
    shuffle + window LOCF) and the ended_at containment filter. The
    generic sort-merge interval join pairs every same-key
    (event, session) combination before filtering — measured ~110M pair
    evaluations / 10.3s at sf1.0 vs ~1.7s for this form.

    Exact only when a key's sessions are disjoint, as gap sessions always
    are. The as-of window checks it on the way: a session that starts at
    or before the end of the key's previous session (a NULL ended_at is
    open-ended) raises an error, where the as-of form would attribute the
    shared events to the later session only."""
    keys, vals = ["source", "key"], ["session_id", "started_at", "ended_at"]
    right = sessions.select(*keys, F.col("started_at").alias("_sts"), *vals)
    u = _union_fill(events, right, keys, "_sts", vals, end_col="ended_at")
    # one CASE, not a conjunction: the optimizer infers IS NOT NULL filters
    # from a conjunction's comparisons and puts them first, which would drop
    # a session row (ts is NULL there) before its overlap check
    overlap = (F.col("_is_left") == 0) & F.col("_prev").isNotNull() & (
        F.col("_prev.e").isNull() | (F.col("_prev.e") >= F.col("_ats")))
    keep = F.when(overlap, F.raise_error(F.concat(
        F.lit("attribute_events_to_sessions: overlapping sessions (one starts "
              "at "), F.col("_ats").cast("string"),
        F.lit(" before the previous one of its key ends, key "),
        F.concat_ws("|", *[F.col(k).cast("string") for k in keys]),
        F.lit("); the as-of attribution needs disjoint sessions")),
    )).otherwise(
        (F.col("_is_left") == 1) & F.col("_f_session_id").isNotNull()
        & F.col("ts").between(F.col("_f_started_at"), F.col("_f_ended_at")))
    return u.filter(keep).select(
        *events.columns, *[F.col(f"_f_{c}").alias(c) for c in vals])


def asof_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    right_ts: str = "ts",
    value_cols: list[str] | None = None,
) -> DataFrame:
    """As-of join: for every left row, the latest right row with
    right_ts <= left ``ts`` on the same keys.

    Union + ordered-window LOCF: right rows sort before left rows at equal
    timestamps (inclusive <=), values carry forward, left rows are emitted
    with the carried values. One hash shuffle on ``keys``; no range
    predicate, no nested loop.
    """
    value_cols = value_cols or [
        c for c in right.columns if c not in (*keys, right_ts)
    ]
    return _union_fill(left, right, keys, right_ts, value_cols).filter(
        F.col("_is_left") == 1
    ).select(*left.columns, *[F.col(f"_f_{c}").alias(c) for c in value_cols])


def _union_fill(left: DataFrame, right: DataFrame, keys: list[str],
                right_ts: str, value_cols: list[str],
                end_col: str | None = None) -> DataFrame:
    """The as-of plan before its filter: both sides' rows in one frame,
    ``_is_left`` 1 on left rows, each ``value_cols`` column carried forward
    as ``_f_{c}`` over the key's (``_ats``, ``_is_left``) order. With
    ``end_col``, also ``_ats`` and ``_prev``: on every row, a struct
    holding the ``end_col`` value (field ``e``) of the key's latest right
    row before it, NULL when there is none; it is one more function of the
    same window spec, so it adds no Window operator."""
    l_cols = [c for c in left.columns]
    clash = [c for c in value_cols if c in l_cols and c not in keys]
    if clash:
        raise ValueError(
            f"asof_join: right value columns {clash} collide with non-key "
            "left columns — rename them (the union/LOCF plan would silently "
            "overwrite the left side and emit ambiguous columns)"
        )
    lu = left.select(
        *l_cols,
        F.col("ts").alias("_ats"),
        F.lit(1).alias("_is_left"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_v_{c}")
          for c in value_cols],
    )
    ru = right.select(
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          if c not in keys else F.col(c)
          for c in l_cols],
        F.col(right_ts).alias("_ats"),
        F.lit(0).alias("_is_left"),
        *[F.col(c).alias(f"_v_{c}") for c in value_cols],
    )
    u = lu.unionByName(ru)
    w = Window.partitionBy(*keys).orderBy("_ats", "_is_left")
    prev = []
    if end_col is not None:
        # a struct, so that a right row with a NULL end still counts
        prev = ["_ats", F.last(
            F.when(F.col("_is_left") == 0,
                   F.struct(F.col(f"_v_{end_col}").alias("e"))),
            ignorenulls=True,
        ).over(w.rowsBetween(Window.unboundedPreceding, -1)).alias("_prev")]
    fill = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return u.select(
        *l_cols,
        "_is_left",
        *[
            F.last(f"_v_{c}", ignorenulls=True).over(fill).alias(f"_f_{c}")
            for c in value_cols
        ],
        *prev,
    )
