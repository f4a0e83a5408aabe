"""LOCF state merge + gap-based sessionization + session rollups.

Re-expresses the reference tracker's per-key in-memory state machine
(cmd/tracker/main.go:96-263) as window functions over event time plus one
groupBy:

* ``locf_merge`` — W1: mergeStates (tracker main.go:159-186). Each field is
  carried forward per key, updated only when the new value is non-zero
  ("zero = missing"); ``on_ground`` and ``ts`` always take the current row.
* ``sessionize`` — W2/W3: the 5-minute (parameterized; 30 s north-star)
  inactivity close rule (tracker main.go:234-252) as lag + cumulative sum;
  session ids are deterministic sha256 surrogates (uuid.New at tracker
  main.go:204 is non-reproducible, incompatible with exactness checks).
* ``session_rollup`` — A1: per-session first/last/max aggregates
  (tracker main.go:189-263; flights DDL schema.sql:29-46) as one
  partial-aggregatable groupBy on (source, key, sidx). It is the only
  session rollup: the plain chain, the chunked monster-key chain
  (``bigkey``) and q34 all end in it.

Scale notes: the whole stage costs exactly ONE shuffle (hash partition by
(source, key)); every window here shares that partitioning and sort, and the
session rollup's groupBy reuses it, with map-side partial aggregation on
top. Ordering is total and deterministic: (ts, seq) with seq a data-derived
tiebreak (arrival order at the reference becomes explicit order here —
SURVEY.md §7.4). Columns are built with one ``select`` per dependency
level, never a ``withColumn`` chain: Catalyst plans one ``Window`` operator
per projection and window spec, so a chain of N window columns over one
spec costs N sort-buffered window passes where one suffices
(tests/test_plan_shape.py pins the count).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.window import WindowSpec

from sbse import GAP_MS_NORTH

KEY_COLS = ("source", "key")

# (column, zero-value) pairs for LOCF "update only if non-zero" semantics
# (tracker main.go:162-184).
_MERGE_FIELDS = [
    ("callsign", ""),
    ("altitude", 0),
    ("ground_speed", 0.0),
    ("track", 0.0),
    ("lat", 0.0),
    ("lon", 0.0),
    ("vertical_rate", 0),
    ("squawk", ""),
]


def _w_run():
    return (
        Window.partitionBy(*KEY_COLS)
        .orderBy("ts", "seq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )


def ord_col() -> Column:
    """Arrival-order key for engine-side min_by/max_by: a (ts, seq) struct
    (lexicographic struct comparison). The DuckDB oracle uses the equivalent
    zero-padded string (dialect.ord_expr) because DuckDB 1.0's max_by cannot
    order by a row value — the two orderings are identical."""
    return F.struct(F.col("ts"), F.col("seq"))


def session_id_col(start: Column, sidx: Column) -> Column:
    """Deterministic session surrogate: sha256 of source|key|start ms|sidx."""
    return F.sha2(
        F.concat_ws(
            "|",
            F.col("source"),
            F.col("key").cast("string"),
            F.unix_millis(start).cast("string"),
            sidx.cast("string"),
        ),
        256,
    )


def new_session_flag(w: WindowSpec, gap_ms: int) -> Column:
    """1 on a row that opens a session under ``w``'s (ts, seq) order: the
    first row, or one more than ``gap_ms`` after its predecessor; else 0."""
    prev_ms = F.lag(F.unix_millis("ts")).over(w)
    return F.when(
        prev_ms.isNull() | (F.unix_millis("ts") - prev_ms > F.lit(gap_ms)),
        F.lit(1),
    ).otherwise(F.lit(0))


def states_only(decoded: DataFrame) -> DataFrame:
    """Rows that produce aircraft-state analogs: parsed AND keyed
    (MSG types 1,2 carry no key — parser.go:103-110)."""
    return decoded.filter(F.col("ok") & F.col("key").isNotNull())


def locf_merge(states: DataFrame) -> DataFrame:
    """W1 — per-key last-observation-carried-forward merge."""
    w = _w_run()
    return states.select(
        "*",
        *[
            F.coalesce(
                F.last(F.nullif(F.col(c), F.lit(zero)), ignorenulls=True).over(w),
                F.lit(zero),
            ).alias(f"{c}_m")
            for c, zero in _MERGE_FIELDS
        ],
    )


def sessionize(
    merged: DataFrame,
    gap_ms: int = GAP_MS_NORTH,
    close_trailing: bool = True,
) -> DataFrame:
    """W2/W3 — assign session_id per event row.

    Adds: new_sess (1 on session opener), sidx (per-key session ordinal),
    s_start (session first ts, via running LOCF of the opener's ts — no
    second shuffle), session_id (deterministic sha256), is_trailing (the
    key's last session — never closed by a successor, i.e. "active":
    flights.ended_at IS NULL analog, db/client.go:38).
    """
    w = _w_run()
    w_order = Window.partitionBy(*KEY_COLS).orderBy("ts", "seq")
    df = merged.select("*", new_session_flag(w_order, gap_ms).alias("new_sess"))
    df = df.select(
        "*",
        F.sum("new_sess").over(w).alias("sidx"),
        F.last(F.when(F.col("new_sess") == 1, F.col("ts")),
               ignorenulls=True).over(w).alias("s_start"),
    )
    return df.select(
        "*",
        session_id_col(F.col("s_start"), F.col("sidx")).alias("session_id"),
        (F.col("sidx") == F.max("sidx").over(Window.partitionBy(*KEY_COLS)))
        .alias("is_trailing"),
        F.lit(close_trailing).alias("close_trailing"),
    )


def session_rollup(sess_events: DataFrame) -> DataFrame:
    """A1 — per-session rollup over LOCF-merged, sessionized states.

    first_*/last_* use the merged values at the session's first/last event
    (tracker main.go:208-209, 225-226); max_* over merged values (227-232);
    callsign is the final merged callsign (the reference's closing UPDATE
    overwrites the creation-time value — db/client.go:85-89).
    ended_at is NULL for a trailing session when close_trailing=false (the
    reference never closes a session without a successor message —
    SURVEY.md §2.9).

    One groupBy on (source, key, sidx) whose every aggregate is
    partial-aggregatable, so a monster session combines map-side to one row
    per input partition instead of sorting in one window task (Disco's
    merge of partial aggregates). Over ``sessionize``'s output the
    hash(source, key) exchange already satisfies the grouping (subset
    clustering): no second shuffle. first/last by arrival order are
    min_by/max_by over ``ord_col()``; while that is a struct the aggregate
    plans as SortAggregate, not HashAggregate (ROADMAP direction 3)."""
    e = sess_events.withColumn("_ord", ord_col())
    agg = e.groupBy("source", "key", "sidx").agg(
        F.min("ts").alias("started_at"),
        F.max("ts").alias("_last_ts"),
        F.count(F.lit(1)).alias("n_events"),
        F.expr("max_by(callsign_m, _ord)").alias("callsign"),
        F.expr("min_by(lat_m, _ord)").alias("first_lat"),
        F.expr("min_by(lon_m, _ord)").alias("first_lon"),
        F.expr("max_by(lat_m, _ord)").alias("last_lat"),
        F.expr("max_by(lon_m, _ord)").alias("last_lon"),
        F.max("altitude_m").alias("max_altitude"),
        F.max("ground_speed_m").alias("max_ground_speed"),
        F.any_value("is_trailing").alias("is_trailing"),
        F.any_value("close_trailing").alias("close_trailing"),
    )
    return agg.select(
        session_id_col(F.col("started_at"), F.col("sidx")).alias("session_id"),
        "source",
        "key",
        "started_at",
        F.when(
            F.col("is_trailing") & ~F.col("close_trailing"), F.lit(None)
        ).otherwise(F.col("_last_ts")).alias("ended_at"),
        "n_events",
        "callsign",
        "first_lat",
        "first_lon",
        "last_lat",
        "last_lon",
        "max_altitude",
        "max_ground_speed",
        # lossy DB coercion preserved: flights.max_ground_speed INTEGER
        # (schema.sql:40) — Go float64 -> Postgres INTEGER rounds
        # half-to-even, so bround (not round: half-away diverges at .5);
        # the oracle mirrors with DuckDB round_even.
        F.bround("max_ground_speed").cast("bigint").alias("max_ground_speed_i"),
        F.col("is_trailing").alias("is_open"),
    )
