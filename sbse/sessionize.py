"""LOCF state merge + gap-based sessionization + session rollups.

Re-expresses the reference tracker's per-key in-memory state machine
(cmd/tracker/main.go:96-263) as window functions over event time plus one
groupBy:

* ``local_pass`` — the one per-key event-order window pass, shared by the
  plain and the chunked (``bigkey``) routes, which differ only in its
  partition columns and in whether they stitch chunk boundaries. It holds
  W1, mergeStates (tracker main.go:159-186): each field carried forward,
  updated only when the new value is non-zero ("zero = missing";
  ``on_ground`` and ``ts`` always take the current row); and W2/W3, the
  5-minute (parameterized; 30 s north-star) inactivity close rule
  (tracker main.go:234-252) as lag + running sum.
* ``locf_sessionize`` — the plain stage: that pass over (source, key).
  ``locf_merge`` and ``sessionize`` are column views of it. Session ids
  are deterministic sha256 surrogates (uuid.New at tracker main.go:204 is
  non-reproducible, incompatible with exactness checks).
* ``session_rollup`` — A1: per-session first/last/max aggregates
  (tracker main.go:189-263; flights DDL schema.sql:29-46) as one
  partial-aggregatable groupBy on (source, key, sidx). It is the only
  session rollup: the plain chain, the chunked monster-key chain
  (``bigkey``) and q34 all end in it.

Scale notes: the plain stage costs exactly ONE shuffle (hash partition by
(source, key)); its windows share that partitioning and sort, and the
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


def states_only(decoded: DataFrame) -> DataFrame:
    """Rows that produce aircraft-state analogs: parsed AND keyed
    (MSG types 1,2 carry no key — parser.go:103-110)."""
    return decoded.filter(F.col("ok") & F.col("key").isNotNull())


def local_pass(states: DataFrame, part_cols, gap_ms: int):
    """The one per-key event-order window pass over ``part_cols`` in
    (ts, seq) order, one ``select`` per dependency level. Adds ``_loc_{c}``,
    the last non-zero value so far (null before the first), for each
    ``_MERGE_FIELDS`` field of ``states`` whose ``{c}_m`` is not already
    there; ``_lnew``, 1 on a row that opens a session (the first row, or
    one more than ``gap_ms`` after its predecessor); ``_lsidx``, the running
    session ordinal; ``_lstart``, the session's first ts. The session
    columns depend only on (ts, seq), so both families share each level.
    Returns the frame and the merged (field, zero) pairs."""
    fields = [(c, z) for c, z in _MERGE_FIELDS
              if c in states.columns and f"{c}_m" not in states.columns]
    w = Window.partitionBy(*part_cols).orderBy("ts", "seq")
    wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_ms = F.lag(F.unix_millis("ts")).over(w)
    e = states.select(
        "*",
        *[
            F.last(F.nullif(F.col(c), F.lit(zero)), ignorenulls=True)
            .over(wr).alias(f"_loc_{c}")
            for c, zero in fields
        ],
        F.when(prev_ms.isNull() | (F.unix_millis("ts") - prev_ms > F.lit(gap_ms)),
               F.lit(1)).otherwise(F.lit(0)).alias("_lnew"),
    )
    e = e.select(
        "*",
        F.sum("_lnew").over(wr).alias("_lsidx"),
        F.last(F.when(F.col("_lnew") == 1, F.col("ts")),
               ignorenulls=True).over(wr).alias("_lstart"),
    )
    return e, fields


def locf_sessionize(
    states: DataFrame,
    gap_ms: int = GAP_MS_NORTH,
    close_trailing: bool = True,
) -> DataFrame:
    """W1-W3 — LOCF merge and sessionization: ``local_pass`` over
    (source, key), with nothing to stitch.

    Returns every column of ``states``; ``{c}_m`` for each merged field
    (coalesced to its zero); then ``new_sess`` (1 on a session opener),
    ``sidx`` (per-key session ordinal), ``s_start`` (session first ts),
    ``session_id`` (deterministic sha256), ``is_trailing`` (the key's last
    session — never closed by a successor, i.e. "active":
    flights.ended_at IS NULL analog, db/client.go:38) and
    ``close_trailing``. Catalyst prunes every column a caller does not
    read, down to the window expressions behind it."""
    e, fields = local_pass(states, KEY_COLS, gap_ms)
    sidx = F.col("_lsidx")
    return e.select(
        *states.columns,
        *[F.coalesce(F.col(f"_loc_{c}"), F.lit(zero)).alias(f"{c}_m")
          for c, zero in fields],
        F.col("_lnew").alias("new_sess"),
        sidx.alias("sidx"),
        F.col("_lstart").alias("s_start"),
        session_id_col(F.col("_lstart"), sidx).alias("session_id"),
        (sidx == F.max(sidx).over(Window.partitionBy(*KEY_COLS)))
        .alias("is_trailing"),
        F.lit(close_trailing).alias("close_trailing"),
    )


def locf_merge(states: DataFrame) -> DataFrame:
    """W1 — per-key LOCF merge: ``locf_sessionize``'s merged columns. The
    gap never reaches the plan: Catalyst prunes the session columns."""
    return locf_sessionize(states).select(
        *states.columns, *[f"{c}_m" for c, _ in _MERGE_FIELDS])


def sessionize(
    merged: DataFrame,
    gap_ms: int = GAP_MS_NORTH,
    close_trailing: bool = True,
) -> DataFrame:
    """W2/W3 — ``locf_sessionize`` over an already merged frame, which
    adds only the session columns."""
    return locf_sessionize(merged, gap_ms=gap_ms,
                           close_trailing=close_trailing)


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
    merge of partial aggregates). Over ``locf_sessionize``'s output the
    hash(source, key) exchange already satisfies the grouping (subset
    clustering): no second shuffle. first/last by arrival order are
    min_by/max_by over ``ord_col()``; while that is a struct the aggregate
    plans as SortAggregate, not HashAggregate (ROADMAP direction 3)."""
    e = sess_events.withColumn("_ord", ord_col())
    agg = e.groupBy("source", "key", "sidx").agg(
        F.min("ts").alias("started_at"),
        # a literal close_trailing folds the when away, and with it the
        # per-key max(sidx) window behind is_trailing
        F.max(F.when(~F.col("is_trailing") | F.col("close_trailing"),
                     F.col("ts"))).alias("ended_at"),
        F.count(F.lit(1)).alias("n_events"),
        F.expr("max_by(callsign_m, _ord)").alias("callsign"),
        F.expr("min_by(lat_m, _ord)").alias("first_lat"),
        F.expr("min_by(lon_m, _ord)").alias("first_lon"),
        F.expr("max_by(lat_m, _ord)").alias("last_lat"),
        F.expr("max_by(lon_m, _ord)").alias("last_lon"),
        F.max("altitude_m").alias("max_altitude"),
        F.max("ground_speed_m").alias("max_ground_speed"),
        F.any_value("is_trailing").alias("is_trailing"),
    )
    return agg.select(
        session_id_col(F.col("started_at"), F.col("sidx")).alias("session_id"),
        "source",
        "key",
        "started_at",
        "ended_at",
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
