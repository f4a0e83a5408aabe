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
* ``states_only`` and ``validation_gate`` — the rows that enter the
  stage: parsed and keyed (the batch and the streaming skins share the
  filter), then J2's broadcast validation gate (``run_pipeline`` and q11).

Scale notes: the plain stage costs exactly ONE shuffle (hash partition by
(source, key)); its windows share that partitioning and sort, and the
session rollup's groupBy reuses it, with map-side partial aggregation on
top. Ordering is total and deterministic: (ts, seq) with seq a data-derived
tiebreak (arrival order at the reference becomes explicit order here —
SURVEY.md §7.4).

Each stage is built as SQL text: one statement (``session.frame_sql``),
its input a ``{name}`` view argument as in ``decode``, with one nested
select per dependency level, generated once per column set from
``_MERGE_FIELDS``. Building it costs a few py4j round trips and one
analysis, where the Column API paid one round trip per expression node.
The levels nest as derived tables, not common table expressions: a frame
built with CTEs keeps its ``WithCTE`` node, and every later select over it
analyses ~4x slower. Each level is one projection, never a ``withColumn``
chain: Catalyst plans one ``Window`` operator per projection and window
spec, so a chain of N window columns over one spec costs N sort-buffered
window passes where one suffices
(tests/test_plan_shape.py pins the count).
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame

from sbse import GAP_MS_NORTH
from sbse.session import frame_sql

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

ROWS_TO_HERE = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"


def cols_sql(cols) -> str:
    """A quoted SQL column list."""
    return ", ".join(f"`{c}`" for c in cols)


def sql_lit(v) -> str:
    """The SQL literal ``F.lit(v)`` builds for a ``_MERGE_FIELDS`` zero."""
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return f"{v!r}D" if isinstance(v, float) else str(v)


def project(df: DataFrame, cols) -> DataFrame:
    """``df.select(*cols)`` for column names, as one SQL statement."""
    return frame_sql(f"SELECT {cols_sql(cols)} FROM {{df}}", df=df)


# Arrival-order key for engine-side min_by/max_by: a (ts, seq) struct,
# compared lexicographically. The DuckDB oracle uses the equivalent
# zero-padded string (dialect.ord_expr) because DuckDB 1.0's max_by cannot
# order by a row value — the two orderings are identical.
ORD_SQL = "struct(ts, seq)"


def session_id_sql(start: str, sidx: str) -> str:
    """Deterministic session surrogate: sha256 of source|key|start ms|sidx."""
    return (f"sha2(concat_ws('|', source, CAST(`key` AS STRING), "
            f"CAST(unix_millis({start}) AS STRING), CAST({sidx} AS STRING)), 256)")


def states_only(decoded: DataFrame) -> DataFrame:
    """Rows that produce aircraft-state analogs: parsed AND keyed
    (MSG types 1,2 carry no key — parser.go:103-110)."""
    return decoded.filter("ok AND `key` IS NOT NULL")


def validation_gate(states: DataFrame, validation: DataFrame,
                    default_valid: bool) -> DataFrame:
    """J2, the validation gate (tracker main.go:118-123): the rows of
    ``states`` whose key the (key, valid) dim ``validation`` marks valid,
    the dim broadcast. ``default_valid`` is the verdict on a key the dim
    lacks: the real Redis client says invalid (redis/client.go:141-143),
    the unit-test mock valid (main_test.go:126-135). Returns ``key``, then
    every other column of both inputs but ``valid``."""
    # USING (key) puts key first; every other column but valid follows
    cols = ["key", *[c for c in [*states.columns, *validation.columns]
                     if c not in ("key", "valid")]]
    return frame_sql(
        f"SELECT /*+ BROADCAST(_v) */ {cols_sql(cols)} FROM {{states}} "
        f"LEFT JOIN {{validation}} _v USING (`key`) "
        f"WHERE coalesce(valid, {str(default_valid).lower()})",
        states=states, validation=validation)


def local_pass(columns, part_cols, gap_ms: int, src: str):
    """The one per-key event-order window pass over ``part_cols`` in
    (ts, seq) order, as the text of a derived table ``_lp`` over the
    relation ``src`` (which has ``columns``), one nested select per
    dependency level. Adds ``_loc_{c}``, the last non-zero value so far
    (null before the first), for each ``_MERGE_FIELDS`` field whose
    ``{c}_m`` is not already there; ``_lnew``, 1 on a row that opens a
    session (the first row, or one more than ``gap_ms`` after its
    predecessor); ``_lsidx``, the running session ordinal; ``_lstart``, the
    session's first ts. The session columns depend only on (ts, seq), so
    both families share each level. Returns the text and the merged
    (field, zero) pairs."""
    fields = [(c, z) for c, z in _MERGE_FIELDS
              if c in columns and f"{c}_m" not in columns]
    w = f"PARTITION BY {cols_sql(part_cols)} ORDER BY ts, seq"
    wr = f"{w} {ROWS_TO_HERE}"
    prev_ms = f"lag(unix_millis(ts)) OVER ({w})"
    locf = "".join(f"last(nullif(`{c}`, {sql_lit(z)}), true) OVER ({wr}) "
                   f"AS _loc_{c}, " for c, z in fields)
    return f"""(SELECT *, sum(_lnew) OVER ({wr}) AS _lsidx,
    last(CASE WHEN _lnew = 1 THEN ts END, true) OVER ({wr}) AS _lstart
  FROM (SELECT *, {locf}CASE WHEN {prev_ms} IS NULL
      OR unix_millis(ts) - {prev_ms} > {gap_ms} THEN 1 ELSE 0 END AS _lnew
    FROM {src}) _l1) _lp""", fields


@functools.lru_cache(maxsize=None)
def _plain_sql(columns: tuple, gap_ms: int, close_trailing: bool) -> str:
    lp, fields = local_pass(columns, KEY_COLS, gap_ms, "{states}")
    merged = "".join(f"coalesce(_loc_{c}, {sql_lit(z)}) AS `{c}_m`, "
                     for c, z in fields)
    return f"""SELECT {cols_sql(columns)}, {merged}_lnew AS new_sess, _lsidx AS sidx,
  _lstart AS s_start, {session_id_sql('_lstart', '_lsidx')} AS session_id,
  _lsidx = max(_lsidx) OVER (PARTITION BY {cols_sql(KEY_COLS)}) AS is_trailing,
  {str(close_trailing).lower()} AS close_trailing
FROM {lp}"""


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
    return frame_sql(
        _plain_sql(tuple(states.columns), gap_ms, close_trailing), states=states)


def locf_merge(states: DataFrame) -> DataFrame:
    """W1 — per-key LOCF merge: ``locf_sessionize``'s merged columns. The
    gap never reaches the plan: Catalyst prunes the session columns."""
    return project(locf_sessionize(states),
                   [*states.columns, *[f"{c}_m" for c, _ in _MERGE_FIELDS]])


def sessionize(
    merged: DataFrame,
    gap_ms: int = GAP_MS_NORTH,
    close_trailing: bool = True,
) -> DataFrame:
    """W2/W3 — ``locf_sessionize`` over an already merged frame, which
    adds only the session columns."""
    return locf_sessionize(merged, gap_ms=gap_ms,
                           close_trailing=close_trailing)


# a literal close_trailing folds the CASE in ended_at away, and with it the
# per-key max(sidx) window behind is_trailing. max_ground_speed_i keeps the
# lossy DB coercion: flights.max_ground_speed INTEGER (schema.sql:40) — Go
# float64 -> Postgres INTEGER rounds half-to-even, so bround (not round:
# half-away diverges at .5); the oracle mirrors with DuckDB round_even.
_ROLLUP_SQL = f"""SELECT {session_id_sql('started_at', 'sidx')} AS session_id,
  source, `key`, started_at, ended_at, n_events, callsign, first_lat,
  first_lon, last_lat, last_lon, max_altitude, max_ground_speed,
  CAST(bround(max_ground_speed) AS BIGINT) AS max_ground_speed_i,
  is_trailing AS is_open
FROM (SELECT source, `key`, sidx, min(ts) AS started_at,
    max(CASE WHEN (NOT is_trailing) OR close_trailing THEN ts END) AS ended_at,
    count(1) AS n_events,
    max_by(callsign_m, _ord) AS callsign,
    min_by(lat_m, _ord) AS first_lat, min_by(lon_m, _ord) AS first_lon,
    max_by(lat_m, _ord) AS last_lat, max_by(lon_m, _ord) AS last_lon,
    max(altitude_m) AS max_altitude, max(ground_speed_m) AS max_ground_speed,
    any_value(is_trailing) AS is_trailing
  FROM (SELECT *, {ORD_SQL} AS _ord FROM {{e}}) _e
  GROUP BY source, `key`, sidx) _r"""


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
    clustering): no second shuffle; ``run_pipeline`` reads that output
    through a checkpoint, which does not carry the partitioning, so there
    the rollup takes its own partial-aggregated exchange. first/last by arrival order are
    min_by/max_by over ``ORD_SQL``; while that is a struct the aggregate
    plans as SortAggregate, not HashAggregate (ROADMAP direction 3)."""
    return frame_sql(_ROLLUP_SQL, e=sess_events)
