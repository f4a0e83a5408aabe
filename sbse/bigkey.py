"""Monster-key (hot single-key) window handling — SURVEY §4.3 item 3.

The plain stage (``sessionize.locf_sessionize``) partitions its window
pass by (source, key): one key with more events than an executor
comfortably sorts pins a single task (Spark's external sort spills rather
than OOMs, but the stage becomes one serial task — the reference has the
same defect as unbounded per-key maps, cmd/tracker/main.go:51-53). This
module runs the SAME window passes (``sessionize.local_pass``,
``rollup.counter_lag``) over (source, key, time-chunk) and stitches chunk
boundaries through a tiny per-chunk summary table — Disco's local slice
aggregates, merged at the slice boundary; the plain stage is this one
with a single slice per key and nothing to stitch:

* ``locf_sessionize_chunked`` — the chunked LOCF + sessionize stage: the
  local pass, one summary groupBy carrying each chunk's final LOCF state
  and its session stitch facts, one join back. Output ==
  ``locf_sessionize``'s column for column. ``run_pipeline(
  bigkey_chunk_ms=...)`` and q34 run it.
* ``locf_merge_chunked`` / ``sessionize_chunked`` — column views of that
  stage, kept for the benchmark's traced, layer-by-layer run.
* ``counter_increase_chunked`` — the chunked counter increase (q43); its
  only cross-chunk state is the last sample.
* ``session_rollup_agg`` — another name for ``sessionize.session_rollup``,
  the one session rollup, whose groupBy on (source, key, sidx) already
  combines a monster session map-side.

Scale shape: events hash to (source, key, chunk) for the bounded window;
the summary join is an equi-join on the same keys against a table with one
row per populated chunk — ~1e4-1e6x smaller than events. chunk_ms must
exceed gap_ms so a session gap can only straddle ADJACENT populated chunks'
boundary rows (the stitch condition itself uses real timestamps, so
non-adjacent populated chunks merge correctly too — relevant only at
chunk_ms == gap_ms + epsilon).

The chunked LOCF + sessionize stage is SQL text, generated once per column
set from ``sessionize._MERGE_FIELDS``: two ``session.frame_sql``
statements (the local pass, then the summary with its window levels and
the stitch join) cost ~10 py4j round trips where the Column API made
~1,000. The chunked counter increase (q43 only) keeps the Column API.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sbse import GAP_MS_NORTH
from sbse.rollup import counter_lag, counter_tier
from sbse.session import frame_sql
from sbse.sessionize import (_MERGE_FIELDS, KEY_COLS, ORD_SQL, ROWS_TO_HERE,
                             cols_sql, local_pass, project,
                             session_id_sql, session_rollup, sql_lit)

# 1 hour of events per window partition by default: at the reference's
# per-key message rates (~1/s) that is ~3.6k rows; even a 1000x-hot key
# stays executor-trivial per chunk.
CHUNK_MS_DEFAULT = 3_600_000


def _chunk_sql(columns, chunk_ms: int) -> str:
    """The time-chunk column ``_chunk`` = floor(ts ms / chunk_ms), as SQL.

    A pre-existing ``_chunk`` is refused: nothing proves it was built with
    this chunk size, and a mis-sized chunk silently mis-stitches."""
    if "_chunk" in columns:
        raise ValueError(
            "input already has a _chunk column; drop it before chunking "
            f"with chunk_ms={chunk_ms}"
        )
    return f"floor(unix_millis(ts) / {chunk_ms}) AS _chunk"


def _with_chunk(df: DataFrame, chunk_ms: int) -> DataFrame:
    """``df`` with its time-chunk column ``_chunk`` (``_chunk_sql``)."""
    return df.selectExpr("*", _chunk_sql(df.columns, chunk_ms))


@functools.lru_cache(maxsize=None)
def _chunked_sql(columns: tuple, gap_ms: int, chunk_ms: int,
                 close_trailing: bool) -> tuple[str, str]:
    """The chunked stage's two statements; see ``locf_sessionize_chunked``.
    The first, over the view ``{states}``, chunks and runs the local pass
    and adds the arrival order ``_ord``. The second reads that frame as
    ``{e}`` twice: the summary groupBy under its three window levels, and
    the stitch join. Every level is a nested select: a frame built with
    common table expressions keeps its ``WithCTE`` node, and each later
    select over it analyses ~4x slower."""
    lp, fields = local_pass((*columns, "_chunk"), (*KEY_COLS, "_chunk"), gap_ms,
                            f"(SELECT *, {_chunk_sql(columns, chunk_ms)} "
                            "FROM {states}) _c")
    ws = f"PARTITION BY {cols_sql(KEY_COLS)} ORDER BY _chunk"
    wsr = f"{ws} {ROWS_TO_HERE}"
    w_prev = f"{ws} ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"
    prev_last = f"lag(unix_millis(_last_ts)) OVER ({ws})"
    news = "(_nloc - _merge)"
    backmerged = "(_lsidx = 1 AND _merge = 1)"
    sidx = "(_off + _lsidx - _merge)"
    s_start = f"CASE WHEN {backmerged} THEN _prevT ELSE _lstart END"
    fin = "".join(f"max_by(_loc_{c}, _ord) AS _fin_{c}, " for c, _ in fields)
    carry = "".join(f"last(_fin_{c}, true) OVER ({w_prev}) AS _carry_{c}, "
                    for c, _ in fields)
    merged = "".join(f"coalesce(_loc_{c}, _carry_{c}, {sql_lit(z)}) AS `{c}_m`, "
                     for c, z in fields)
    carried = "".join(f", _carry_{c}" for c, _ in fields)
    # SHUFFLE_HASH, not broadcast: the summary is one row per populated
    # (source, key, chunk) — unbounded over retention when the whole corpus
    # routes through this path (at the sf1.0 bench 2-minute chunks already
    # make it ~94% of the event count), so a forced broadcast eventually
    # exceeds the 8 GB relation cap and has no fallback. The event side
    # reuses the window's (source, key, chunk) hash partitioning with no
    # new exchange; the summary side pays one small exchange and a
    # per-partition hash build.
    stitch = f"""SELECT /*+ SHUFFLE_HASH(_s) */ {cols_sql(columns)}, {merged}
  CASE WHEN _lnew = 1 THEN CASE WHEN {backmerged} THEN 0 ELSE 1 END
    ELSE 0 END AS new_sess,
  {sidx} AS sidx, {s_start} AS s_start,
  {session_id_sql(s_start, sidx)} AS session_id,
  {sidx} = _gmax AS is_trailing, {str(close_trailing).lower()} AS close_trailing
FROM {{e}} JOIN (
  SELECT source, `key`, _chunk, _merge, _off, _gmax, _prevT{carried} FROM (
  SELECT *, max(_off + _news) OVER (PARTITION BY {cols_sql(KEY_COLS)}) AS _gmax FROM (
  SELECT *, {news} AS _news, sum({news}) OVER ({wsr}) - {news} AS _off,
    last(CASE WHEN NOT (_nloc = 1 AND _merge = 1) THEN _last_lstart END, true)
      OVER ({w_prev}) AS _prevT FROM (
  SELECT *, {carry}CASE WHEN {prev_last} IS NOT NULL
    AND unix_millis(_first_ts) - {prev_last} <= {gap_ms} THEN 1 ELSE 0 END
    AS _merge FROM (
  SELECT source, `key`, _chunk, {fin}min(ts) AS _first_ts, max(ts) AS _last_ts,
    max(_lsidx) AS _nloc, max_by(_lstart, _ord) AS _last_lstart
  FROM {{e}} GROUP BY source, `key`, _chunk) _s0) _s1) _s2) _s3) _s
USING (source, `key`, _chunk)"""
    return f"SELECT *, {ORD_SQL} AS _ord FROM {lp}", stitch


def locf_sessionize_chunked(
    states: DataFrame,
    gap_ms: int = GAP_MS_NORTH,
    chunk_ms: int = CHUNK_MS_DEFAULT,
    close_trailing: bool = True,
) -> DataFrame:
    """``sessionize.local_pass`` over (source, key, _chunk), one summary
    groupBy carrying BOTH the LOCF carry state and the session stitch
    facts, one join back — two ``frame_sql`` statements. Returns
    ``locf_sessionize``'s columns: an already merged frame gets only the
    session columns, and Catalyst prunes every column a caller does not
    read.

    Stitch math per chunk c (summary window over the key's chunks):
      carry-in      = last non-null final LOCF value of the prior chunks;
                      merged = coalesce(local LOCF, carry-in, zero)
      merge_c       = first_ts(c) - last_ts(prev chunk) <= gap
      new_sessions  = n_local(c) - merge_c
      offset O_c    = cumulative new_sessions of prior chunks
      global sidx   = O_c + local_sidx - merge_c     (merged chains share
                      the previous chunk's last global ordinal)
      chain start T = anchored LOCF: a chunk that is ONE session merging
                      backward contributes no anchor, so T carries the
                      chain's true start forward across any chain length.

    No checkpoint inside: in Spark 4.1 it resets outputPartitioning to
    Unknown, so the join probe would re-exchange the frame. The summary
    groupBy and the join probe are pruned to different columns, so
    ReuseExchange does not fire: the executed plan (AQE on or off) holds
    two event-side hashpartitioning(source, key, _chunk) exchanges, each
    with its own window pass; ``_ord`` is built above the window, so
    neither exchange carries the struct. A caller with several consumers
    of the RESULT (run_pipeline) materializes it once itself."""
    if chunk_ms <= gap_ms:
        raise ValueError(
            f"chunk_ms={chunk_ms} must exceed gap_ms={gap_ms}: a chunk "
            f"shorter than the gap cannot bound the stitch to boundaries"
        )
    local, stitch = _chunked_sql(tuple(states.columns), gap_ms, chunk_ms,
                                 close_trailing)
    return frame_sql(stitch, e=frame_sql(local, states=states))


def locf_merge_chunked(states: DataFrame,
                       chunk_ms: int = CHUNK_MS_DEFAULT) -> DataFrame:
    """``locf_merge``'s output from ``locf_sessionize_chunked``: its merged
    columns only. The gap is any value below ``chunk_ms``: Catalyst prunes
    the session columns, so it never reaches the plan."""
    fused = locf_sessionize_chunked(states, gap_ms=chunk_ms - 1,
                                    chunk_ms=chunk_ms)
    return project(fused, [*states.columns, *[f"{c}_m" for c, _ in _MERGE_FIELDS]])


def sessionize_chunked(
    merged: DataFrame,
    gap_ms: int = GAP_MS_NORTH,
    chunk_ms: int = CHUNK_MS_DEFAULT,
    close_trailing: bool = True,
) -> DataFrame:
    """``sessionize``'s output from ``locf_sessionize_chunked``: over an
    already merged frame the stage adds only the session columns."""
    return locf_sessionize_chunked(merged, gap_ms=gap_ms, chunk_ms=chunk_ms,
                                   close_trailing=close_trailing)


def counter_increase_chunked(states: DataFrame, unit: str = "hour",
                             chunk_ms: int = CHUNK_MS_DEFAULT) -> DataFrame:
    """``rollup.counter_increase`` with every window partition bounded to
    (source, key, chunk); output is exactly equal (oracle-checked as q43
    against q41's SQL).

    A counter's only cross-chunk state is the LAST sample value, so the
    stitch is the lightest of the chunked stages: ``counter_lag`` over
    (source, key, _chunk); a summary of each populated chunk's final n_tok
    (max_by over arrival order), lagged one populated chunk back — the
    carry-in; a join back on the window's own (source, key, _chunk)
    partitioning; then ``counter_tier`` with coalesce(local lag, carry) as
    the baseline (null for the key's first chunk -> contributes 0, same as
    the plain route).

    Plan notes: the output reads only (source, key, ts, seq, n_tok), so the
    frame is PRUNED to those before the window. The carry join is
    SHUFFLE_HASH, not broadcast: the carry grows as keys x time-chunks
    (~94% of the event count at sf1.0 with 2-minute chunks) — unbounded
    over retention — so a forced broadcast would eventually blow the 8 GB
    relation cap; the hash join's build side is per-partition and the
    event side reuses the window's partitioning with no new exchange.
    """
    e = counter_lag(_with_chunk(states.select(*KEY_COLS, "ts", "seq", "n_tok"),
                                chunk_ms), (*KEY_COLS, "_chunk"))
    # no checkpoint: it resets outputPartitioning to Unknown (Spark 4.1),
    # so the join probe would re-exchange; as in locf_sessionize_chunked,
    # the summary and the join probe each run their own window exchange.
    summ = e.select("*", F.expr(ORD_SQL).alias("_ord")).groupBy(
        *KEY_COLS, "_chunk").agg(F.expr("max_by(n_tok, _ord)").alias("_fin"))
    ws = Window.partitionBy(*KEY_COLS).orderBy("_chunk")
    carry = summ.select(
        *KEY_COLS, "_chunk", F.lag("_fin").over(ws).alias("_carry")
    )
    j = e.join(carry.hint("SHUFFLE_HASH"), [*KEY_COLS, "_chunk"])
    return counter_tier(j, F.coalesce(F.col("_prev"), F.col("_carry")), unit)


# The benchmark's traced run imports the rollup under this name.
session_rollup_agg = session_rollup
