"""Monster-key (hot single-key) window handling — SURVEY §4.3 item 3.

The plain ``locf_merge``/``sessionize`` windows partition by (source, key):
one key with more events than an executor comfortably sorts pins a single
task (Spark's external sort spills rather than OOMs, but the stage becomes
one serial task — the reference has the same defect as unbounded per-key
maps, cmd/tracker/main.go:51-53). This module bounds EVERY window partition
to (source, key, time-chunk) and stitches chunk boundaries through a tiny
per-chunk summary table — the segmented-scan decomposition (Disco's partial
window aggregates, merged at the boundary):

* ``locf_sessionize_chunked`` — the one chunked LOCF + sessionize
  implementation: one bounded window pass, one summary groupBy carrying
  each chunk's final LOCF state and its session stitch facts, one join
  back. Output == ``sessionize(locf_merge(.))`` column for column
  (equality-tested, incl. a hypothesis property test). ``run_pipeline(
  bigkey_chunk_ms=...)`` and q34 run it.
* ``locf_merge_chunked`` / ``sessionize_chunked`` — column views of that
  stage (== ``locf_merge`` / ``sessionize``), kept for the benchmark's
  traced, layer-by-layer run; they own no window code.
* ``counter_increase_chunked`` — the counter-increase twin (q43); its only
  cross-chunk state is the last sample.
* ``session_rollup_agg`` — not a twin: another name for
  ``sessionize.session_rollup``, the one session rollup, whose groupBy on
  (source, key, sidx) already combines a monster session map-side. q34 is
  ``session_rollup(locf_sessionize_chunked(.))``.

Scale shape: events hash to (source, key, chunk) for the bounded window;
the summary join is an equi-join on the same keys against a table with one
row per populated chunk — ~1e4-1e6x smaller than events. chunk_ms must
exceed gap_ms so a session gap can only straddle ADJACENT populated chunks'
boundary rows (the stitch condition itself uses real timestamps, so
non-adjacent populated chunks merge correctly too — relevant only at
chunk_ms == gap_ms + epsilon).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sbse import GAP_MS_NORTH
from sbse.sessionize import (_MERGE_FIELDS, KEY_COLS, new_session_flag, ord_col,
                             session_id_col, session_rollup)

# 1 hour of events per window partition by default: at the reference's
# per-key message rates (~1/s) that is ~3.6k rows; even a 1000x-hot key
# stays executor-trivial per chunk.
CHUNK_MS_DEFAULT = 3_600_000


def _with_chunk(df: DataFrame, chunk_ms: int) -> DataFrame:
    """Attach the time-chunk column ``_chunk`` = floor(ts ms / chunk_ms).

    A pre-existing ``_chunk`` is refused: nothing proves it was built with
    this chunk size, and a mis-sized chunk silently mis-stitches."""
    if "_chunk" in df.columns:
        raise ValueError(
            "input already has a _chunk column; drop it before chunking "
            f"with chunk_ms={chunk_ms}"
        )
    return df.select(
        "*", F.floor(F.unix_millis("ts") / F.lit(chunk_ms)).alias("_chunk"))


def locf_sessionize_chunked(
    states: DataFrame,
    gap_ms: int = GAP_MS_NORTH,
    chunk_ms: int = CHUNK_MS_DEFAULT,
    close_trailing: bool = True,
) -> DataFrame:
    """Chunk-local LOCF and chunk-local sessionization in ONE bounded window
    pass, one summary groupBy carrying BOTH the LOCF carry state and the
    session stitch facts, one join back.

    Returns one row per event: every column of ``states``; ``{c}_m`` for
    each ``_MERGE_FIELDS`` field in ``states`` whose ``{c}_m`` is not
    already there (== ``locf_merge``'s), so an already merged frame gets
    only the session columns; then ``new_sess``, ``sidx``, ``s_start``,
    ``session_id``, ``is_trailing``, ``close_trailing`` (== ``sessionize``'s).
    Catalyst prunes every column a caller does not read, down to the
    window, aggregate and join expressions behind it.

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

    One pass serves both families because the session lag columns depend
    only on (ts, seq), never on LOCF output. No checkpoint inside: in
    Spark 4.1 it resets outputPartitioning to Unknown, so the join probe
    would re-exchange the frame. The summary groupBy and the join probe
    are pruned to different columns, so ReuseExchange does not fire: the
    executed plan (AQE on or off) holds two event-side
    hashpartitioning(source, key, _chunk) exchanges, each with its own
    window pass. A caller with several consumers of the RESULT
    (run_pipeline) materializes it once itself."""
    if chunk_ms <= gap_ms:
        raise ValueError(
            f"chunk_ms={chunk_ms} must exceed gap_ms={gap_ms}: a chunk "
            f"shorter than the gap cannot bound the stitch to boundaries"
        )
    fields = [(c, z) for c, z in _MERGE_FIELDS
              if c in states.columns and f"{c}_m" not in states.columns]
    e = _with_chunk(states, chunk_ms)
    wc = Window.partitionBy(*KEY_COLS, "_chunk").orderBy("ts", "seq")
    wcr = wc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # LOCF locals and the session opener flag (ts/seq only) share one pass
    e = e.select(
        "*",
        *[
            F.last(F.nullif(F.col(c), F.lit(zero)), ignorenulls=True)
            .over(wcr).alias(f"_loc_{c}")
            for c, zero in fields
        ],
        new_session_flag(wc, gap_ms).alias("_lnew"),
        ord_col().alias("_ord"),
    )
    e = e.select(
        "*",
        F.sum("_lnew").over(wcr).alias("_lsidx"),
        F.last(F.when(F.col("_lnew") == 1, F.col("ts")),
               ignorenulls=True).over(wcr).alias("_lstart"),
    )
    # ONE summary groupBy: per-chunk LOCF carry state + session stitch facts
    summ = e.groupBy(*KEY_COLS, "_chunk").agg(
        *[
            F.expr(f"max_by(_loc_{c}, _ord)").alias(f"_fin_{c}")
            for c, _ in fields
        ],
        F.min("ts").alias("_first_ts"),
        F.max("ts").alias("_last_ts"),
        F.max("_lsidx").alias("_nloc"),
        F.expr("max_by(_lstart, _ord)").alias("_last_lstart"),
    )
    ws = Window.partitionBy(*KEY_COLS).orderBy("_chunk")
    wsr = ws.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_prev = ws.rowsBetween(Window.unboundedPreceding, -1)
    prev_last = F.lag(F.unix_millis("_last_ts")).over(ws)
    summ = summ.select(
        "*",
        *[
            F.last(f"_fin_{c}", ignorenulls=True).over(w_prev).alias(f"_carry_{c}")
            for c, _ in fields
        ],
        F.when(
            prev_last.isNotNull()
            & (F.unix_millis("_first_ts") - prev_last <= F.lit(gap_ms)),
            F.lit(1),
        ).otherwise(F.lit(0)).alias("_merge"),
    )
    news = F.col("_nloc") - F.col("_merge")
    anchor = F.when(
        ~((F.col("_nloc") == 1) & (F.col("_merge") == 1)), F.col("_last_lstart")
    )
    # _prevT (the previous chunk's T) = the anchored LOCF over prior chunks
    summ = summ.select("*", news.alias("_news"),
                       (F.sum(news).over(wsr) - news).alias("_off"),
                       F.last(anchor, ignorenulls=True).over(w_prev).alias("_prevT"))
    summ = summ.select(
        "*",
        F.max(F.col("_off") + F.col("_news"))
        .over(Window.partitionBy(*KEY_COLS)).alias("_gmax"),
    )
    # SHUFFLE_HASH, not broadcast: the summary is one row per populated
    # (source, key, chunk) — unbounded over retention when the whole corpus
    # routes through this path (at the sf1.0 bench 2-minute chunks already
    # make it ~94% of the event count), so a forced broadcast eventually
    # exceeds the 8 GB relation cap and has no fallback. The event side
    # reuses the window's (source, key, chunk) hash partitioning with no new
    # exchange; the summary side pays one small exchange and a per-partition
    # hash build.
    j = e.join(
        summ.select(
            *KEY_COLS, "_chunk", "_merge", "_off", "_gmax", "_prevT",
            *[f"_carry_{c}" for c, _ in fields],
        ).hint("SHUFFLE_HASH"),
        [*KEY_COLS, "_chunk"],
    )
    backmerged = (F.col("_lsidx") == 1) & (F.col("_merge") == 1)
    sidx = F.col("_off") + F.col("_lsidx") - F.col("_merge")
    s_start = F.when(backmerged, F.col("_prevT")).otherwise(F.col("_lstart"))
    return j.select(
        *states.columns,
        *[
            F.coalesce(F.col(f"_loc_{c}"), F.col(f"_carry_{c}"), F.lit(zero))
            .alias(f"{c}_m")
            for c, zero in fields
        ],
        F.when(F.col("_lnew") == 1, F.when(backmerged, 0).otherwise(1))
        .otherwise(0).alias("new_sess"),
        sidx.alias("sidx"),
        s_start.alias("s_start"),
        session_id_col(s_start, sidx).alias("session_id"),
        (sidx == F.col("_gmax")).alias("is_trailing"),
        F.lit(close_trailing).alias("close_trailing"),
    )


def locf_merge_chunked(states: DataFrame,
                       chunk_ms: int = CHUNK_MS_DEFAULT) -> DataFrame:
    """``locf_merge``'s output from ``locf_sessionize_chunked``: its merged
    columns only. The gap is any value below ``chunk_ms``: Catalyst prunes
    the session columns, so it never reaches the plan."""
    fused = locf_sessionize_chunked(states, gap_ms=chunk_ms - 1,
                                    chunk_ms=chunk_ms)
    return fused.select(*states.columns,
                        *[f"{c}_m" for c, _ in _MERGE_FIELDS])


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
    """Monster-key twin of rollup.counter_increase; output is exactly equal
    (oracle-checked as q43 against q41's SQL).

    A counter's only cross-chunk state is the LAST sample value, so the
    stitch is the lightest of the chunked twins: Phase 1 lags n_tok within
    the bounded (source, key, chunk) window; Phase 2 summarizes each
    populated chunk's final n_tok (max_by over arrival order) and lags it
    one populated chunk back — the carry-in; Phase 3 joins the carry table
    back on the window's own (source, key, chunk) partitioning, and each
    chunk's first sample uses coalesce(local lag, carry) as its baseline
    (null for the key's first chunk -> contributes 0, same as the plain
    path). Then the identical reset-aware increase math and one partial-agg
    groupBy.

    Plan notes (round 6): the output provably reads only
    (source, key, ts, seq, n_tok), so the frame is PRUNED to those before
    the window (guide §2.3 'project before the exchange'). The carry join
    is SHUFFLE_HASH, not broadcast: the carry grows as keys x time-chunks
    (~94% of the event count at sf1.0 with 2-minute chunks) — unbounded
    over retention — so a forced broadcast would eventually blow the 8 GB
    relation cap; the hash join's build side is per-partition and the
    event side reuses the window's partitioning with no new exchange.
    """
    e = _with_chunk(states.select(*KEY_COLS, "ts", "seq", "n_tok"), chunk_ms)
    wc = Window.partitionBy(*KEY_COLS, "_chunk").orderBy("ts", "seq")
    e = e.select("*", ord_col().alias("_ord"),
                 F.lag("n_tok").over(wc).alias("_prev_loc"))
    # no checkpoint: it resets outputPartitioning to Unknown (Spark 4.1),
    # so the join probe would re-exchange; as in locf_sessionize_chunked,
    # the summary and the join probe each run their own window exchange.
    summ = e.groupBy(*KEY_COLS, "_chunk").agg(
        F.expr("max_by(n_tok, _ord)").alias("_fin")
    )
    ws = Window.partitionBy(*KEY_COLS).orderBy("_chunk")
    carry = summ.select(
        *KEY_COLS, "_chunk", F.lag("_fin").over(ws).alias("_carry")
    )
    from sbse.rollup import counter_aggs, counter_exprs

    j = e.join(carry.hint("SHUFFLE_HASH"), [*KEY_COLS, "_chunk"])
    inc, reset = counter_exprs(F.coalesce(F.col("_prev_loc"), F.col("_carry")))
    j = j.select("*", inc.alias("_inc"), reset.alias("_reset"),
                 F.date_trunc(unit, F.col("ts")).alias("bucket_start"))
    return j.groupBy(*KEY_COLS, "bucket_start").agg(*counter_aggs())


# The benchmark's traced run imports the rollup under this name.
session_rollup_agg = session_rollup
