"""End-to-end pipeline: token table -> decode -> gate -> LOCF -> sessionize
-> session rollups -> 1m/1h/1d tiers (+ gap-fill, Gorilla blobs) -> metrics.

This is the batch re-expression of the reference's tracker lifecycle
(SURVEY.md §3 E2). One lineage, one scan and decode, one shuffle per
grouping:
  1. hash partition by (source, key) for the window stage
     (``locf_sessionize``: LOCF and sessionization in one window pass),
  2. regroup to (source, key, sidx) for the session rollup, and to
     (source, key, bucket) for the tier cascade — both partial-aggregated,
     tiny relative to raw.
``bigkey_chunk_ms`` picks the window stage's route: the same window pass
over (source, key), or over (source, key, chunk) plus the chunk stitch.
Every sink downstream of it, the session rollup included, is the same for
both routes.

Every frame that more than one output reads is computed once, behind a
lazy ``localCheckpoint`` barrier (``_barrier``): the decoded frame (read by
the window stage and the metrics), the per-event window frame (read by the
states, sessions and tier outputs) and, with ``cache_tiers``, the 1m and 1h
tiers. Without the barriers each of the 8 outputs is its own Spark action
and re-runs the scan, the decode and the window stage.

Every stage is built as SQL text, one or two ``session.frame_sql``
statements each (the stage modules' docstrings), and so are the column
prunings and the validation gate here: a build makes ~100 py4j round trips
where the Column API made 4-6k, one per expression node.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from sbse import GAP_MS_NORTH
from sbse.decode import decode
from sbse.gorilla import encode_tier
from sbse.metrics import run_metrics
from sbse.rollup import bucket_rollup, cascade, gapfill_locf, tier_tables
from sbse.sessionize import (_MERGE_FIELDS, locf_sessionize, project,
                             session_rollup, states_only, validation_gate)


def _barrier(df: DataFrame, stage: str) -> DataFrame:
    """``df`` behind a lazy ``localCheckpoint``: every output that reads the
    result reads one computation of ``df``, and Spark's ContextCleaner
    releases the checkpointed blocks once the result is unreachable, so
    there is nothing to unpersist. Under AQE, building the barrier runs
    ``df``'s shuffle-map stages; those jobs carry the description
    ``run_pipeline: <stage>``, and the caller's description is restored."""
    sc = df.sparkSession.sparkContext
    caller = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(f"run_pipeline: {stage}")
    try:
        return df.localCheckpoint(eager=False)
    finally:
        sc.setJobDescription(caller)


def run_pipeline(
    token_df: DataFrame,
    gap_ms: int = GAP_MS_NORTH,
    close_trailing: bool = True,
    decode_mode: str = "expr",
    validation: DataFrame | None = None,
    default_valid: bool = True,
    with_gorilla: bool = True,
    cache_tiers: bool = False,
    bigkey_chunk_ms: int | None = None,
) -> dict[str, DataFrame]:
    """Returns the pipeline's output tables as DataFrames (lazy).

    The build puts the decoded frame and the per-event window frame behind
    ``_barrier``, on both window routes, and so runs jobs under AQE: the
    window stage's shuffle-map stages (and, with ``cache_tiers``, the 1m
    and 1h tiers') run here, not in the first output's action.

    ``decode_mode`` is passed to ``decode``, whose one implementation is
    ``"expr"``; any other value raises ``ValueError``.

    ``validation``: optional (key, valid) dim for
    ``sessionize.validation_gate``; ``default_valid`` is its verdict on a
    key the dim lacks.

    ``cache_tiers``: the 1m and 1h tiers, which the cascade, the gap-fill
    and Gorilla re-read, are barriers too. Like the other barriers they
    need no unpersist.

    ``bigkey_chunk_ms``: when set, the window stage runs through the
    monster-key-safe fused chunked pass (``bigkey.locf_sessionize_chunked``,
    the same pass q34 runs) — every window partition bounded to
    (source, key, chunk of this many ms; must exceed ``gap_ms``) — instead
    of the plain ``locf_sessionize``. Outputs are row-identical either way
    (asserted in test_bigkey); choose it when one key's event count can
    exceed a single task's comfort zone.
    """
    decoded = _barrier(decode(token_df, mode=decode_mode), "decode")
    states = states_only(decoded)
    if validation is not None:
        states = validation_gate(states, validation, default_valid)
    merged_cols = [*states.columns, *[f"{c}_m" for c, _ in _MERGE_FIELDS]]
    if bigkey_chunk_ms is None:
        sess_events = locf_sessionize(states, gap_ms=gap_ms,
                                      close_trailing=close_trailing)
    else:
        from sbse.bigkey import locf_sessionize_chunked

        sess_events = locf_sessionize_chunked(
            states, gap_ms=gap_ms, chunk_ms=bigkey_chunk_ms,
            close_trailing=close_trailing)
    # only the columns the states, sessions and tier outputs read, so no
    # per-event session_id hash is computed or stored
    sess_events = _barrier(project(sess_events, [
        *merged_cols, "sidx", "is_trailing", "close_trailing"]), "window stage")
    merged = project(sess_events, merged_cols)
    sessions = session_rollup(sess_events)
    if cache_tiers:
        # the cascade, the gap-fill and Gorilla re-read the 1m and 1h tiers,
        # which are ~1e3-1e5x smaller than raw
        r1m = _barrier(bucket_rollup(merged, "minute"), "1m tier")
        r1h = _barrier(cascade(r1m, "hour"), "1h tier")
        tiers = {"1m": r1m, "1h": r1h, "1d": cascade(r1h, "day")}
    else:
        tiers = tier_tables(merged)
    out: dict[str, DataFrame] = {
        "decoded": decoded,
        "states": merged,
        "sessions": sessions,
        "rollup_1m": tiers["1m"],
        "rollup_1h": tiers["1h"],
        "rollup_1d": tiers["1d"],
        "gapfill_1h": gapfill_locf(tiers["1h"], "hour"),
        "metrics": run_metrics(decoded, sessions),
    }
    if with_gorilla:
        out["gorilla_1m"] = encode_tier(tiers["1m"])
    return out
