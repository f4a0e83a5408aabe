"""End-to-end pipeline: token table -> decode -> gate -> LOCF -> sessionize
-> session rollups -> 1m/1h/1d tiers (+ gap-fill, Gorilla blobs) -> metrics.

This is the batch re-expression of the reference's tracker lifecycle
(SURVEY.md §3 E2). One lineage, two shuffles:
  1. hash partition by (source, key) for the window stage
     (``locf_sessionize``: LOCF and sessionization in one window pass) —
     the session rollup's groupBy on (source, key, sidx) reuses it,
  2. regroup to (source, key, bucket) for the tier cascade — which reuses
     partial aggregation and is tiny relative to raw.
``bigkey_chunk_ms`` picks the window stage's route: the same window pass
over (source, key), or over (source, key, chunk) plus the chunk stitch.
Every sink downstream of it, the session rollup included, is the same for
both routes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from sbse import GAP_MS_NORTH
from sbse.decode import decode
from sbse.gorilla import encode_tier
from sbse.metrics import run_metrics
from sbse.rollup import gapfill_locf, tier_tables
from sbse.sessionize import (_MERGE_FIELDS, locf_sessionize, session_rollup,
                             states_only)


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

    ``decode_mode`` is passed to ``decode``, whose one implementation is
    ``"expr"``; any other value raises ``ValueError``.

    ``validation``: optional (key, valid) dim, broadcast-joined as the
    validation gate (tracker main.go:118-123). ``default_valid`` controls
    the missing-key semantics divergence (real Redis client: missing=false,
    redis/client.go:141-143; unit-test mock: missing=true,
    main_test.go:126-135).

    ``bigkey_chunk_ms``: when set, the window stage runs through the
    monster-key-safe fused chunked pass (``bigkey.locf_sessionize_chunked``,
    the same pass q34 runs) — every window partition bounded to
    (source, key, chunk of this many ms; must exceed ``gap_ms``) — instead
    of the plain ``locf_sessionize``. Its per-event frame is localCheckpointed
    once and feeds the states, sessions, tier and metrics outputs. Outputs
    are row-identical either way (asserted in test_bigkey); choose it when
    one key's event count can exceed a single task's comfort zone.
    """
    from pyspark.sql import functions as F

    decoded = decode(token_df, mode=decode_mode)
    states = states_only(decoded)
    if validation is not None:
        gated = states.join(F.broadcast(validation), "key", "left")
        states = gated.filter(
            F.coalesce(F.col("valid"), F.lit(default_valid))
        ).drop("valid")
    merged_cols = [*states.columns, *[f"{c}_m" for c, _ in _MERGE_FIELDS]]
    if bigkey_chunk_ms is None:
        sess_events = locf_sessionize(states, gap_ms=gap_ms,
                                      close_trailing=close_trailing)
    else:
        from sbse.bigkey import locf_sessionize_chunked

        # every output reads the fused chunked frame: materialize it once,
        # so the states, sessions and metrics sinks do not each re-run the
        # window pass and the stitch join; only the columns they read, so
        # no per-event session_id hash is computed or stored
        sess_events = locf_sessionize_chunked(
            states, gap_ms=gap_ms, chunk_ms=bigkey_chunk_ms,
            close_trailing=close_trailing,
        ).select(*merged_cols, "sidx", "is_trailing", "close_trailing"
                 ).localCheckpoint(eager=False)
    merged = sess_events.select(*merged_cols)
    sessions = session_rollup(sess_events)
    tiers = tier_tables(merged)
    if cache_tiers:
        # The cascade re-aggregates tiers (1m -> 1h -> 1d -> gapfill); the
        # tier tables are ~1e3-1e5x smaller than raw, so caching them (NOT
        # the wide per-event states — measured slower) collapses four
        # actions into one scan of the raw data plus trivia.
        tiers["1m"] = tiers["1m"].persist()
        from sbse.rollup import cascade

        tiers["1h"] = cascade(tiers["1m"], "hour").persist()
        tiers["1d"] = cascade(tiers["1h"], "day")
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
