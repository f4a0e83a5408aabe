"""Custom stateful streaming operator: per-key gap sessionization with
``applyInPandasWithState`` — the streaming analog of the reference tracker's
in-memory session map with Redis TTL expiry (redis/client.go:57-149: state
keys live for a TTL and expire when a key goes quiet; tracker
main.go:234-252: a session closes when its key is silent for the gap).

The group state carries the OPEN session's accumulator (ordinal, start,
last-seen, counters, last seq); each microbatch folds its rows into it,
emitting every session the batch closes, and arms an EVENT-TIME timeout
at last_seen + gap — when the watermark (fed by other keys' traffic)
passes that point, the quiet key's trailing session is emitted and its
state dropped, exactly the Redis-TTL lifecycle. Event-time (not
processing-time) timeouts keep the operator deterministic AND let
availableNow drain-and-stop (a processing-time timeout keeps the
microbatch loop alive forever).

Within a batch the sessionization is vectorized (numpy diff/reduceat over
the sorted rows — no per-row Python); only the state handoff at the batch
boundary is scalar. Session ids are the same sha256 surrogates the batch
engine derives, so outputs are comparable row-for-row
(test_streaming_stateful asserts equality with batch session_rollup).

Both operators assume per-key (ts, seq) order across microbatches (the
file/NATS replay shape) and ENFORCE it with ``_refuse_replay``: a batch that
does not start strictly after the key's stored (ts, seq) raises instead of
silently mis-placing a boundary or counting a re-delivered row twice; the
batch engine remains the authority for out-of-order reprocessing.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sbse import GAP_MS_NORTH

OUT_SCHEMA = ("session_id string, source string, key bigint, "
              "started_at timestamp, ended_at timestamp, n_events bigint, "
              "max_altitude bigint")
STATE_SCHEMA = ("sidx bigint, s_start_ms bigint, last_ts_ms bigint, "
                "n_events bigint, max_altitude bigint, last_seq bigint")


def _refuse_replay(source, k, ts0: int, seq0: int, last_ms: int,
                   last_seq: int, rerun: str) -> None:
    """Raise unless a key's batch starts STRICTLY after its stored
    (ts, seq). A same-millisecond row is in order only if its seq is newer
    (a bare ts check lets ms-tied rows split across batches in inverted seq
    order through), and the comparison is <= so an exactly re-delivered
    last row (at-least-once replay of the last file) is refused instead of
    being counted twice."""
    if (ts0, seq0) <= (last_ms, last_seq):
        raise ValueError(
            f"out-of-order replay for key ({source}, {k}): batch starts at "
            f"({ts0} ms, seq {seq0}) but state is at ({last_ms} ms, seq "
            f"{last_seq}); re-run through the batch {rerun}"
        )


def stateful_sessions(states: DataFrame, gap_ms: int = GAP_MS_NORTH,
                      watermark: str = "1 second") -> DataFrame:
    """Apply the stateful sessionizer to a streaming states frame with
    columns (source, key, ts, seq, altitude_m). ``watermark`` is the allowed
    lateness (the NATS MaxAge analog) — the TTL timeout fires when the
    watermark passes last_seen + gap."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdfs, state):
        import numpy as np
        import pandas as pd

        source, k = key

        def sid(start_ms: int, sidx: int) -> str:
            raw = f"{source}|{k}|{start_ms}|{sidx}"
            return hashlib.sha256(raw.encode()).hexdigest()

        def emit(rows):
            if not rows:
                return iter([])
            df = pd.DataFrame(
                rows, columns=["session_id", "source", "key", "s_ms", "e_ms",
                               "n_events", "max_altitude"])
            df["started_at"] = pd.to_datetime(df.pop("s_ms"), unit="ms")
            df["ended_at"] = pd.to_datetime(df.pop("e_ms"), unit="ms")
            return iter([df[["session_id", "source", "key", "started_at",
                             "ended_at", "n_events", "max_altitude"]]])

        if state.hasTimedOut:
            # Redis-TTL expiry: the key went silent for >= gap — close and
            # emit the held session, drop the state.
            closed = []
            if state.exists:
                sidx, s_start, last, n, mx, _ = state.get
                closed.append((sid(s_start, sidx), source, k, s_start, last,
                               n, mx))
                state.remove()
            return emit(closed)

        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(["ts", "seq"])
        ts = pdf["ts"].to_numpy().astype("datetime64[ms]").astype("int64")
        seq = pdf["seq"].to_numpy().astype("int64")
        alt = pdf["altitude_m"].to_numpy().astype("int64")

        # vectorized within-batch split: segment starts where gap exceeded
        new_seg = np.ones(len(ts), dtype=bool)
        new_seg[1:] = np.diff(ts) > gap_ms
        starts = np.nonzero(new_seg)[0]
        seg_start = ts[starts]
        seg_end = ts[np.append(starts[1:] - 1, len(ts) - 1)]
        seg_n = np.diff(np.append(starts, len(ts)))
        seg_max = np.maximum.reduceat(alt, starts)

        if state.exists:
            sidx, s_start, last, n, mx, last_seq = state.get
        else:
            sidx, s_start, last, n, mx = 0, None, None, 0, None

        closed = []
        i0 = 0
        if s_start is not None:
            _refuse_replay(source, k, int(ts[0]), int(seq[0]), last,
                           last_seq, "sessionizer")
            if int(ts[0]) - last <= gap_ms:
                # first segment continues the carried session
                last = int(seg_end[0])
                n += int(seg_n[0])
                mx = max(mx, int(seg_max[0]))
                i0 = 1
            else:
                closed.append((sid(s_start, sidx), source, k, s_start, last,
                               n, mx))
                s_start = None
        for i in range(i0, len(starts)):  # per-SESSION loop, not per-row
            if s_start is not None:
                closed.append((sid(s_start, sidx), source, k, s_start, last,
                               n, mx))
            sidx += 1
            s_start, last = int(seg_start[i]), int(seg_end[i])
            n, mx = int(seg_n[i]), int(seg_max[i])
        state.update((sidx, s_start, last, n, mx, int(seq[-1])))
        # TTL re-armed on every touch; must stay ahead of the watermark
        state.setTimeoutTimestamp(
            max(last + gap_ms, state.getCurrentWatermarkMs() + 1)
        )
        return emit(closed)

    return (
        states.select("source", "key", "ts", "seq", "altitude_m")
        .withWatermark("ts", watermark)
        .groupBy("source", "key")
        .applyInPandasWithState(
            fn, OUT_SCHEMA, STATE_SCHEMA, "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


COUNTER_OUT_SCHEMA = ("source string, key bigint, bucket_start timestamp, "
                      "n_samples bigint, tok_increase bigint, n_resets bigint")
COUNTER_STATE_SCHEMA = "last_tok bigint, last_ts_ms bigint, last_seq bigint"

_UNIT_MS = {"minute": 60_000, "hour": 3_600_000, "day": 86_400_000}


def stateful_counter_increase(states: DataFrame, unit: str = "hour",
                              watermark: str = "1 second") -> DataFrame:
    """Streaming skin of rollup.counter_increase: reset-aware per-key
    counter deltas, emitted as per-(key, bucket, microbatch) PARTIAL sums.

    The group state is the lightest possible — the key's last n_tok (the
    counter baseline) plus its event time for the out-of-order guard. Each
    microbatch sorts its rows, takes the baseline from state, computes the
    reset-aware increases vectorized (numpy), and emits one row per bucket
    touched IN THIS BATCH. Because counter increases are purely mergeable
    (the same invariant q42 proves for the batch tier), a bucket spanning
    microbatches simply emits several partials whose SUM equals the batch
    operator's row — downstream sinks fold them with the identical
    re-summation counter_cascade uses; test_streaming_stateful asserts
    row-for-row equality with rollup.counter_increase after that fold.

    Like stateful_sessions, per-key (ts, seq) order across microbatches is
    assumed (file/NATS replay shape) and ENFORCED by ``_refuse_replay``.
    State never expires (NoTimeout): a counter baseline must survive idle
    periods, because expiring it would turn the key's next sample into a
    fresh start (contributing 0 instead of the true delta) — the Redis-TTL
    lifecycle that fits sessions corrupts counters. One bigint per key is
    cheap enough to hold indefinitely at any realistic key cardinality.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    unit_ms = _UNIT_MS[unit]

    def fn(key, pdfs, state):
        import numpy as np
        import pandas as pd

        source, k = key
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(
            ["ts", "seq"])
        ts = pdf["ts"].to_numpy().astype("datetime64[ms]").astype("int64")
        seq = pdf["seq"].to_numpy().astype("int64")
        tok = pdf["n_tok"].to_numpy().astype("int64")

        if state.exists:
            last_tok, last_ms, last_seq = state.get
            _refuse_replay(source, k, int(ts[0]), int(seq[0]), last_ms,
                           last_seq, "counter_increase")
            prev = np.concatenate(([last_tok], tok[:-1]))
            inc = np.where(tok >= prev, tok - prev, tok)
            resets = (tok < prev).astype("int64")
        else:
            prev = np.concatenate(([0], tok[:-1]))
            inc = np.where(tok >= prev, tok - prev, tok)
            resets = (tok < prev).astype("int64")
            inc[0] = 0  # first sample ever: no baseline
            resets[0] = 0

        bucket = (ts // unit_ms) * unit_ms
        out = (
            pd.DataFrame({"b": bucket, "inc": inc, "r": resets})
            .groupby("b", as_index=False)
            .agg(n_samples=("inc", "size"), tok_increase=("inc", "sum"),
                 n_resets=("r", "sum"))
        )
        out["source"] = source
        out["key"] = k
        out["bucket_start"] = pd.to_datetime(out.pop("b"), unit="ms")
        state.update((int(tok[-1]), int(ts[-1]), int(seq[-1])))
        return iter([out[["source", "key", "bucket_start", "n_samples",
                          "tok_increase", "n_resets"]]])

    return (
        states.select("source", "key", "ts", "seq", "n_tok")
        .withWatermark("ts", watermark)
        .groupBy("source", "key")
        .applyInPandasWithState(
            fn, COUNTER_OUT_SCHEMA, COUNTER_STATE_SCHEMA, "append",
            GroupStateTimeout.NoTimeout,
        )
    )
