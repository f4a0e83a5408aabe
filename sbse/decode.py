"""Decode stage: token arrays -> typed event rows.

Two interchangeable implementations, equality-tested against each other:

* ``decode(df, mode="expr")`` — pure Catalyst expressions (generated from the
  same SQL template as the DuckDB oracle). Whole-stage-codegen'd, no Python;
  the fast path at scale.
* ``decode(df, mode="arrow")`` — a vectorized Arrow/pandas decode
  (``mapInPandas``): the token column is flattened once into a contiguous numpy
  buffer and every field is a vectorized gather — no per-row Python
  (BASELINE.json input_hint mandate).

Both preserve reference semantics exactly (parser.go:32-211; SURVEY.md §1.3):
+1-shifted field indexes, keep-zero sentinels, arity/type validity, and both
carry the ``tokens`` array through untouched (per-row token-equality
invariant, BASELINE.json input_hint).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from sbse import EPOCH0_S, SENTINEL
from sbse.dialect import SPARK, decode_sql

DECODED_COLS = [
    "doc_id", "source", "tokens", "n_tok", "seq", "prefix", "ok", "mt_raw",
    "msg_type", "ts", "key", "callsign", "altitude", "ground_speed", "track",
    "lat", "lon", "vertical_rate", "squawk", "on_ground",
]

_DECODED_SCHEMA_DDL = (
    "doc_id string, source string, tokens array<int>, n_tok int, seq bigint, "
    "prefix string, ok boolean, mt_raw int, msg_type int, ts timestamp, "
    "key bigint, callsign string, altitude bigint, ground_speed double, "
    "track double, lat double, lon double, vertical_rate bigint, "
    "squawk string, on_ground boolean"
)


def decode(df: DataFrame, mode: str = "expr") -> DataFrame:
    if mode == "expr":
        return _decode_expr(df)
    if mode == "arrow":
        return _decode_arrow(df)
    raise ValueError(f"unknown decode mode: {mode}")


def _decode_expr(df: DataFrame) -> DataFrame:
    # a DataFrame argument gets a uniquely named view, dropped once the
    # query is analysed: no shared session-global name for threads to race on
    return df.sparkSession.sql(decode_sql(SPARK, "{tok}"), tok=df)


def _decode_arrow(df: DataFrame) -> DataFrame:
    """mapInPandas decode. All field extraction is numpy gather over the
    flattened token buffer (offsets from per-row lengths) — vectorized."""

    def decode_batches(batches):  # nested: cloudpickled by value for workers
        import numpy as np
        import pandas as pd

        EPOCH0 = EPOCH0_S
        SENT = SENTINEL

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            toks = pdf["tokens"]
            lengths = np.fromiter((len(t) for t in toks), dtype=np.int64, count=n)
            flat = (
                np.concatenate([np.asarray(t, dtype=np.int64) for t in toks])
                if n else np.empty(0, np.int64)
            )
            starts = np.zeros(n, dtype=np.int64)
            np.cumsum(lengths[:-1], out=starts[1:])

            def field(i0, default=0):
                """Vectorized tokens[i0] with `default` where out of bounds."""
                has = lengths > i0
                idx = np.where(has, starts + i0, 0)
                v = flat[idx] if len(flat) else np.zeros(n, np.int64)
                return np.where(has, v, default), has

            t0, _ = field(0)
            t1, has1 = field(1)
            t2, has2 = field(2)
            t3, _ = field(3)
            pc = np.mod(t0, 4)
            n_tok = pdf["n_tok"].to_numpy(dtype=np.int64)
            is_msg = pc == 0
            mt_raw = t1
            ok = np.where(
                is_msg,
                (n_tok >= 22) & has1 & (mt_raw >= 1) & (mt_raw <= 12),
                n_tok >= 10,
            )
            mt = np.where(is_msg, mt_raw, 9 + pc)  # STA=10, AIR=11, ID=12

            def fz(i0):
                v, _h = field(i0)
                return np.where(v == SENT, 0, v)

            key_msg, _ = field(5)
            key_sta, _ = field(4)
            key = np.where(is_msg, key_msg, key_sta).astype("float64")
            key[~ok | (is_msg & ((mt == 1) | (mt == 2)))] = np.nan

            def cs_str(i0):
                v, _h = field(i0)
                s = v.astype("U12")
                s[(v == 0) | (v == SENT)] = ""
                return s

            cs_msg = cs_str(11)
            cs_sta = cs_str(9)
            callsign = np.where(
                is_msg,
                np.where((mt == 4) | (np.isin(mt, (10, 11, 12)) & (n_tok > 11)),
                         cs_msg, ""),
                cs_sta,
            )
            altitude = np.where(is_msg & np.isin(mt, (5, 8)), fz(12), 0)
            gspeed = np.where(is_msg & np.isin(mt, (6, 8)), fz(13), 0).astype("float64")
            track = np.where(is_msg & np.isin(mt, (7, 8)), fz(14), 0).astype("float64")
            lat = np.where(is_msg & (mt == 8), fz(15), 0).astype("float64")
            lon = np.where(is_msg & (mt == 8), fz(16), 0).astype("float64")
            vrate = np.where(is_msg & (mt == 8), fz(17), 0)
            sq_raw, _ = field(18)
            sq_s = sq_raw.astype("U12")
            # %04d pad WITHOUT truncation (np.char.zfill truncates to width)
            pref = np.array(["", "0", "00", "000", "0000"])[
                np.clip(4 - np.char.str_len(sq_s), 0, 4)
            ]
            sq = np.char.add(pref, sq_s)
            squawk = np.where(is_msg & (mt == 8) & (sq_raw != SENT), sq, "")
            t22, _ = field(22)
            on_ground = is_msg & np.isin(mt, (8, 9)) & (n_tok > 22) & (t22 == 1)

            ts_ms = (EPOCH0 + t2) * 1000 + t3
            ts = pd.to_datetime(ts_ms, unit="ms")
            ts = ts.where(pd.Series(has2, index=pdf.index).to_numpy(), pd.NaT)

            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "source": pdf["source"].to_numpy(),
                    "tokens": toks.to_numpy(),
                    "n_tok": pdf["n_tok"].to_numpy(),
                    "seq": pd.to_numeric(pdf["doc_id"].str.slice(1)).to_numpy(np.int64),
                    "prefix": np.choose(pc, ["MSG", "STA", "AIR", "ID"]),
                    "ok": ok,
                    "mt_raw": pd.array(np.where(has1, mt_raw, 0), dtype="Int32"),
                    "msg_type": pd.array(mt, dtype="Int32"),
                    "ts": ts,
                    "key": pd.array(key, dtype="Float64"),
                    "callsign": callsign,
                    "altitude": pd.array(altitude, dtype="Int64"),
                    "ground_speed": gspeed,
                    "track": track,
                    "lat": lat,
                    "lon": lon,
                    "vertical_rate": pd.array(vrate, dtype="Int64"),
                    "squawk": squawk,
                    "on_ground": on_ground,
                }
            )
            # NULL-out decoded fields on failed rows (reference drops them;
            # we keep the row, flagged, for the failed-counter — tracker
            # main.go:103-107).
            bad = ~ok
            out.loc[bad, "msg_type"] = pd.NA
            for c in ("key", "altitude", "vertical_rate"):
                out.loc[bad, c] = pd.NA
            for c in ("ground_speed", "track", "lat", "lon"):
                out.loc[bad, c] = None
            out.loc[bad, "callsign"] = None
            out.loc[bad, "squawk"] = None
            out["on_ground"] = out["on_ground"].astype("boolean")
            out.loc[bad, "on_ground"] = pd.NA
            mt_raw_na = ~pd.Series(has1, index=pdf.index)
            out.loc[mt_raw_na.to_numpy(), "mt_raw"] = pd.NA
            out["key"] = out["key"].astype("Int64")
            yield out

    return df.mapInPandas(decode_batches, schema=_DECODED_SCHEMA_DDL)
