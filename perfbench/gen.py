"""Seeded input generators for the benchmark.

Every input is a pure function of (workload, seed, size). Events-shaped
tables (``event_id, ts, user_id, value``) are drawn with numpy, written as
parquet, and projected into the engine's token table with
``sbse.dialect.token_table_sql`` run in DuckDB, so the Spark program only
ever receives parquet files. The projection derives everything the engine
keys on from the event row:

* ``source`` from ``event_id``: even ids are ``src-00`` (~50% of rows), odd
  ids spread over ``src-01`` .. ``src-07``;
* ``key`` from ``user_id % 100`` (ids are drawn so that 25 keys occur);
* ``doc_id`` as ``d%012d`` of ``event_id`` — decode casts its digits to the
  ``seq`` column, so no other id layout can be used.

Outputs are cached under the work directory, keyed by (kind, seed, size),
and published with an atomic rename so an interrupted run never leaves a
half-written input behind. The cache directory itself is named after a
digest of the engine's and the benchmark's sources (``source_hash``): token
tables and the base warehouse are built by engine code, so a checkout of
other code builds its own instead of reusing them.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH0_S = 1672531200       # 2023-01-01T00:00:00Z, the token clock origin
KEY_MOD = 100               # the projection's key is user_id % 100
N_KEYS = 25                 # keys drawn: 8 sources x 25 keys = 200 series
TOKEN_FILES = 8             # token tables are split into this many files
DAY_S = 86_400

# Base warehouse: seed-independent, so it is built once per checkout.
BASE_SEED = 7
BASE_DAYS = 7


def _events_table(event_id: np.ndarray, secs: np.ndarray, user_id: np.ndarray,
                  value: np.ndarray) -> pa.Table:
    ts = (EPOCH0_S + secs).astype("datetime64[s]").astype("datetime64[us]")
    return pa.table({
        "event_id": pa.array(event_id, pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(user_id, pa.int64()),
        "value": pa.array(value, pa.float64()),
    })


def rollup_events(seed: int, n: int, hot_share: float = 0.0,
                  spread_s: int = 6 * 3600) -> pa.Table:
    """``n`` events over 200 (source, key) series in a ``spread_s`` window.

    With ``hot_share`` > 0, that share of all rows is taken from the even
    (``src-00``) ids and given one key, so the single series
    (``src-00``, hot key) holds it."""
    rng = np.random.default_rng(seed)
    event_id = np.arange(n, dtype=np.int64)
    user_id = _user_ids(rng, rng.integers(0, N_KEYS, n))
    if hot_share > 0:
        hot_key = int(rng.integers(0, N_KEYS))
        even = np.flatnonzero(event_id % 2 == 0)
        hot = even[: int(round(hot_share * n))]
        user_id[hot] = _user_ids(rng, np.full(hot.size, hot_key))
        # keep the hot key out of the other src-00 rows
        cold_even = np.setdiff1d(even, hot)
        clash = cold_even[user_id[cold_even] % KEY_MOD == hot_key]
        user_id[clash] = _user_ids(rng, np.full(clash.size, (hot_key + 1) % N_KEYS))
    secs = rng.integers(0, spread_s, n)
    value = rng.uniform(0, 1_000_000, n).round(3)
    return _events_table(event_id, secs, user_id, value)


def _user_ids(rng, keys: np.ndarray) -> np.ndarray:
    """User ids that project to ``keys``."""
    return keys + KEY_MOD * rng.integers(0, 10, keys.size)


def base_events(n: int) -> pa.Table:
    """The 7-day base warehouse input: ``n`` events spread evenly over
    ``BASE_DAYS`` days, 200 series. Seed-independent by design."""
    return rollup_events(BASE_SEED, n, spread_s=BASE_DAYS * DAY_S)


def late_events(seed: int, n_base: int, n_late: int) -> tuple[pa.Table, dict]:
    """A late batch of ``n_late`` events from ONE (source, key) series.

    Ids continue after the base (``n_base`` ..), odd so the series is not
    ``src-00``; the source is fixed by ``event_id % 7`` and the key by
    ``user_id % 100``. Timestamps fall inside one day of the base window
    (never the oldest day, which the run expires)."""
    rng = np.random.default_rng(seed)
    src = int(rng.integers(0, 7))            # source src-0{src+1}
    key = int(rng.integers(0, N_KEYS))
    day = int(rng.integers(2, BASE_DAYS))
    # odd ids with id % 7 == src, starting after the base
    first = n_base + ((src - n_base) % 7)
    ids = np.arange(first, first + 14 * n_late, 7, dtype=np.int64)
    ids = ids[ids % 2 == 1][:n_late]
    user_id = _user_ids(rng, np.full(n_late, key))
    secs = day * DAY_S + rng.integers(0, DAY_S, n_late)
    value = rng.uniform(0, 1_000_000, n_late).round(3)
    info = {"source": f"src-0{src + 1}", "key": key, "day": day}
    return _events_table(ids, secs, user_id, value), info


def docs_table(seed: int, n: int, vocab: int = 20_000) -> tuple[pa.Table, np.ndarray]:
    """``n`` docs of 30-70 words from a ``vocab``-word vocabulary. Every doc
    with ``doc_id % 10 == 1`` copies its predecessor with one word replaced
    (the planted near-duplicate). Returns the table and the planted
    (doc_a, doc_b) pairs."""
    rng = np.random.default_rng(seed)
    lens = rng.integers(30, 71, n)
    texts: list[str] = []
    for i in range(n):
        if i % 10 == 1:
            words = texts[i - 1].split(" ")
            words[int(rng.integers(0, len(words)))] = f"x{i}"
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(f"w{w}" for w in rng.integers(0, vocab, lens[i])))
    ids = np.arange(n, dtype=np.int64)
    planted = np.stack([ids[ids % 10 == 1] - 1, ids[ids % 10 == 1]], axis=1)
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * n, pa.string()),
        "source": pa.array(["synth"] * n, pa.string()),
    })
    return table, planted


def write_tokens(events_path: str, out_dir: str, n_files: int = TOKEN_FILES,
                 prefix: str = "part") -> None:
    """Project an events parquet file into a token table of ``n_files``
    parquet files with the shared dialect SQL."""
    import duckdb

    from sbse.dialect import DUCK, token_table_sql

    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for s in range(n_files):
            con.execute(
                f"CREATE OR REPLACE VIEW ev AS SELECT * FROM "
                f"read_parquet('{events_path}') WHERE event_id % {n_files} = {s}")
            con.execute(
                f"COPY ({token_table_sql(DUCK, 'ev')}) TO "
                f"'{out_dir}/{prefix}-{s:02d}.parquet' (FORMAT parquet)")
    finally:
        con.close()


def source_hash(root: str) -> str:
    """Digest of the sources under ``root``: every file of ``sbse/`` and
    the benchmark's Python files (bytecode caches aside)."""
    h = hashlib.sha256()
    paths = glob.glob(os.path.join(root, "sbse", "**", "*"), recursive=True)
    paths += glob.glob(os.path.join(root, "perfbench", "*.py"))
    for path in sorted(paths):
        if os.path.isfile(path) and "__pycache__" not in path:
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


class Cache:
    """Generated inputs under ``root``, one directory per (kind, seed, size)."""

    def __init__(self, root: str) -> None:
        self.root = root

    def get(self, name: str, build) -> str:
        """Path of the cached entry ``name``; ``build(tmp_dir)`` fills it
        when missing."""
        path = os.path.join(self.root, name)
        if os.path.isdir(path):
            return path
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        build(tmp)
        os.replace(tmp, path)
        return path

    def events_and_tokens(self, name: str, table_fn, n_files: int = TOKEN_FILES,
                          prefix: str = "part") -> str:
        """Cache an events table (``events.parquet``) plus its token table
        (``tokens/``)."""
        def build(tmp: str) -> None:
            ev = os.path.join(tmp, "events.parquet")
            pq.write_table(table_fn(), ev)
            write_tokens(ev, os.path.join(tmp, "tokens"), n_files, prefix)
        return self.get(name, build)
