"""The benchmark's workloads.

Each workload generates its inputs from the seed (``prepare``; inputs that
only Spark can make, ``prepare_spark``, are built once and cached, and
``spark_ready`` says whether they are), warms a new session with a light
job over part of them (``warm``), and then runs (``run``), resetting any
state a run leaves behind first (``between``).
Every run drives each output through the ``noop`` sink, so column pruning
cannot skip work a real write pays for, and returns a digest of those
outputs observed during the write. A run made with ``keep=True`` runs the
same plans and, once it has returned, keeps its output DataFrames for
``check``, which collects them and compares them with an independent
reference that ``reference`` computes from the inputs alone (without
Spark, so a second thread can compute it meanwhile; ``check`` gets a
callable that returns it); any other run counts as failed when its digest differs from the
checked run's.

Under an enabled tracer, ``run`` calls the same layers one public function
at a time, materializing each layer's output at its boundary inside a span
named after the function.
"""

from __future__ import annotations

import itertools
import json
import os
import shutil

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

import gen
from sbse import checkpoint as ck
from sbse.bigkey import locf_merge_chunked, session_rollup_agg, sessionize_chunked
from sbse.catalog import expire_partitions, read_partitioned
from sbse.datapipe import dedup as dd
from sbse.decode import decode
from sbse.gorilla import encode_tier
from sbse.metrics import run_metrics
from sbse.pipeline import run_pipeline
from sbse.rollup import bucket_rollup, cascade, gapfill_locf
from sbse.sessionize import locf_merge, session_rollup, sessionize, states_only

GAP_MS = 30_000
OUTPUTS = ("states", "sessions", "rollup_1m", "rollup_1h", "rollup_1d",
           "gapfill_1h", "metrics", "gorilla_1m")
# pipeline output -> DuckDB oracle query (sbse.oracle), fp columns dropped
ORACLE = {"sessions": "q04_sessions_gap30", "rollup_1m": "q06_rollup_1m",
          "rollup_1h": "q07_rollup_1h", "rollup_1d": "q08_rollup_1d",
          "gapfill_1h": "q09_gapfill_1h"}

_obs_ids = itertools.count()


class GateError(AssertionError):
    """An output differs from its reference."""


def sink(df: DataFrame) -> tuple[int, int, int]:
    """Write ``df`` to the noop sink; return (rows, xor, sum) of a row hash
    over all columns, observed by the write itself. Order-insensitive and
    independent of column order."""
    h = F.xxhash64(*[F.col(c) for c in sorted(df.columns)])
    obs = Observation(f"perfbench_{next(_obs_ids)}")
    (df.observe(obs, F.count(F.lit(1)).alias("n"), F.bit_xor(h).alias("x"),
                F.sum(F.pmod(h, F.lit(2147483647))).alias("s"))
     .write.format("noop").mode("overwrite").save())
    r = obs.get
    return int(r["n"]), int(r["x"] or 0), int(r["s"] or 0)


def materialize(tracer, frames: list, name: str, build) -> DataFrame:
    """Build a layer's output with ``build()`` and materialize it (persist +
    count), both inside the layer's span. The persisted frame is appended
    to ``frames`` for the caller to release."""
    with tracer.span(name):
        df = build().persist()
        n = df.count()
    frames.append(df)
    tracer.count(f"{name}.rows_out", n)
    return df


def layered_pipeline(tok: DataFrame, tracer, frames: list,
                     bigkey_chunk_ms: int | None = None) -> dict[str, DataFrame]:
    """``run_pipeline(tok, decode_mode='expr')``'s outputs, one layer call
    at a time, each materialized inside its span."""
    def mat(name: str, build) -> DataFrame:
        return materialize(tracer, frames, name, build)

    decoded = mat("decode.decode", lambda: decode(tok, mode="expr"))
    states = states_only(decoded)
    if bigkey_chunk_ms is not None:
        merged = mat("bigkey.locf_merge_chunked",
                     lambda: locf_merge_chunked(states, chunk_ms=bigkey_chunk_ms))
        events = mat("bigkey.sessionize_chunked", lambda: sessionize_chunked(
            merged, gap_ms=GAP_MS, chunk_ms=bigkey_chunk_ms, close_trailing=True))
        sessions = mat("bigkey.session_rollup_agg", lambda: session_rollup_agg(events))
    else:
        merged = mat("sessionize.locf_merge", lambda: locf_merge(states))
        events = mat("sessionize.sessionize", lambda: sessionize(
            merged, gap_ms=GAP_MS, close_trailing=True))
        sessions = mat("sessionize.session_rollup", lambda: session_rollup(events))
    r1m = mat("rollup.bucket_rollup", lambda: bucket_rollup(merged, "minute"))
    r1h = mat("rollup.cascade", lambda: cascade(r1m, "hour"))
    return {
        "states": merged,
        "sessions": sessions,
        "rollup_1m": r1m,
        "rollup_1h": r1h,
        "rollup_1d": mat("rollup.cascade", lambda: cascade(r1h, "day")),
        "gapfill_1h": mat("rollup.gapfill_locf", lambda: gapfill_locf(r1h, "hour")),
        "metrics": mat("metrics.run_metrics", lambda: run_metrics(decoded, sessions)),
        "gorilla_1m": mat("gorilla.encode_tier", lambda: encode_tier(r1m)),
    }


def _first_file(table_dir: str) -> str:
    """One file of a table: the warm-up input."""
    return os.path.join(table_dir, sorted(os.listdir(table_dir))[0])


def _release(frames: list) -> None:
    for df in frames:
        df.unpersist()
    frames.clear()


def _same_frame(got, want, what: str) -> None:
    import pandas as pd

    got = got.drop(columns=[c for c in ("first_fp", "last_fp") if c in got])
    cols = sorted(want.columns)
    if sorted(got.columns) != cols:
        raise GateError(f"{what}: columns {sorted(got.columns)} != {cols}")
    try:
        pd.testing.assert_frame_equal(
            got[cols].sort_values(cols, ignore_index=True),
            want[cols].sort_values(cols, ignore_index=True), check_dtype=False)
    except AssertionError as e:
        raise GateError(f"{what}: differs from its reference: {e}") from e


def oracle_frames(events: list[str], keep_from: str | None = None) -> dict:
    """Each checked pipeline output as its DuckDB oracle query gives it over
    the events parquet files; with ``keep_from``, rows of dates before it
    (expired from the warehouse) are left out."""
    import duckdb

    from sbse.oracle import oracles

    sql = oracles()
    files = ", ".join(f"'{e}'" for e in events)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet([{files}])")
        want = {}
        for table, q in ORACLE.items():
            query = sql[q]
            if keep_from is not None:
                query = (f"SELECT * FROM ({query}) WHERE CAST("
                         f"{ck.DATE_COLS[table]} AS DATE) >= DATE '{keep_from}'")
            want[table] = con.execute(query).df()
        return want
    finally:
        con.close()


def check_oracle(got: dict, want: dict) -> None:
    """Each collected pipeline output in ``got`` equals its oracle frame."""
    for table, q in ORACLE.items():
        _same_frame(got[table], want[table], f"{table} vs {q}")


# ---------------------------------------------------------------------------
# rollup_batch, rollup_hotkey
# ---------------------------------------------------------------------------

class RollupBatch:
    """The whole pipeline (``run_pipeline``: expr decode, cached tiers,
    Gorilla on) over one token table, every output to the noop sink."""

    name = "rollup_batch"
    rows = 5_000
    hot_share = 0.0
    chunk_ms: int | None = None

    def __init__(self, cache: gen.Cache, seed: int) -> None:
        self.cache, self.seed = cache, seed
        self.items = self.rows

    def prepare(self) -> None:
        self.dir = self.cache.events_and_tokens(
            f"{self.name}-s{self.seed}-n{self.rows}",
            lambda: gen.rollup_events(self.seed, self.rows, self.hot_share))
        self.tokens = os.path.join(self.dir, "tokens")

    def spark_ready(self) -> bool:
        return True

    def prepare_spark(self, spark) -> None:
        pass

    def warm(self, spark) -> None:
        sink(decode(spark.read.parquet(_first_file(self.tokens)), mode="expr"))

    def between(self) -> None:
        pass

    def run(self, spark, tracer, keep: bool = False) -> dict:
        frames: list = []
        try:
            tok = spark.read.parquet(self.tokens)
            if tracer.enabled:
                out = layered_pipeline(tok, tracer, frames, self.chunk_ms)
            else:
                out = run_pipeline(tok, gap_ms=GAP_MS, decode_mode="expr",
                                   cache_tiers=True, bigkey_chunk_ms=self.chunk_ms)
                frames += [out["rollup_1m"], out["rollup_1h"]]
            digest = {k: sink(out[k]) for k in OUTPUTS}
            if keep:  # the cached tiers stay cached until check collects
                self._kept, self._frames, frames = out, frames, []
            return digest
        finally:
            _release(frames)

    def reference(self) -> dict:
        return oracle_frames([os.path.join(self.dir, "events.parquet")])

    def check(self, spark, want) -> None:
        """The kept run's outputs equal the DuckDB oracle over the events
        parquet (for the bigkey path this is q34's contract: its sessions
        equal q04)."""
        try:
            got = {k: self._kept[k].toPandas() for k in ORACLE}
        finally:
            _release(self._frames)
        check_oracle(got, want())


class RollupHotkey(RollupBatch):
    """The same pipeline over a token table in which one (source, key)
    series holds half of all rows, through the monster-key window path
    (``bigkey_chunk_ms``)."""

    name = "rollup_hotkey"
    hot_share = 0.5
    chunk_ms = 120_000


# ---------------------------------------------------------------------------
# warehouse_refresh
# ---------------------------------------------------------------------------

class WarehouseRefresh:
    """A late batch lands beside a 7-day warehouse built through the job
    path; the run resumes the checkpointed job (one dirty partition),
    expires the oldest day and range-reads the refreshed days."""

    name = "warehouse_refresh"
    base_rows = 14_000
    late_rows = 140          # 1% of the base, one (source, key) series
    n_parts = 4
    run_id = "base"

    def __init__(self, cache: gen.Cache, seed: int) -> None:
        self.cache, self.seed = cache, seed
        self.items = self.base_rows + self.late_rows
        self.work = os.path.join(os.path.dirname(cache.root), "warehouse_run")

    def prepare(self) -> None:
        self.base = self.cache.events_and_tokens(
            f"wh_base-n{self.base_rows}",
            lambda: gen.base_events(self.base_rows))
        _, self.late_info = gen.late_events(self.seed, self.base_rows, self.late_rows)
        self.late = self.cache.events_and_tokens(
            f"wh_late-s{self.seed}-n{self.late_rows}",
            lambda: gen.late_events(self.seed, self.base_rows, self.late_rows)[0],
            n_files=1, prefix="late")
        d0 = np.datetime64(gen.EPOCH0_S, "s").astype("datetime64[D]")
        day = d0 + self.late_info["day"]
        self.keep_from = str(d0 + 1)              # expire the oldest day
        self.read_range = (str(day - 1), str(day))
        self.input = os.path.join(self.work, "input")
        self.wh = os.path.join(self.work, "wh")
        self.base_wh = os.path.join(self.cache.root, f"wh_built-n{self.base_rows}")

    def spark_ready(self) -> bool:
        return os.path.isdir(self.base_wh)

    @staticmethod
    def _job_pipeline(subset: DataFrame) -> dict[str, DataFrame]:
        # the spark-submit job's pipeline (sbse/jobs/run_pipeline.py)
        out = run_pipeline(subset, gap_ms=GAP_MS, decode_mode="expr")
        return {k: v for k, v in out.items() if k != "decoded"}

    def prepare_spark(self, spark) -> None:
        """Build the base warehouse once per checkout, untimed."""
        def build(tmp: str) -> None:
            tok = spark.read.parquet(os.path.join(self.base, "tokens"))
            ck.run_partitioned(tok, self._job_pipeline, tmp, self.run_id,
                               n_parts=self.n_parts)
        self.cache.get(os.path.basename(self.base_wh), build)

    def warm(self, spark) -> None:
        sink(decode(spark.read.parquet(
            _first_file(os.path.join(self.base, "tokens"))), mode="expr"))

    def between(self) -> None:
        """Restore the base warehouse and its input, untimed."""
        shutil.rmtree(self.work, ignore_errors=True)
        shutil.copytree(self.base_wh, self.wh)
        shutil.copytree(os.path.join(self.base, "tokens"), self.input)

    def _manifest(self, part: int) -> str:
        return os.path.join(self.wh, "_manifests", self.run_id, f"part-{part}.json")

    def _resume(self, spark, tracer) -> dict:
        # the late batch lands in the input table
        for f in os.listdir(os.path.join(self.late, "tokens")):
            shutil.copy(os.path.join(self.late, "tokens", f), self.input)
        tok = spark.read.parquet(self.input)
        if not tracer.enabled:
            return ck.run_partitioned(tok, self._job_pipeline, self.wh,
                                      self.run_id, n_parts=self.n_parts)
        frames: list = []
        fingerprints = ck.partition_fingerprints

        def traced_fingerprints(labeled, *a, **kw):
            with tracer.span("checkpoint.partition_fingerprints"):
                fps = fingerprints(labeled, *a, **kw)
            tracer.count("checkpoint.partition_fingerprints.rows_out",
                         sum(n for n, _ in fps.values()))
            return fps

        ck.partition_fingerprints = traced_fingerprints
        try:
            with tracer.span("checkpoint.run_partitioned"):
                summary = ck.run_partitioned(
                    tok, lambda sub: layered_pipeline(sub, tracer, frames),
                    self.wh, self.run_id, n_parts=self.n_parts)
        finally:
            ck.partition_fingerprints = fingerprints
            _release(frames)
        parent = tracer.last("checkpoint.run_partitioned")
        recomputed = 0
        for p, state in summary.items():
            if state != "computed":
                continue
            with open(self._manifest(p)) as f:
                m = json.load(f)
            end = os.path.getmtime(self._manifest(p))
            tracer.add_span("checkpoint.partition", end - m["duration_s"], end, parent)
            tracer.count("checkpoint.partition.rows_out",
                         sum(o["rows"] for o in m["outputs"].values()))
            recomputed += m["input_rows"]
        tracer.count("checkpoint.run_partitioned.rows_out", recomputed)
        tracer.count("checkpoint.run_partitioned.recompute_ratio",
                     recomputed / self.late_rows)
        return summary

    def _expire_and_read(self, spark, tracer) -> tuple:
        with tracer.span("catalog.expire_partitions"):
            dropped = sum(len(expire_partitions(os.path.join(self.wh, t), self.keep_from))
                          for t in ck.DATE_COLS)
        tracer.count("catalog.expire_partitions.rows_out", dropped)
        with tracer.span("catalog.read_partitioned"):
            digest = sink(read_partitioned(spark, os.path.join(self.wh, "rollup_1m"),
                                           *self.read_range))
        tracer.count("catalog.read_partitioned.rows_out", digest[0])
        return digest

    @staticmethod
    def _computed(summary: dict) -> list[int]:
        computed = sorted(p for p, s in summary.items() if s == "computed")
        if len(computed) != 1:
            raise GateError(f"expected exactly one recomputed partition, got {summary}")
        return computed

    def run(self, spark, tracer, keep: bool = False) -> dict:
        self._recomputed = self._computed(self._resume(spark, tracer))
        return {"computed": self._recomputed,
                "read": self._expire_and_read(spark, tracer)}

    def reference(self) -> dict:
        return oracle_frames([os.path.join(self.base, "events.parquet"),
                              os.path.join(self.late, "events.parquet")],
                             keep_from=self.keep_from)

    def _read_back(self, table: str):
        """A warehouse table as pyarrow reads its files, without the
        partition columns."""
        return pq.ParquetDataset(os.path.join(self.wh, table),
                                 partitioning=None).read().to_pandas()

    def check(self, spark, want) -> None:
        """After the run, the recomputed partition holds the late rows, and
        the warehouse read back equals a cold build of base + late less the
        expired day: the DuckDB oracle over both events files for the
        oracle-checked tables, the input row count for the per-partition
        metrics rows."""
        with open(self._manifest(self._recomputed[0])) as f:
            rows = json.load(f)["input_rows"]
        if rows < self.late_rows:
            raise GateError(f"recomputed partition holds {rows} rows, "
                            f"fewer than the {self.late_rows} late rows")
        check_oracle({t: self._read_back(t) for t in ORACLE}, want())
        total = int(self._read_back("metrics")["total_rows"].sum())
        if total != self.items:
            raise GateError(f"metrics count {total} input rows, not {self.items}")


# ---------------------------------------------------------------------------
# dedup_corpus
# ---------------------------------------------------------------------------

def _popcount(x: np.ndarray) -> np.ndarray:
    x = x - ((x >> np.uint64(1)) & np.uint64(0x5555555555555555))
    x = (x & np.uint64(0x3333333333333333)) + ((x >> np.uint64(2)) & np.uint64(0x3333333333333333))
    x = (x + (x >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    return (x * np.uint64(0x0101010101010101)) >> np.uint64(56)


def brute_force_pairs(ids: np.ndarray, sigs: np.ndarray, radius: int) -> set:
    """Every (a, b), a < b, whose signatures differ in at most ``radius``
    bits, by a blocked all-pairs numpy scan."""
    order = np.argsort(ids)
    ids, sigs = ids[order], sigs[order].astype(np.uint64)
    pairs: set = set()
    block = 256
    for i0 in range(0, len(ids), block):
        blk = sigs[i0:i0 + block]
        h = _popcount(blk[:, None] ^ sigs[None, :])
        ii, jj = np.nonzero(h <= radius)
        upper = (i0 + ii) < jj
        pairs.update(zip(ids[i0 + ii[upper]].tolist(), ids[jj[upper]].tolist()))
    return pairs


class DedupCorpus:
    """SimHash radius-7 candidates and MinHash LSH pairs over a corpus with
    10% planted near-duplicates."""

    name = "dedup_corpus"
    docs = 5_000
    radius = 7
    threshold = 0.2

    def __init__(self, cache: gen.Cache, seed: int) -> None:
        self.cache, self.seed = cache, seed
        self.items = self.docs

    def prepare(self) -> None:
        def build(tmp: str) -> None:
            table, planted = gen.docs_table(self.seed, self.docs)
            os.makedirs(os.path.join(tmp, "docs"))
            for s in range(gen.TOKEN_FILES):
                pq.write_table(table.filter(
                    np.arange(self.docs) % gen.TOKEN_FILES == s),
                    os.path.join(tmp, "docs", f"part-{s:02d}.parquet"))
            np.save(os.path.join(tmp, "planted.npy"), planted)

        root = self.cache.get(f"{self.name}-s{self.seed}-n{self.docs}", build)
        self.dir = os.path.join(root, "docs")
        self.planted = {tuple(p) for p in
                        np.load(os.path.join(root, "planted.npy")).tolist()}

    def spark_ready(self) -> bool:
        return True

    def prepare_spark(self, spark) -> None:
        pass

    def warm(self, spark) -> None:
        sink(spark.read.parquet(_first_file(self.dir)))

    def between(self) -> None:
        pass

    def _frames(self, spark, tracer, frames: list):
        docs = spark.read.parquet(self.dir)
        if not tracer.enabled:
            sims = dd.simhash64(docs)
            return (sims, dd.simhash_candidates_adaptive(sims, max_hamming=self.radius),
                    dd.minhash_lsh_pairs(docs, threshold=self.threshold))

        def mat(name: str, build) -> DataFrame:
            return materialize(tracer, frames, name, build)

        sims = mat("dedup.simhash64", lambda: dd.simhash64(docs))
        sh = mat("dedup.simhash_candidates_adaptive",
                 lambda: dd.simhash_candidates_adaptive(sims, max_hamming=self.radius))
        mh = mat("dedup.minhash_lsh_pairs",
                 lambda: dd.minhash_lsh_pairs(docs, threshold=self.threshold))
        for name, df in (("dedup.simhash_candidates_adaptive", sh),
                         ("dedup.minhash_lsh_pairs", mh)):
            tracer.count(f"{name}.planted_recall", self.recall(df))
        return sims, sh, mh

    def recall(self, pairs: DataFrame) -> float:
        found = {(r[0], r[1]) for r in pairs.select("doc_a", "doc_b").collect()}
        return len(found & self.planted) / len(self.planted)

    def run(self, spark, tracer, keep: bool = False) -> dict:
        frames: list = []
        try:
            sims, sh, mh = self._frames(spark, tracer, frames)
            digest = {"simhash": sink(sh), "minhash": sink(mh)}
            if keep:
                self._kept = (sims, sh, mh)
            return digest
        finally:
            _release(frames)

    def reference(self) -> None:
        """The reference pairs need the run's signatures: ``check`` makes
        them."""
        return None

    def check(self, spark, want) -> None:
        """The kept run's SimHash pairs are exactly the brute-force radius-7
        pair set of its signatures; its MinHash pairs pass the Jaccard
        threshold."""
        sims, sh, mh = self._kept
        sims = sims.persist()  # the candidate pairs are computed from it
        try:
            sig, got = sims.toPandas(), sh.toPandas()
            jac = mh.select(F.min("jaccard")).collect()[0][0]
        finally:
            sims.unpersist()
        ids = sig["doc_id"].to_numpy()
        sigs = sig["simhash"].to_numpy().view(np.uint64)
        by_id = dict(zip(ids.tolist(), sigs.tolist()))
        for a, b in zip(got["doc_a"].tolist(), got["doc_b"].tolist()):
            if bin(by_id[a] ^ by_id[b]).count("1") > self.radius:
                raise GateError(f"simhash pair ({a}, {b}) exceeds radius {self.radius}")
        pairs = set(zip(got["doc_a"].tolist(), got["doc_b"].tolist()))
        want = brute_force_pairs(ids, sigs, self.radius)
        if pairs != want or len(got) != len(pairs):
            raise GateError(f"simhash pairs: {len(pairs)} found, {len(want)} by "
                            f"brute force, {len(pairs ^ want)} differ")
        if jac is not None and jac < self.threshold:
            raise GateError(f"minhash pair below threshold: {jac}")


WORKLOADS = {w.name: w for w in (RollupBatch, RollupHotkey, WarehouseRefresh,
                                 DedupCorpus)}
