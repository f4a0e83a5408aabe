"""Round-6 profiling: stage breakdowns + join-strategy experiments for the
heavy queries (q43/q34 bigkey summary join, q22 minhash stages, q36
multiblock stages). Ad-hoc measurement tool — not part of the engine.

Usage: python BENCH/profile_r06.py [sf_dir] [what ...]
"""

from __future__ import annotations

import os
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if HERE not in sys.path:
    sys.path.insert(0, HERE)

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def t(label, fn, runs=2):
    best = None
    for _ in range(runs):
        t0 = time.monotonic()
        fn()
        dt = time.monotonic() - t0
        best = dt if best is None else min(best, dt)
    print(f"{label}: {best:.2f}s", flush=True)
    return best


def counter_chunked_variant(states, unit, chunk_ms, mode):
    from sbse.bigkey import KEY_COLS, _with_chunk
    from sbse.rollup import counter_tier
    from sbse.sessionize import ORD_SQL

    e = _with_chunk(states, chunk_ms).withColumn("_ord", F.expr(ORD_SQL))
    wc = Window.partitionBy(*KEY_COLS, "_chunk").orderBy("ts", "seq")
    e = e.withColumn("_prev_loc", F.lag("n_tok").over(wc))
    e = e.localCheckpoint(eager=False)
    summ = e.groupBy(*KEY_COLS, "_chunk").agg(
        F.expr("max_by(n_tok, _ord)").alias("_fin")
    )
    ws = Window.partitionBy(*KEY_COLS).orderBy("_chunk")
    carry = summ.select(
        *KEY_COLS, "_chunk", F.lag("_fin").over(ws).alias("_carry")
    )
    if mode == "broadcast":
        carry = F.broadcast(carry)
    elif mode == "shuffle_hash":
        carry = carry.hint("SHUFFLE_HASH")
    j = e.join(carry, [*KEY_COLS, "_chunk"])
    return counter_tier(j, F.coalesce(F.col("_prev_loc"), F.col("_carry")), unit)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf1.0"
    what = set(sys.argv[2:]) or {"bigkey", "q22", "q36"}

    from sbse.session import get_spark
    from sbse.queries import _decoded
    from sbse.sessionize import states_only

    spark = get_spark(app_name="sbse-profile-r06")
    spark.sparkContext.setLogLevel("ERROR")

    if "bigkey" in what:
        st = states_only(_decoded(spark, sf_dir))
        # summary cardinality vs events
        n_ev = st.count()
        n_ch = (st.withColumn("_chunk",
                              F.floor(F.unix_millis("ts") / F.lit(120_000)))
                .select("source", "key", "_chunk").distinct().count())
        print(f"events={n_ev} populated 2-min chunks={n_ch}", flush=True)
        for mode in ("broadcast", "plain", "shuffle_hash"):
            spark.sparkContext.setJobDescription(f"q43 variant {mode}")
            df = counter_chunked_variant(
                states_only(_decoded(spark, sf_dir)), "hour", 120_000, mode)
            t(f"q43[{mode}]", lambda df=df: noop(
                counter_chunked_variant(
                    states_only(_decoded(spark, sf_dir)), "hour", 120_000,
                    mode)))

    if "q22" in what:
        from sbse.datapipe.dedup import hot_shingles, raw_shingles
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        spark.sparkContext.setJobDescription("q22 stage: raw_shingles")
        t("q22.raw_shingles", lambda: noop(raw_shingles(docs, 3)))
        sh = raw_shingles(docs, 3)
        spark.sparkContext.setJobDescription("q22 stage: hot_shingles")
        t("q22.hot_shingles", lambda: noop(hot_shingles(sh, 1000)))
        spark.sparkContext.setJobDescription("q22 stage: sets_sig")
        k = 8

        def sets_sig():
            s = sh.join(F.broadcast(hot_shingles(sh, 1000)), "shingle",
                        "left_anti")
            return s.groupBy("doc_id").agg(
                F.sort_array(F.collect_set("shingle")).alias("shs"),
                *[F.min(F.md5(F.concat(F.lit(str(i)), F.lit("|"),
                                       F.col("shingle")))).alias(f"mh{i}")
                  for i in range(k)],
            )
        t("q22.sets_sig", lambda: noop(sets_sig()))
        from sbse.datapipe.dedup import minhash_lsh_pairs
        spark.sparkContext.setJobDescription("q22 full")
        t("q22.full", lambda: noop(minhash_lsh_pairs(docs, threshold=0.2)))

    if "q34" in what:
        profile_q34(spark, sf_dir)

    if "q36" in what:
        from sbse.datapipe.dedup import (simhash64,
                                         simhash_candidates_multiblock)
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        spark.sparkContext.setJobDescription("q36 stage: simhash64")
        t("q36.simhash64", lambda: noop(simhash64(docs)))
        spark.sparkContext.setJobDescription("q36 full")
        t("q36.full", lambda: noop(
            simhash_candidates_multiblock(simhash64(docs), max_hamming=7,
                                          n_blocks=10, comb=3)))
        # candidate-pair volume (pre-distinct) at this sf
        sims = simhash64(docs).localCheckpoint(eager=False)
        n = sims.count()
        print(f"docs={n} distinct_simhash="
              f"{sims.select('simhash').distinct().count()}", flush=True)


def profile_q34(spark, sf_dir):
    """Stage breakdown of q34's chain (the chunked stage, then the
    session rollup) at sf_dir."""
    from sbse.bigkey import CHUNK_MS_DEFAULT, KEY_COLS, _with_chunk
    from sbse.queries import _decoded
    from sbse.sessionize import _MERGE_FIELDS, ORD_SQL, states_only

    gap_ms, chunk_ms = 30_000, 120_000
    rollup_reads = {"callsign", "lat", "lon", "altitude", "ground_speed"}
    fields = [(c, z) for c, z in _MERGE_FIELDS if c in rollup_reads]

    def build_e():
        states = states_only(_decoded(spark, sf_dir))
        e = _with_chunk(
            states.select(*KEY_COLS, "ts", "seq", *[c for c, _ in fields]),
            chunk_ms,
        )
        wc = Window.partitionBy(*KEY_COLS, "_chunk").orderBy("ts", "seq")
        wcr = wc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        for c, zero in fields:
            e = e.withColumn(
                f"_loc_{c}",
                F.last(F.nullif(F.col(c), F.lit(zero)),
                       ignorenulls=True).over(wcr),
            )
        prev_ms = F.lag(F.unix_millis("ts")).over(wc)
        e = e.withColumn(
            "_lnew",
            F.when(prev_ms.isNull()
                   | (F.unix_millis("ts") - prev_ms > F.lit(gap_ms)),
                   F.lit(1)).otherwise(F.lit(0)),
        )
        e = e.withColumn("_lsidx", F.sum("_lnew").over(wcr))
        e = e.withColumn(
            "_lstart",
            F.last(F.when(F.col("_lnew") == 1, F.col("ts")),
                   ignorenulls=True).over(wcr),
        )
        e = e.withColumn("_ord", F.expr(ORD_SQL))
        return e

    t("q34.window_ckpt", lambda: noop(build_e()))
    e = build_e().localCheckpoint(eager=False)

    def build_summ(e):
        summ = e.groupBy(*KEY_COLS, "_chunk").agg(
            *[F.expr(f"max_by(_loc_{c}, _ord)").alias(f"_fin_{c}")
              for c, _ in fields],
            F.min("ts").alias("_first_ts"),
            F.max("ts").alias("_last_ts"),
            F.max("_lsidx").alias("_nloc"),
            F.expr("max_by(_lstart, struct(ts, seq))").alias("_last_lstart"),
        )
        return summ

    t("q34.summ_agg", lambda: noop(build_summ(e)))
    from sbse.bigkey import locf_sessionize_chunked
    from sbse.sessionize import session_rollup
    t("q34.full", lambda: noop(session_rollup(locf_sessionize_chunked(
        states_only(_decoded(spark, sf_dir)), gap_ms=gap_ms,
        chunk_ms=chunk_ms))))


if __name__ == "__main__":
    main()
