"""Datapipe banding economics at REAL document scale (round-3 verdict item
6: documents.parquet is 5,000 rows at sf0.1 — too small to expose banding
economics).

Generates a deterministic synthetic corpus of $SBSE_DATAPIPE_DOCS docs
(default 1M) ENTIRELY Spark-side (no driver loop): ~30-70 hash-derived
words per doc from a 20k vocabulary; every 10th doc is a near-duplicate of
its predecessor with one word perturbed, so MinHash/SimHash banding has
real positives to find. Then times:

* simhash64 over the corpus;
* simhash_candidates_multiblock at radius 7 (C(10,3) ~19-bit combination
  tables): plain banding would tie radius 7 to 8-bit band keys, ~4k docs
  per bucket and ~10^10 candidate pairs at 1M docs.
* minhash_lsh_pairs (k=8, 4 bands, df-capped shingles) — the text-side
  banding path.

Per-stage wall time + per-band-table max bucket size + hypervisor steal
are printed as ONE JSON line and appended to BENCH/datapipe_runs.jsonl.

Usage: python BENCH/datapipe_bench.py  [env: SBSE_DATAPIPE_DOCS=1000000]
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
if REPO not in sys.path:
    sys.path.insert(0, REPO)

N_DOCS = int(os.environ.get("SBSE_DATAPIPE_DOCS", "1000000"))
VOCAB = 20_000
# Comma-separated stage-prefix filter (e.g. "minhash" or "simhash,minhash").
# Empty = run everything. Lets a stage be timed in ISOLATION in a fresh JVM:
# the in-process stage order is itself a measured variable (the multiblock
# stage's ~120-way combination shuffle leaves the JVM with populated old-gen
# and thousands of shuffle files, inflating whatever runs after it).
STAGES = [s for s in os.environ.get("SBSE_DATAPIPE_STAGES", "").split(",") if s]


def _stage_on(name: str) -> bool:
    return not STAGES or any(name.startswith(p) for p in STAGES)


def _proc_stat():
    with open("/proc/stat") as f:
        parts = f.readline().split()
    vals = [int(x) for x in parts[1:]]
    return sum(vals), (vals[7] if len(vals) > 7 else 0)


def synth_docs(spark, n: int):
    """Deterministic corpus, pure Catalyst. Doc id%10==1 copies doc id-1's
    words with word (id mod len) perturbed — a controlled near-dup."""
    from pyspark.sql import functions as F

    d = spark.range(n).select(F.col("id").alias("doc_id"))
    is_dup = F.col("doc_id") % 10 == 1
    grp = F.when(is_dup, F.col("doc_id") - 1).otherwise(F.col("doc_id"))
    nw = (F.pmod(F.xxhash64(grp), F.lit(41)) + 30).cast("int")
    d = d.withColumn("_grp", grp).withColumn("_nw", nw)
    word = F.concat(
        F.lit("w"),
        F.pmod(F.xxhash64(F.col("_grp") * 997 + F.col("i")), F.lit(VOCAB))
        .cast("string"),
    )
    perturbed = F.when(
        is_dup & (F.col("i") == F.pmod(F.col("doc_id"), F.col("_nw"))),
        F.concat(F.lit("x"), F.col("doc_id").cast("string")),
    ).otherwise(word)
    e = d.select(
        "doc_id", "_grp", "_nw",
        F.posexplode(F.sequence(F.lit(0), F.col("_nw") - 1)).alias("_p", "i"),
    ).select("doc_id", perturbed.alias("w"), "_p")
    docs = e.groupBy("doc_id").agg(
        F.concat_ws(" ", F.expr("array_sort(collect_list(struct(_p, w))).w"))
        .alias("text")
    )
    return docs.withColumn("lang", F.lit("en")).withColumn(
        "source", F.lit("synth")
    )


def main() -> None:
    from pyspark.sql import functions as F

    from sbse.datapipe import dedup as dd
    from sbse.session import get_spark

    spark = get_spark(app_name="sbse-datapipe-bench")
    spark.sparkContext.setLogLevel("ERROR")

    res: dict = {"metric": "datapipe_1m_banding", "n_docs": N_DOCS,
                 "unit": "sec", "stages": {}, "band_stats": {}}
    if STAGES:
        res["stage_filter"] = STAGES  # partial run — not comparable e2e
    steals = []

    def timed(name, fn):
        t_a, s_a = _proc_stat()
        t0 = time.monotonic()
        out = fn()
        dt = time.monotonic() - t0
        t_b, s_b = _proc_stat()
        steals.append(round(100.0 * (s_b - s_a) / max(t_b - t_a, 1), 2))
        res["stages"][name] = round(dt, 3)
        return out

    corpus_path = f"/tmp/sbse_datapipe_docs_{N_DOCS}"
    if not os.path.exists(corpus_path):
        synth_docs(spark, N_DOCS).write.mode("overwrite").parquet(corpus_path)
    docs = spark.read.parquet(corpus_path)

    res["stages_out"] = {}
    # --- simhash + multi-block candidates
    need_sims = any(_stage_on(s) for s in (
        "simhash64_arrow", "simhash_materialize",
        "simhash_multiblock_h7_c10_3"))
    if need_sims:
        dd.simhash64(docs.limit(5000)).count()  # worker warm-up
    if _stage_on("simhash64_arrow"):
        sims = dd.simhash64(docs)
        timed("simhash64_arrow", lambda: sims.count())
    # materialize the checkpointed frame FIRST so the candidates stage times
    # the banding itself, not a second simhash pass hidden inside the
    # lazy checkpoint
    if need_sims:
        sims_m = dd.simhash64(docs).localCheckpoint(eager=False)
        timed("simhash_materialize", lambda: sims_m.count())
    # --- the Manku multi-block path that keeps radius 7 FEASIBLE here:
    # C(10,3)=120 ~19-bit combination tables => ~5e5 buckets/table, so the
    # quadratic term stays bounded where 8-bit plain banding explodes.
    if _stage_on("simhash_multiblock_h7_c10_3"):
        n_mb = timed(
            "simhash_multiblock_h7_c10_3",
            lambda: dd.simhash_candidates_multiblock(
                sims_m, max_hamming=7, n_blocks=10, comb=3).count(),
        )
        res["stages_out"]["simhash_multiblock_h7_pairs"] = n_mb

    # --- minhash LSH over the same corpus
    if _stage_on("minhash_lsh_pairs"):
        # steady-state protocol (same as the simhash warm-up above and
        # bench.py/scaling.py): drive the identical plan shape once at small
        # scale so the timed run measures execution, not first-plan JIT +
        # codegen + shuffle-buffer warm-up (measured ~2x on the first
        # minhash run of a fresh JVM)
        dd.minhash_lsh_pairs(docs.limit(5000), threshold=0.2).count()
        n_mh = timed(
            "minhash_lsh_pairs",
            lambda: dd.minhash_lsh_pairs(docs, threshold=0.2).count(),
        )
        res["stages_out"]["minhash_pairs"] = n_mh
        sig = dd.cap_shingle_df(dd.shingles(docs, 3), 1000)
        mh_bucket = (
            sig.groupBy("shingle").count().agg(F.max("count")).collect()[0][0]
        )
        res["band_stats"]["minhash_max_shingle_df_after_cap"] = int(mh_bucket)

    # --- curation ops at corpus scale: contamination screen (broadcast
    # benchmark grams vs a 45M-gram corpus stream) and the packing manifest
    # (one window per 16**2 = 256 shards).
    if any(_stage_on(s) for s in ("curate_contamination",
                                  "curate_pack_sequences", "e2e_curate")):
        from sbse.datapipe import curate as cu
    if _stage_on("curate_contamination"):
        n_ct = timed(
            "curate_contamination",
            lambda: cu.contamination_screen(docs).count(),
        )
        res["stages_out"]["contamination_docs"] = n_ct
    if _stage_on("curate_pack_sequences"):
        n_pk = timed(
            "curate_pack_sequences",
            lambda: cu.pack_sequences(docs, seq_len=2048,
                                      shard_nibbles=2).count(),
        )
        res["stages_out"]["packed_docs"] = n_pk
    if _stage_on("e2e_curate"):
        n_e2e = timed(
            "e2e_curate",
            lambda: cu.curation_pipeline(docs, seq_len=2048).count(),
        )
        res["stages_out"]["e2e_curate_docs"] = n_e2e

    res["host_steal_pct"] = {"min": min(steals), "max": max(steals)}
    res["cpus"] = os.cpu_count()
    line = json.dumps(res)
    print(line)
    with open(os.path.join(HERE, "datapipe_runs.jsonl"), "a") as f:
        f.write(line + "\n")


if __name__ == "__main__":
    main()
