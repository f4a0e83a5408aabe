"""Engine-side implementations of every oracle-checked query.

Each function takes ``(spark, sf_dir)`` and returns a DataFrame whose column
names and types match the DuckDB oracle in ``sbse.oracle`` exactly (the
driver's compare is order-insensitive but name/type-sensitive).

These are thin compositions of the engine operators — DataFrame API all the
way down, one shuffle per keyed stage, broadcast joins for dimensions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sbse.decode import decode
from sbse.rollup import bucket_rollup, cascade, gapfill_locf
from sbse.sessionize import locf_merge, ord_col, session_rollup, sessionize, states_only
from sbse.tokens import token_table_from_events
from sbse.datapipe import dedup as dd
from sbse.datapipe import similarity as sim
from sbse.datapipe import text as tx


def _widen(df: DataFrame) -> DataFrame:
    """Adaptive scan-parallelism fix (round 6, guide §2.5 'input skew: one
    huge unsplittable file'): the harness tables are single parquet files
    with ONE row group, so every scan-side stage — shingle+md5 map work,
    mapInPandas decode/simhash, window partial aggregation — ran on <= 2 of
    the 32 cores (measured: q22's dominant stage showed 2 tasks). When the
    source offers fewer splits than the cluster has slots, pay one cheap
    hash exchange of the raw rows to unlock full parallelism; on a real
    multi-file/bucketed table this is a no-op. Content-deterministic:
    every downstream operator keys on values, never on partition or row
    order."""
    import os

    target = df.sparkSession.sparkContext.defaultParallelism
    if (os.environ.get("SBSE_WIDEN_DOCS", "1") != "0"
            and df.rdd.getNumPartitions() < min(target, 16)):
        # hash on the unique id, not round-robin: keyless repartition(n)
        # pays a local sort of the input (sortBeforeRepartition, guide
        # §2.5); hashing a unique key needs no sort and spreads evenly.
        key = "doc_id" if "doc_id" in df.columns else "vec_id"
        return df.repartition(target, key)
    return df


def _decoded(spark: SparkSession, sf_dir: str,
             cols: list[str] | None = None) -> DataFrame:
    # The localCheckpoint is a deliberate expression barrier: without it,
    # CollapseProject inlines the decode expression tree into every
    # downstream consumer expression that references a decoded column
    # (windows, aggregates, session chains), the duplicated element_at
    # chains blow the codegen method budget, and the stage drops to
    # interpreted mode (measured round 6: every multi-consumer event query
    # 1.5-4x slower without the barrier).
    #
    # Placement (guide §2.3 'project before the exchange', round 6):
    # *  cols=None — the barrier sits on the TOKEN table, before decode.
    #    Column pruning then reaches through the decode Project, so a
    #    consumer evaluates only the decode expressions it references.
    #    Used by the wide consumers (LOCF merge needs ~16 of the 19
    #    decoded columns) where post-decode pruning would buy nothing.
    # *  cols=[...] — the barrier sits AFTER decode, pruned to exactly the
    #    columns the query reads. The fused token-projection -> decode
    #    subset stays one codegen'd stage and the checkpoint materializes
    #    a handful of scalar columns instead of the token arrays (the
    #    widest column by ~10x). Used by the narrow families (rollups,
    #    counters, gates: 3-6 columns each).
    if cols is None:
        tok = token_table_from_events(spark, sf_dir).localCheckpoint(eager=False)
        return decode(tok, mode="expr")
    dec = decode(token_table_from_events(spark, sf_dir), mode="expr")
    return dec.select(*cols).localCheckpoint(eager=False)


# Narrow column sets (guide §2.3): exactly what each family's operators
# read downstream of states_only/filters — analyzer errors catch drift.
_STATE_COLS = ["ok", "key", "source", "ts", "seq", "n_tok"]


def _merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    return locf_merge(states_only(_decoded(spark, sf_dir)))


def _rollup(spark: SparkSession, sf_dir: str, unit: str) -> DataFrame:
    # Rollup family stays on the token-level barrier (cols=None): every
    # declared output drops first_fp/last_fp, so the optimizer prunes the
    # xxhash64(tokens) fingerprint out of the Aggregate entirely — a pruned
    # post-decode barrier would have to materialize fp eagerly (measured
    # round 6: net loss for q06-q09).
    r = bucket_rollup(states_only(_decoded(spark, sf_dir)), unit)
    return r.drop("first_fp", "last_fp")  # fp columns are engine-only (xxhash64)


def q01_decode(spark, sf_dir):
    # Single-consumer: no expression sharing to protect, so no barrier —
    # the fused token-projection -> decode runs as one codegen'd stage and
    # nothing is materialized (round 6; measured 3.5x faster than paying
    # the token-table checkpoint for one pass).
    return decode(token_table_from_events(spark, sf_dir), mode="expr").drop("tokens")


def q02_metrics(spark, sf_dir):
    """Run counters (stats.go:69-132): totals + per-msg-type histogram
    (index = msg_type, only 0..9 — out-of-range silently dropped,
    stats.go:89-93)."""
    d = _decoded(spark, sf_dir, cols=["ok", "key", "msg_type", "source", "n_tok"])
    aggs = [
        F.count(F.lit(1)).alias("total_rows"),
        F.sum(F.when(F.col("ok"), 1).otherwise(0)).cast("bigint").alias("parsed_rows"),
        F.sum(F.when(~F.col("ok"), 1).otherwise(0)).cast("bigint").alias("failed_rows"),
        F.sum(F.when(F.col("ok") & F.col("key").isNotNull(), 1).otherwise(0))
        .cast("bigint").alias("stored_states"),
        F.countDistinct(
            F.when(
                F.col("ok") & F.col("key").isNotNull(),
                F.concat(F.col("source"), F.lit("|"), F.col("key").cast("string")),
            )
        ).cast("bigint").alias("active_keys"),
    ]
    aggs += [
        F.sum(F.when(F.col("ok") & (F.col("msg_type") == i), 1).otherwise(0))
        .cast("bigint").alias(f"h{i}")
        for i in range(10)
    ]
    return d.agg(*aggs)


def q03_state_final(spark, sf_dir):
    m = _merged(spark, sf_dir).withColumn("ord", ord_col())
    return m.groupBy("source", "key").agg(
        F.max("ts").alias("last_ts"),
        F.expr("max_by(callsign_m, ord)").alias("callsign"),
        F.expr("max_by(altitude_m, ord)").alias("altitude"),
        F.expr("max_by(ground_speed_m, ord)").alias("ground_speed"),
        F.expr("max_by(track_m, ord)").alias("track"),
        F.expr("max_by(lat_m, ord)").alias("lat"),
        F.expr("max_by(lon_m, ord)").alias("lon"),
        F.expr("max_by(vertical_rate_m, ord)").alias("vertical_rate"),
        F.expr("max_by(squawk_m, ord)").alias("squawk"),
        F.expr("max_by(on_ground, ord)").alias("on_ground"),
        F.count(F.lit(1)).alias("n_states"),
    )


def _sessions(spark, sf_dir, gap_ms):
    s = sessionize(_merged(spark, sf_dir), gap_ms=gap_ms, close_trailing=True)
    return session_rollup(s)


def q04_sessions_gap30(spark, sf_dir):
    return _sessions(spark, sf_dir, 30_000)


def q05_sessions_gap300(spark, sf_dir):
    return _sessions(spark, sf_dir, 300_000)


def q06_rollup_1m(spark, sf_dir):
    return _rollup(spark, sf_dir, "minute")


def q07_rollup_1h(spark, sf_dir):
    # cascade path: 1h tier from the 1m tier (continuous-aggregate refresh
    # shape) — the oracle aggregates straight from states; equality IS the
    # cascade invariant.
    r1m = bucket_rollup(states_only(_decoded(spark, sf_dir)), "minute")
    return cascade(r1m, "hour").drop("first_fp", "last_fp")


def q08_rollup_1d(spark, sf_dir):
    r1m = bucket_rollup(states_only(_decoded(spark, sf_dir)), "minute")
    return cascade(cascade(r1m, "hour"), "day").drop("first_fp", "last_fp")


def q09_gapfill_1h(spark, sf_dir):
    return gapfill_locf(_rollup(spark, sf_dir, "hour"), "hour")


_WH_RUN_ID: str | None = None


def _wh(sf_dir: str, table: str) -> str:
    """Per-process-unique warehouse path for catalog-backed queries
    (gitignored scratch under the repo; rebuilt per call — tier tables are
    tiny next to raw, and at 100 TB these would be long-lived managed
    tables). The run-unique component keeps two concurrent harness
    processes (or two datasets sharing a directory basename) from racing
    each other's non-atomic overwrite writes."""
    import os
    import uuid

    global _WH_RUN_ID
    base = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        ".warehouse")
    if _WH_RUN_ID is None:
        import atexit
        import shutil

        _WH_RUN_ID = f"{os.getpid()}-{uuid.uuid4().hex[:8]}"
        atexit.register(shutil.rmtree, os.path.join(base, _WH_RUN_ID),
                        ignore_errors=True)
    root = os.path.join(base, _WH_RUN_ID)
    return os.path.join(root, os.path.basename(os.path.normpath(sf_dir)), table)


def q10_retention_1h(spark, sf_dir):
    """Retention through the partitioned warehouse: the 1h tier is written
    date-partitioned, the horizon comes from the SNAPSHOT manifest (no data
    scan), and the scan is partition-pruned to surviving dates before the
    exact hour-grain filter — hypertable chunk semantics (whole chunks drop
    O(1); the boundary chunk is row-filtered)."""
    import datetime as dt

    from sbse import catalog

    r = _rollup(spark, sf_dir, "hour")
    path = _wh(sf_dir, "rollup_1h")
    snap = catalog.write_partitioned(r, path, date_col="bucket_start")
    bmax = dt.datetime.fromisoformat(snap["ts_max"])
    horizon = bmax - dt.timedelta(hours=240)
    pruned = catalog.read_partitioned(spark, path,
                                      start=horizon.strftime("%Y-%m-%d"))
    return pruned.filter(
        F.col("bucket_start") >= F.lit(horizon.strftime("%Y-%m-%d %H:%M:%S"))
    ).drop("log_date").select(*r.columns)


def q11_validation_gate(spark, sf_dir):
    """Broadcast-join validation gate (tracker main.go:118-123; J2)."""
    st = states_only(_decoded(spark, sf_dir, cols=["ok", "key", "source", "n_tok"]))
    dim = (
        st.select("key").distinct()
        .withColumn("valid", F.col("key") % 10 != 7)
    )
    gated = st.join(F.broadcast(dim), "key", "left").filter(F.col("valid"))
    return gated.groupBy("source").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("n_tok").cast("bigint").alias("n_tok_sum"),
    )


def q12_active_sessions(spark, sf_dir):
    s = sessionize(_merged(spark, sf_dir), gap_ms=30_000, close_trailing=False)
    return (
        s.filter(F.col("is_trailing"))
        .groupBy("session_id", "source", "key")
        .agg(F.min("ts").alias("started_at"), F.count(F.lit(1)).alias("n_events"))
    )


def q13_archive_daily(spark, sf_dir):
    d = _decoded(spark, sf_dir, cols=["source", "ts", "n_tok"]).filter(F.col("ts").isNotNull())
    return d.groupBy(
        F.date_trunc("day", "ts").alias("log_date"), "source"
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        (F.sum("n_tok") * 4).cast("bigint").alias("raw_bytes"),
    )


def q15_interval_join(spark, sf_dir):
    """J1 re-attribution: interval-join states back to their sessions; the
    per-session attributed count must equal n_events (tested by the oracle
    computing the same join in SQL)."""
    from sbse.joins import attribute_events_to_sessions

    m = _merged(spark, sf_dir)
    s = sessionize(m, gap_ms=30_000, close_trailing=True)
    sessions = session_rollup(s)
    # gap sessions are disjoint per key, so the as-of form is exact
    # (round 6: the generic interval join paired every same-key
    # event x session combination — ~110M filtered pairs at sf1.0)
    attributed = attribute_events_to_sessions(
        m.select("source", "key", "ts", "seq"), sessions,
        assume_disjoint=True,
    )
    return attributed.groupBy("session_id").agg(
        F.count(F.lit(1)).alias("n_attributed")
    )


def q16_asof_join(spark, sf_dir):
    """As-of join (union + window LOCF): each state joined to the latest
    session open at-or-before its ts."""
    from sbse.joins import asof_join

    m = _merged(spark, sf_dir)
    s = sessionize(m, gap_ms=30_000, close_trailing=True)
    opens = (
        session_rollup(s)
        .select("source", "key", F.col("started_at").alias("open_ts"))
    )
    j = asof_join(
        m.select("doc_id", "source", "key", "ts"),
        opens.withColumnRenamed("open_ts", "ts").select(
            "source", "key", "ts", F.col("ts").alias("asof_session_start")
        ),
        keys=["source", "key"],
        value_cols=["asof_session_start"],
    )
    return j.select("doc_id", "asof_session_start")


def q14_range_scan(spark, sf_dir):
    """Metrics range scan THROUGH the partitioned warehouse: merged states
    are stored date-partitioned; the BETWEEN range reads only the matching
    log_date partitions (PartitionFilters — asserted in test_catalog), then
    applies the exact timestamp bounds."""
    from sbse import catalog

    m = _merged(spark, sf_dir).select("source", "key", "ts", "altitude_m")
    path = _wh(sf_dir, "states_scan")
    catalog.write_partitioned(m, path, date_col="ts")
    pruned = catalog.read_partitioned(spark, path,
                                      start="2024-01-02", end="2024-01-05")
    return (
        pruned.filter(
            F.col("ts").between("2024-01-02 00:00:00", "2024-01-05 00:00:00")
        )
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("cnt"), F.max("altitude_m").alias("max_altitude"))
    )


def q17_metrics_clamped(spark, sf_dir):
    """Clamp semantics, oracle-checked (db/client.go:131-139 persist clamp,
    227-235 read clamp; edge values per client_test.go:1017-1057): a
    uint64-scale per-source counter (sum(n_tok) * 2^48 — exceeds int64 at
    this sf) clamps to 2^63-1 on persist; literal edges 2^63 and 2^63-1 and
    0 clamp as the reference's tests pin; a data-derived negative gauge
    clamps to 0 on read-back."""
    from sbse.metrics import clamp_read, clamp_u64

    d = states_only(_decoded(spark, sf_dir, cols=["ok", "key", "source", "n_tok"]))
    big = F.sum(F.col("n_tok").cast("decimal(38,0)")) * F.lit(1 << 48).cast(
        "decimal(38,0)"
    )
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("cnt"),
        clamp_u64(big).alias("tok_scaled_clamped"),
        clamp_u64(F.lit("9223372036854775808").cast("decimal(38,0)"))
        .alias("clamp_over_edge"),
        clamp_u64(F.lit("9223372036854775807").cast("decimal(38,0)"))
        .alias("clamp_max_identity"),
        clamp_read(F.lit(0)).alias("clamp_zero_edge"),
        clamp_read(F.min("n_tok") - F.lit(1_000_000)).alias("neg_gauge_read"),
    )


def q18_recent_states(spark, sf_dir):
    """S12's ORDER BY time DESC variant (GetSystemStats, db/client.go:176):
    the 100 most recent merged states, deterministic total order
    (ts desc, doc_id asc). Sort+limit plans as TakeOrderedAndProject —
    no global sort at scale."""
    m = _merged(spark, sf_dir)
    return (
        m.select("doc_id", "source", "key", "ts", "altitude_m")
        .orderBy(F.desc("ts"), F.asc("doc_id"))
        .limit(100)
    )


def q19_gorilla_roundtrip(spark, sf_dir):
    """Gorilla codec THROUGH the real Spark plumbing, oracle-checked: the 1h
    tier is encoded into delta-of-delta/XOR blobs (per source/key/month
    chunk, one mapInPandas pass) and decoded back (mapInPandas); the
    oracle is the plain SQL rollup — equality proves the codec round-trips
    every point bit-exactly inside the engine, not just in unit tests."""
    from sbse.gorilla import decode_tier, encode_tier
    from sbse.session import ensure_shipped

    ensure_shipped(spark)
    r = _rollup(spark, sf_dir, "hour").select(
        "source", "key", "bucket_start", "n_tok_sum"
    )
    return decode_tier(encode_tier(r, "n_tok_sum", chunk_unit="month"),
                       "n_tok_sum")


# --- training-data pipeline queries (documents / embeddings) ---------------

def _docs(spark, sf_dir):
    # plain read: _widen is applied per OPERATOR (q21/q22/q23/q30/q36/q44),
    # where the per-row map work (shingling, 8x md5, simhash votes) is heavy
    # enough to amortize the widening exchange — for the sub-second doc
    # queries (q20/q25/q38/q39/q40/...) the exchange costs more than the
    # parallelism saves (measured both ways at sf1.0).
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embs(spark, sf_dir):
    # never widened: after the round-6 numpy rewrites the embedding UDF
    # passes are sub-second at scan parallelism and the grouped scorers
    # repartition by cell/bucket anyway (measured: widening embeddings was
    # a net ~+0.2s on q26/q31).
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def q20_dedup_exact(spark, sf_dir):
    return dd.exact_dedup(_docs(spark, sf_dir))


def q21_ngram_jaccard(spark, sf_dir):
    return dd.ngram_jaccard_pairs(_widen(_docs(spark, sf_dir)), threshold=0.2)


def q22_minhash_lsh(spark, sf_dir):
    return dd.minhash_lsh_pairs(_widen(_docs(spark, sf_dir)), threshold=0.2)


def q24_embedding_neardup(spark, sf_dir):
    # threshold 0.4 chosen for the harness data (max pairwise cosine ≈ 0.51,
    # p99.9 ≈ 0.377) so the parity check exercises real rows. The engine
    # path is the IVF cell-blocked join (complete by spherical triangle
    # inequality — provably equal to the oracle's brute force); the final
    # cosine filter folds sequentially -> bit-identical to DuckDB.
    from sbse.session import ensure_shipped
    ensure_shipped(spark)
    return sim.cosine_neardup_pairs(_embs(spark, sf_dir), threshold=0.4)


def q25_text_quality(spark, sf_dir):
    return tx.text_quality(_docs(spark, sf_dir))


def q23_simhash(spark, sf_dir):
    # md5-derived word bits (portable) — oracle-checked bit-for-bit.
    return dd.simhash64(_widen(_docs(spark, sf_dir)))


def q26_ann_topk(spark, sf_dir):
    # Multi-band LSH ANN (the scale path; brute force stays test-side as
    # the recall baseline): 3 independent 6-plane bands, per-band equi-join,
    # distinct candidates, exact ordered-fold rank — the minhash_lsh_pairs
    # shape. Buckets + ranks are bit-identical in DuckDB.
    return sim.ann_topk_lsh(_embs(spark, sf_dir), k=5, n_planes=6, dim=64,
                            n_bands=3)


def q27_doc_fingerprint(spark, sf_dir):
    from sbse.session import ensure_shipped
    ensure_shipped(spark)
    return tx.doc_fingerprint(_docs(spark, sf_dir))


def q28_multimodal_features(spark, sf_dir):
    from sbse.session import ensure_shipped
    from sbse.datapipe import multimodal as mm
    ensure_shipped(spark)
    return mm.extract_features(mm.to_binary_payload(_docs(spark, sf_dir)))


def q29_lang_guess(spark, sf_dir):
    return tx.lang_guess(_docs(spark, sf_dir))


def q33_rollup_quantiles(spark, sf_dir):
    """Per-(source, hour) EXACT n_tok quantiles (p50/p95) by rank
    selection: row_number over an in-bucket sort, pick the value at rank
    (cnt-1) DIV 2 + 1 / (19*(cnt-1)) DIV 20 + 1 — pure integer rank math,
    so the result is bit-portable (float percentile interpolation is not:
    the two engines' last-ulp behavior can differ). Tie order is
    irrelevant: the VALUE at a rank is unique under ties on the sort key.
    At 100 TB the scale twin is percentile_approx (one pass, mergeable
    sketch, no per-bucket sort) — engine-only because its sketch is not
    reproducible in DuckDB; this exact rank path doubles as its test
    oracle at small sf."""
    d = states_only(_decoded(spark, sf_dir, cols=["ok", "key", "source", "ts", "n_tok"])).select(
        "source", F.date_trunc("hour", "ts").alias("bucket_start"), "n_tok"
    )
    w = Window.partitionBy("source", "bucket_start").orderBy("n_tok")
    wc = Window.partitionBy("source", "bucket_start")
    r = (
        d.withColumn("rn", F.row_number().over(w))
        .withColumn("cnt", F.count(F.lit(1)).over(wc))
    )
    p50_rank = F.expr("(cnt - 1) DIV 2 + 1")
    p95_rank = F.expr("(19 * (cnt - 1)) DIV 20 + 1")
    return r.groupBy("source", "bucket_start").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.max(F.when(F.col("rn") == p50_rank, F.col("n_tok"))).alias("ntok_p50"),
        F.max(F.when(F.col("rn") == p95_rank, F.col("n_tok"))).alias("ntok_p95"),
    )


def q32_frame_sample(spark, sf_dir):
    # Multimodal frame sampling (1 -> N fan-out over binary payloads):
    # integer half-up uniform selection is bit-reproducible in SQL; frames
    # are compared by md5 (corpus is ASCII, so the oracle slices text).
    from sbse.datapipe import multimodal as mm
    from sbse.session import ensure_shipped

    ensure_shipped(spark)
    media = mm.to_binary_payload(_docs(spark, sf_dir))
    fr = mm.sample_frames(media, n_frames=4, frame_bytes=64)
    return fr.select(
        "doc_id", "frame_idx", "n_frames_total",
        F.md5("frame").alias("frame_md5"),
    )


def q31_ann_ivf(spark, sf_dir):
    # IVF probe ANN (the inverted-file companion to q26's LSH path):
    # deterministic md5-sampled centroids, fold-cosine cell assignment,
    # nprobe=2 probing, exact ranked top-k — bit-identical in DuckDB.
    return sim.ann_topk_ivf(_embs(spark, sf_dir), k=5, n_cells=16, nprobe=2)


def q30_simhash_candidates(spark, sf_dir):
    # SimHash near-dup candidates at radius 7. The ORACLE is the plain
    # 8x8-band SQL (pigeonhole-complete for hamming <= 7: any such pair
    # shares a clean band, so the banding emits EXACTLY the radius-7 pair
    # set). The ENGINE plan (round 6) is estimate-driven: plain banding's
    # 8-bit keys make the self-join volume Sum |bucket|^2 — fine at small
    # corpora (5e6 pairs / ~1.0s at sf0.1) but quadratic-blown at sf1.0
    # (5.1e8 pairs, measured 111s) — so a cheap exact histogram prices it
    # and routes large corpora through the identical-output multi-block
    # tables (~5.8s at sf1.0; equivalence is what q36's brute-force oracle
    # pins). Guide §2.5/§3: the join key width was the skew.
    return dd.simhash_candidates_adaptive(
        dd.simhash64(_widen(_docs(spark, sf_dir))), max_hamming=7,
        n_bands=8, n_blocks=10, comb=3)


def q36_simhash_multiblock(spark, sf_dir):
    """Radius-7 SimHash candidates through the MULTI-BLOCK banding tables
    (10 blocks, C(10,3)=120 3-block combination keys, ~19-bit): the
    scale-correct twin of q30's plain 8x8 banding, which radius 7 forces
    onto 8-bit keys (~2e10 candidate pairs at 1M docs, refused by the
    guard). Both are pigeonhole-complete, so both return EXACTLY the pairs
    with hamming <= 7 — the oracle is the brute-force pair scan, which
    checks completeness directly rather than mirroring the banding."""
    return dd.simhash_candidates_multiblock(
        dd.simhash64(_widen(_docs(spark, sf_dir))), max_hamming=7, n_blocks=10,
        comb=3)


def q35_quantile_cascade(spark, sf_dir):
    """Per-(source, key, hour) exact p50/p95 computed THROUGH the mergeable
    sketch cascade: 1m value-frequency sketches merged up to 1h (never
    recomputed from states — the continuous-aggregate refresh shape), then
    value-at-rank extraction. The oracle computes the same quantiles
    straight from states; equality proves the sketch cascade is lossless."""
    from sbse.rollup import bucket_rollup_q, cascade_q, tier_quantiles

    st = states_only(_decoded(spark, sf_dir, cols=["ok", "key", "source", "ts", "n_tok"]))
    # One up-front hash exchange on (source, key) satisfies EVERY clustering
    # requirement downstream — the sketch-build groupBys, the cascade merge,
    # and the extraction windows all key on (source, key, bucket) prefixes —
    # collapsing the chain from 4 exchanges to 1 (guide §2.2 'remove
    # shuffles outright'; measured 2.9 -> 2.1 s at 1M events, plan-verified,
    # output identical — every aggregate is partitioning-insensitive and the
    # sketch maps are sort_array-canonicalized).
    return tier_quantiles(cascade_q(
        bucket_rollup_q(st.repartition("source", "key"), "minute"), "hour"))


def q34_sessions_bigkey(spark, sf_dir):
    """The monster-key-safe session chain (chunked LOCF -> chunked
    sessionize -> groupBy rollup, sbse.bigkey): every window partition is
    bounded by (source, key, 2-minute chunk) and sessions are stitched
    across chunk boundaries through the per-chunk summary. Must equal q04
    exactly — the oracle IS q04's SQL."""
    from sbse.bigkey import monster_safe_sessions

    return monster_safe_sessions(
        states_only(_decoded(spark, sf_dir)), gap_ms=30_000, chunk_ms=120_000
    )


def q37_contamination(spark, sf_dir):
    """Benchmark-contamination screen (word 8-gram overlap against the
    deterministic pseudo-benchmark subset doc_id % 97 == 0): broadcast the
    benchmark gram set, left-join the corpus gram stream, one partial-agg
    groupBy per doc. The curation step every LLM training pipeline runs
    before a release (GPT-3 appendix C shape)."""
    from sbse.datapipe import curate as cu

    return cu.contamination_screen(_docs(spark, sf_dir))


def q38_shuffle_shard(spark, sf_dir):
    """Deterministic global shuffle + hash-range shard assignment for
    training loaders: shuffle_key = md5(doc_id), shard = top hex nibble
    (16 contiguous key ranges), pos_in_shard = rank within shard — the
    logical twin of repartitionByRange + sortWithinPartitions."""
    from sbse.datapipe import curate as cu

    return cu.shuffle_shard(_docs(spark, sf_dir))


def q39_stratified_sample(spark, sf_dir):
    """Per-language deterministic Bernoulli sample (hash-threshold, map-only,
    append-stable): mixture sampling with zero shuffles and no per-stratum
    sort, so a billion-doc stratum is no hazard."""
    from sbse.datapipe import curate as cu

    return cu.stratified_sample(_docs(spark, sf_dir))


def q40_pack_sequences(spark, sf_dir):
    """Concat-and-chunk sequence-packing manifest (GPT-style pretraining):
    docs laid end-to-end in shuffled order per shard, cut into 512-token
    sequences, docs spanning cut points. One window cumsum per shard; all
    else map-side."""
    from sbse.datapipe import curate as cu

    return cu.pack_sequences(_docs(spark, sf_dir), seq_len=512)


def q41_counter_increase(spark, sf_dir):
    """Reset-aware counter increase per (source, key, hour): the PromQL
    increase() / TimescaleDB counter_agg analog over the n_tok stream
    (one per-key window + one partial-agg groupBy)."""
    from sbse.rollup import counter_increase

    return counter_increase(states_only(_decoded(spark, sf_dir, cols=_STATE_COLS)), "hour")


def q42_counter_cascade(spark, sf_dir):
    """Daily counter increase computed THROUGH the mergeable hourly tier
    (counter_cascade re-sums 1h -> 1d; valid because the lag chain is
    global per key). The oracle computes day-grain increase directly from
    raw states — equality proves the counter tier merges losslessly."""
    from sbse.rollup import counter_cascade, counter_increase

    return counter_cascade(
        counter_increase(states_only(_decoded(spark, sf_dir, cols=_STATE_COLS)), "hour"), "day"
    )


def q43_counter_bigkey(spark, sf_dir):
    """Monster-key-safe counter increase (chunked lag + last-value carry
    stitch, sbse.bigkey): every window partition bounded by (source, key,
    2-minute chunk). Must equal q41 exactly — the oracle IS q41's SQL."""
    from sbse.bigkey import counter_increase_chunked

    return counter_increase_chunked(
        states_only(_decoded(spark, sf_dir, cols=_STATE_COLS)), unit="hour", chunk_ms=120_000
    )


def q44_curation_e2e(spark, sf_dir):
    """The full training-corpus release chain composed end-to-end: quality
    gate -> exact dedup keeper -> contamination drop (benchmark docs
    dropped too) -> stratified sample -> packing manifest. One oracle for
    the whole chain."""
    from sbse.datapipe import curate as cu

    return cu.curation_pipeline(_widen(_docs(spark, sf_dir)), seq_len=512)


def all_queries():
    return {
        "q01_decode": q01_decode,
        "q02_metrics": q02_metrics,
        "q03_state_final": q03_state_final,
        "q04_sessions_gap30": q04_sessions_gap30,
        "q05_sessions_gap300": q05_sessions_gap300,
        "q06_rollup_1m": q06_rollup_1m,
        "q07_rollup_1h": q07_rollup_1h,
        "q08_rollup_1d": q08_rollup_1d,
        "q09_gapfill_1h": q09_gapfill_1h,
        "q10_retention_1h": q10_retention_1h,
        "q11_validation_gate": q11_validation_gate,
        "q12_active_sessions": q12_active_sessions,
        "q13_archive_daily": q13_archive_daily,
        "q14_range_scan": q14_range_scan,
        "q15_interval_join": q15_interval_join,
        "q16_asof_join": q16_asof_join,
        "q17_metrics_clamped": q17_metrics_clamped,
        "q18_recent_states": q18_recent_states,
        "q19_gorilla_roundtrip": q19_gorilla_roundtrip,
        "q20_dedup_exact": q20_dedup_exact,
        "q21_ngram_jaccard": q21_ngram_jaccard,
        "q22_minhash_lsh": q22_minhash_lsh,
        "q23_simhash": q23_simhash,
        "q24_embedding_neardup": q24_embedding_neardup,
        "q25_text_quality": q25_text_quality,
        "q26_ann_topk": q26_ann_topk,
        "q27_doc_fingerprint": q27_doc_fingerprint,
        "q28_multimodal_features": q28_multimodal_features,
        "q29_lang_guess": q29_lang_guess,
        "q30_simhash_candidates": q30_simhash_candidates,
        "q31_ann_ivf": q31_ann_ivf,
        "q32_frame_sample": q32_frame_sample,
        "q33_rollup_quantiles": q33_rollup_quantiles,
        "q34_sessions_bigkey": q34_sessions_bigkey,
        "q35_quantile_cascade": q35_quantile_cascade,
        "q36_simhash_multiblock": q36_simhash_multiblock,
        "q37_contamination": q37_contamination,
        "q38_shuffle_shard": q38_shuffle_shard,
        "q39_stratified_sample": q39_stratified_sample,
        "q40_pack_sequences": q40_pack_sequences,
        "q41_counter_increase": q41_counter_increase,
        "q42_counter_cascade": q42_counter_cascade,
        "q43_counter_bigkey": q43_counter_bigkey,
        "q44_curation_e2e": q44_curation_e2e,
    }
