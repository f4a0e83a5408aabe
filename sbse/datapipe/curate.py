"""Training-set curation operators: benchmark-contamination screening,
deterministic shuffle-sharding, and stratified sampling.

These are the last mile of an LLM data pipeline — after dedup (sbse.datapipe.
dedup), quality/language filtering (sbse.datapipe.text) and near-dup removal
(sbse.datapipe.similarity), a curation pass (a) removes documents that leak
evaluation benchmarks, (b) globally shuffles and shards the corpus for
training-data loaders, and (c) draws per-stratum samples for mixture tuning.

Scale notes (100 TB):

* Contamination joins the corpus n-gram stream against the BENCHMARK n-gram
  set. Benchmarks are tiny relative to a training corpus (MBs vs TBs), so the
  benchmark side is broadcast — the corpus side never shuffles ON THE GRAM
  KEY. It does pay two exchanges of narrow rows: the per-doc distinct of
  (doc_id, shingle) and the per-document groupBy (both partial-aggregate
  map-side); measured together at 6.15s per 1M docs / ~45M grams
  (BENCH/datapipe_runs.jsonl).
* Shuffle-sharding is map-only for the shard assignment (the shard id is the
  top hex nibble(s) of the per-doc md5 — i.e. static hash-RANGE partitioning
  of the shuffled key space) plus ONE bounded per-shard window for the
  within-shard position. Physically that is exactly
  ``repartitionByRange(shuffle_key).sortWithinPartitions(...)`` — what a
  training-data writer does — expressed declaratively.
* Stratified sampling is pure map-side (hash-threshold Bernoulli per
  stratum): no shuffle, no per-stratum sort, no monster-stratum hazard. A
  fixed-size variant would need a per-stratum rank — the rate-based form is
  the one that survives a 1000-executor corpus.

All three are deterministic by construction (md5 of stable ids — the same
convention as similarity.py's centroid sampling) and mirrored exactly by the
DuckDB oracles in sbse.oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Word n-gram length for the contamination screen. Real screens use 8-13
# word n-grams (GPT-3 appendix C / PaLM / Llama reports); 8 is the common
# floor. The synthetic corpus has a tiny vocabulary, which makes 8-grams
# collide more than web text would — harmless for correctness, and it
# exercises the join harder.
CONTAM_NGRAM = 8

#: doc_id stride that designates the deterministic pseudo-benchmark subset
#: (~1% of docs) for tests/benchmarks: real deployments would read the
#: benchmark suite from its own table of the same (doc_id, text) shape.
BENCH_STRIDE = 97

_HEX = "0123456789abcdef"


def _word_ngrams(docs: DataFrame, n: int) -> DataFrame:
    """Distinct word ``n``-grams per document: (doc_id, shingle).

    Reuses dedup.raw_shingles — the explode(sequence) + concat_ws codegen
    shape (measured 17x faster than the interpreted higher-order-function
    alternative, see its docstring) — with short docs yielding no rows,
    mirroring the oracle's empty generate_series. Tolerates frames without
    a lang column (raw_shingles carries one for dedup's lang-scoped joins;
    the contamination contract is just (doc_id, text)).
    """
    from sbse.datapipe.dedup import raw_shingles

    if "lang" not in docs.columns:
        docs = docs.withColumn("lang", F.lit(""))
    return raw_shingles(docs, n).select("doc_id", "shingle").distinct()


def contamination_screen(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    n: int = CONTAM_NGRAM,
    flag_frac: float = 0.05,
) -> DataFrame:
    """Benchmark-contamination screen: per corpus document, the fraction of
    its distinct word ``n``-grams that also occur in the benchmark set.

    ``benchmark`` is any frame with (doc_id, text); when None, the
    deterministic pseudo-benchmark ``doc_id % BENCH_STRIDE == 0`` is split
    out of ``docs`` (and those rows are excluded from the screened corpus,
    as a real pipeline excludes the benchmark itself).

    Returns (doc_id, n_grams, n_hits, contam_frac, contaminated) for every
    screened document, including zero-hit ones (left join keeps clean docs).

    100 TB shape: the benchmark n-gram set is broadcast (benchmarks are MBs);
    the corpus n-gram stream is joined map-side, then pays the per-doc
    distinct exchange and the per-doc groupBy exchange (narrow rows, both
    map-side partial-aggregated).
    """
    if benchmark is None:
        benchmark = docs.where(F.col("doc_id") % BENCH_STRIDE == 0)
        docs = docs.where(F.col("doc_id") % BENCH_STRIDE != 0)

    bench_grams = (
        _word_ngrams(benchmark, n).select("shingle").distinct()
        .withColumn("_hit", F.lit(1))
    )
    corpus_grams = _word_ngrams(docs, n)
    scored = (
        corpus_grams.join(F.broadcast(bench_grams), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.coalesce(F.sum("_hit"), F.lit(0)).cast("bigint").alias("n_hits"),
        )
    )
    frac = F.col("n_hits") / F.col("n_grams")
    return scored.select(
        "doc_id",
        "n_grams",
        "n_hits",
        frac.alias("contam_frac"),
        (frac >= flag_frac).alias("contaminated"),
    )


def shuffle_shard(docs: DataFrame, shard_nibbles: int = 1,
                  carry: tuple[str, ...] = ()) -> DataFrame:
    """Deterministic global shuffle + shard assignment for training loaders.

    Every document gets a ``shuffle_key`` (md5 of its id — a uniform
    pseudo-random but reproducible permutation key), a ``shard_id`` (the
    integer value of the key's first ``shard_nibbles`` hex digits — i.e.
    16**shard_nibbles contiguous RANGES of the shuffled key space), and its
    ``pos_in_shard`` (rank by shuffle_key within the shard — the order a
    loader streams the shard in).

    100 TB shape: shard assignment is map-only; the within-shard rank is one
    window whose partitions are corpus/16**nibbles — at web scale use more
    nibbles (shard_nibbles=4 -> 65,536 shards) so each shard fits an
    executor, then write with
    ``df.repartitionByRange("shard_id", "shuffle_key")
        .sortWithinPartitions("shuffle_key")`` — the physical twin of this
    logical assignment.
    """
    key = F.md5(F.concat(F.lit("shard|"), F.col("doc_id").cast("string")))
    d = docs.select("doc_id", key.alias("shuffle_key"), *carry)
    # integer value of the first `shard_nibbles` hex digits, built from
    # per-digit position lookups (portable: DuckDB mirrors with strpos).
    shard = F.lit(0)
    for i in range(shard_nibbles):
        digit = F.expr(f"locate(substring(shuffle_key, {i + 1}, 1), '{_HEX}') - 1")
        shard = shard * 16 + digit
    d = d.withColumn("shard_id", shard.cast("int"))
    w = Window.partitionBy("shard_id").orderBy("shuffle_key", "doc_id")
    return d.select(
        "doc_id",
        "shuffle_key",
        "shard_id",
        F.row_number().over(w).cast("bigint").alias("pos_in_shard"),
        *carry,
    )


def pack_sequences(docs: DataFrame, seq_len: int = 512,
                   shard_nibbles: int = 1) -> DataFrame:
    """Concat-and-chunk sequence-packing manifest (GPT-style pretraining):
    documents are laid end-to-end in shuffled order within each shard and
    cut into fixed ``seq_len``-token training sequences, documents spanning
    cut points (the standard packing that wastes zero tokens).

    Per document: its shard, its token count (the whitespace+digit BPE-ish
    regex count from text.py), the cumulative token offset where it starts
    within the shard stream, and the first/last sequence ids it lands in
    (``seq_first == seq_last`` iff the doc fits inside one sequence).

    100 TB shape: one window cumsum per shard (the same bounded partitioning
    as shuffle_shard's rank — raise ``shard_nibbles`` until a shard fits an
    executor); everything else is map-side arithmetic. A loader materializes
    sequence s of shard k by scanning docs with
    ``seq_first <= s <= seq_last`` — a range predicate parquet row-group
    stats prune once the manifest is written sorted by (shard_id,
    start_offset).
    """
    from sbse.datapipe.text import BPE_ISH_RE

    toks = F.regexp_count(F.col("text"), F.lit(BPE_ISH_RE)).cast("bigint")
    d = shuffle_shard(
        docs.select("doc_id", toks.alias("n_tok")), shard_nibbles,
        carry=("n_tok",),
    )
    w = (
        Window.partitionBy("shard_id")
        .orderBy("shuffle_key", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = (F.sum("n_tok").over(w) - F.col("n_tok")).alias("start_offset")
    d = d.select("doc_id", "shard_id", "pos_in_shard", "n_tok", start)
    return d.select(
        "doc_id", "shard_id", "pos_in_shard", "n_tok", "start_offset",
        F.floor(F.col("start_offset") / seq_len).cast("bigint").alias("seq_first"),
        # empty docs (n_tok = 0) occupy no tokens: they "land" in the
        # sequence their offset points at, so last == first.
        F.floor(
            (F.col("start_offset") + F.greatest(F.col("n_tok"), F.lit(1)) - 1)
            / seq_len
        ).cast("bigint").alias("seq_last"),
    )


def write_packed_corpus(docs: DataFrame, path: str, seq_len: int = 512) -> None:
    """Physically write the packing manifest the way a training loader reads
    it: range-partitioned by (shard_id, start_offset) and sorted within
    every file, so each parquet file covers a contiguous slice of one
    shard's token stream and its row-group min/max stats make the loader's
    range predicates (read_packed_slice) prune at the footer level.

    This is the materialized twin of the logical plan pack_sequences
    declares — ``repartitionByRange + sortWithinPartitions`` is exactly the
    physical strategy Spark's range-exchange machinery uses for a global
    sort, minus the merge step a loader never needs.
    """
    m = pack_sequences(docs, seq_len=seq_len)
    # one file per shard: pack_sequences' shard key is one hex digit
    (
        m.repartitionByRange(16, "shard_id", "start_offset")
        .sortWithinPartitions("shard_id", "start_offset")
        .write.mode("overwrite").parquet(path)
    )


def read_packed_slice(spark, path: str, shard_id: int, seq: int) -> DataFrame:
    """Loader-side read of one training sequence: every manifest row whose
    document contributes tokens to sequence ``seq`` of ``shard_id``.
    Sequence numbering is the WRITE-time seq_len's (baked into the
    manifest's seq_first/seq_last) — re-chunking needs a rewrite, so this
    deliberately takes no seq_len.

    The predicate is a conjunction of min/max-friendly range comparisons on
    the write order (shard_id, then the seq_first/seq_last band around
    start_offset), so a manifest written by write_packed_corpus serves it
    with footer-level row-group pruning — no full scan; the engine-plan
    test asserts the filters reach the parquet scan as PushedFilters.
    """
    return (
        spark.read.parquet(path)
        .where(
            (F.col("shard_id") == shard_id)
            & (F.col("seq_first") <= seq)
            & (F.col("seq_last") >= seq)
        )
    )


#: Per-language keep rates for the demo mixture: the sampling threshold is
#: rate * 65536 expressed as 4 hex digits, compared lexicographically against
#: the doc's sampling hash — exact at 1/65536 granularity, identically in
#: both engines.
STRATA_RATES = {"en": 0.5, "de": 0.25, "es": 0.25}
DEFAULT_RATE = 0.125


def _rate_hex4(rate: float) -> str:
    """4-hex-digit threshold for ``samp_hex < thresh``; rate >= 1.0 maps to
    'zzzz', which sorts above every hex string (a plain 'ffff' would wrongly
    drop the samp_hex == 'ffff' row; '10000' would sort BELOW most keys)."""
    v = max(0, min(65536, int(rate * 65536)))
    return "zzzz" if v >= 65536 else format(v, "04x")


def stratified_sample(docs: DataFrame,
                      rates: dict[str, float] | None = None) -> DataFrame:
    """Deterministic per-stratum Bernoulli sample (stratum = lang).

    Keeps a document iff the first 4 hex digits of md5('samp|' || doc_id)
    fall below the stratum's rate threshold (``rates``, default
    ``STRATA_RATES``; ``DEFAULT_RATE`` for other languages) — map-only,
    shuffle-free, no per-stratum sort, so a billion-doc stratum costs the
    same per row as a thousand-doc one. Deterministic: re-running selects
    the same rows, and adding documents never flips existing decisions
    (hash-threshold sampling is append-stable — the property training
    pipelines need for incremental corpus refreshes).

    Returns (doc_id, lang, source, samp_hex, rate) for sampled rows only.
    """
    return sample_filter(docs, rates).select(
        "doc_id", "lang", "source", "samp_hex", "rate"
    )


def sample_filter(docs: DataFrame,
                  rates: dict[str, float] | None = None) -> DataFrame:
    """The stratified-sample predicate applied in place: keeps every input
    column (plus samp_hex and rate) so pipeline stages can sample without a
    join back. stratified_sample is the narrow projection of this."""
    rates = STRATA_RATES if rates is None else rates
    samp = F.substring(
        F.md5(F.concat(F.lit("samp|"), F.col("doc_id").cast("string"))), 1, 4
    )
    rate = F.lit(float(DEFAULT_RATE))
    thresh = F.lit(_rate_hex4(DEFAULT_RATE))
    for lang, r in rates.items():
        rate = F.when(F.col("lang") == lang, F.lit(float(r))).otherwise(rate)
        thresh = F.when(F.col("lang") == lang, F.lit(_rate_hex4(r))).otherwise(thresh)
    return (
        docs.withColumn("samp_hex", samp)
        .withColumn("rate", rate)
        .withColumn("_thresh", thresh)
        .where(F.col("samp_hex") < F.col("_thresh"))
        .drop("_thresh")
    )


def curation_pipeline(docs: DataFrame, seq_len: int = 512) -> DataFrame:
    """The full release chain a training corpus goes through, composed from
    this module's operators: quality gate -> exact dedup (keep the lowest
    doc_id per md5(text)) -> benchmark-contamination drop (benchmark docs
    themselves are dropped too — never train on the eval set) -> stratified
    sample -> sequence-packing manifest. Oracle-checked end-to-end as q44.

    Shuffle budget at 100 TB: the quality gate and sample are map-side
    filters; dedup is a partial-aggregated groupBy over md5(text) plus a
    keeper semi-join back on doc_id (broadcast at small sf; a co-partitioned
    equi-join at scale); the contamination screen pays its two narrow-row
    exchanges plus the broadcast gram join; the flagged set (contaminated
    docs are rare by construction) comes back as a LEFT ANTI join; packing
    is one window. No stage has a quadratic corpus self-join — the only
    corpus-vs-corpus-derived joins are the keeper/flagged equi-joins on
    doc_id.
    """
    from sbse.datapipe.text import quality_pass_expr

    from sbse.datapipe.dedup import exact_dedup

    d = docs.where(quality_pass_expr())
    # keeper = q20's exact_dedup (min doc_id per md5(text)) + semi-join, NOT
    # a row_number window: the groupBy min() partial-aggregates map-side, so
    # a corpus with a billion copies of one document still reduces each
    # partition to one row before the exchange — the window form would sort
    # the whole duplicate group in a single partition (the monster-group
    # hazard). Reusing exact_dedup keeps q20 and q44 on one keeper
    # convention; Catalyst prunes its count aggregates here.
    keeper = exact_dedup(d).select(F.col("keeper_doc_id").alias("doc_id"))
    d = d.join(keeper, "doc_id", "left_semi")
    flagged = (contamination_screen(d)
               .where(F.col("contaminated")).select("doc_id"))
    d = (d.where(F.col("doc_id") % BENCH_STRIDE != 0)
         .join(flagged, "doc_id", "left_anti"))
    d = sample_filter(d)
    return pack_sequences(d.select("doc_id", "text"), seq_len=seq_len)
