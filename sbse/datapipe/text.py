"""Text analysis: quality scoring, language heuristic, token counting,
document fingerprinting. All built-ins except the rolling-hash fingerprint
(Arrow-vectorized mapInPandas)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_STOPWORDS = ["the", "a", "of", "and", "to"]

#: BPE-ish tokenizer regex — single source of truth for n_bpe_ish
#: (text_quality), the packing manifest's token counts
#: (curate.pack_sequences) and their DuckDB oracles.
BPE_ISH_RE = "[a-z]+|[0-9]+"


def quality_pass_expr():
    """The quality gate predicate (length band + minimum word count) —
    single source of truth for text_quality's quality_pass column and the
    curation pipeline's first filter (curate.curation_pipeline)."""
    nwords = F.size(F.split(F.col("text"), " "))
    return F.length("text").between(100, 500) & (nwords >= 20)


def text_quality(docs: DataFrame) -> DataFrame:
    """Quality/counting metrics; column-for-column matched by the oracle."""
    nwords = F.size(F.split(F.col("text"), " "))
    return docs.select(
        "doc_id",
        "lang",
        "source",
        F.length("text").cast("bigint").alias("n_chars"),
        nwords.cast("bigint").alias("n_words_ws"),
        F.regexp_count(F.col("text"), F.lit("[a-z]+")).cast("bigint").alias("n_alpha_tokens"),
        F.regexp_count(F.col("text"), F.lit(BPE_ISH_RE)).cast("bigint").alias("n_bpe_ish"),
        ((F.length("text") - F.length(F.replace(F.col("text"), F.lit(" the "), F.lit("")))) / 5)
        .cast("bigint").alias("n_the"),
        (F.length("text").cast("double") / nwords).alias("avg_token_len"),
        quality_pass_expr().alias("quality_pass"),
    )


# Stopword tables for the language heuristic — single source of truth,
# mirrored verbatim by the DuckDB oracle (sbse.oracle imports this).
LANG_WORDS = {
    "en": ["the", "and", "of"],
    "de": ["der", "und", "das"],
    "es": ["el", "la", "de"],
}


def lang_guess(docs: DataFrame) -> DataFrame:
    """Cheap stopword language heuristic: score per language = weighted
    stopword hit count; deterministic argmax with EXPLICIT tie priority
    en > de > es (insertion order of LANG_WORDS, checked first-to-last);
    'und' when no stopword hits at all."""
    scores = [
        (
            lang,
            sum(
                (F.length("text") - F.length(F.replace(F.col("text"), F.lit(f" {w} "), F.lit(""))))
                / (len(w) + 2)
                for w in words
            ),
        )
        for lang, words in LANG_WORDS.items()
    ]
    best = F.greatest(*[s for _, s in scores])
    guess = F.lit("und")
    for lang, s in reversed(scores):
        guess = F.when(s == best, F.lit(lang)).otherwise(guess)
    guess = F.when(best <= 0, F.lit("und")).otherwise(guess)
    return docs.select("doc_id", "lang", guess.alias("lang_guess"))


FP_BASE = 1000003
FP_WINDOW = 16
FP_MOD = 1 << 32  # window hash = sum(byte*B^t) mod 2^32: 16 terms, each
#                   < 2^40, total < 2^44 — exact in int64 on BOTH engines
#                   (the DuckDB oracle mirrors it in plain BIGINT).


def fp_powers(window: int = FP_WINDOW) -> list[int]:
    """B^(W-1-t) mod 2^32 for t in 0..W-1 — shared with the oracle SQL."""
    return [pow(FP_BASE, window - 1 - t, FP_MOD) for t in range(window)]


def doc_fingerprint(docs: DataFrame) -> DataFrame:
    """Rolling polynomial hash fingerprint: winnowing-style min over all
    length-``FP_WINDOW`` byte-window hashes. Fully vectorized: each Arrow batch
    concatenates ALL docs into one byte buffer (the decode.py gather trick),
    computes every window hash in W vectorized passes, masks the windows
    that cross doc boundaries with a scatter-built difference array, and
    takes per-doc minima with np.minimum.reduceat — no per-document Python
    loop (docs shorter than the window hit a rare fallback loop; the
    harness corpus has none)."""

    def fp_batches(batches):
        import numpy as np
        import pandas as pd

        W = FP_WINDOW
        P = fp_powers(W)
        UMAX = np.uint64(0xFFFFFFFFFFFFFFFF)

        for pdf in batches:
            bts = [t.encode("utf-8") for t in pdf["text"]]
            nd = len(bts)
            fps = np.zeros(nd, dtype=np.uint64)
            if nd:
                lens = np.array([len(b) for b in bts], dtype=np.int64)
                offs = np.zeros(nd + 1, dtype=np.int64)
                np.cumsum(lens, out=offs[1:])
                buf = np.frombuffer(b"".join(bts), dtype=np.uint8).astype(np.uint64)
                nwin = len(buf) - W + 1
                if nwin > 0:
                    H = np.zeros(nwin, dtype=np.uint64)
                    for t in range(W):  # W passes, each vectorized over ALL windows
                        H += buf[t:t + nwin] * np.uint64(P[t])
                    H &= np.uint64(FP_MOD - 1)
                    # invalidate windows crossing doc boundaries:
                    # doc d's bad starts are [offs[d]+max(len_d-W+1,0), offs[d+1])
                    bad_lo = np.minimum(offs[:-1] + np.maximum(lens - W + 1, 0), nwin)
                    bad_hi = np.minimum(offs[1:], nwin)
                    delta = np.zeros(nwin + 1, dtype=np.int64)
                    np.add.at(delta, bad_lo, 1)
                    np.add.at(delta, bad_hi, -1)
                    H[np.cumsum(delta[:-1]) > 0] = UMAX
                    # reduceat segments only for docs that OWN windows
                    # (len >= W): their starts are always < nwin, strictly
                    # increasing, and each segment runs to the next long
                    # doc's start — spanning only masked (UMAX) windows of
                    # intervening short docs, harmless under min. Clipping
                    # short docs' starts instead (the old code) could steal
                    # the tail windows of the PRECEDING doc's segment.
                    long_idx = np.nonzero(lens >= W)[0]
                    if long_idx.size:
                        fps[long_idx] = np.minimum.reduceat(
                            H, offs[:-1][long_idx]
                        )
                for d in np.nonzero(lens < W)[0]:  # rare short-doc fallback
                    h = 0
                    for byte in bts[d]:
                        h = (h * FP_BASE + byte) % FP_MOD
                    fps[d] = h
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].to_numpy(), "fingerprint": fps.astype(np.int64)}
            )

    return docs.select("doc_id", "text").mapInPandas(
        fp_batches, schema="doc_id bigint, fingerprint bigint"
    )
