"""Training-data pipeline operators: dedup (exact / Jaccard / MinHash-LSH /
SimHash), similarity search (brute force + LSH recall), text analysis,
multimodal plumbing — on planted fixtures with known answers."""

import os

import pytest
from conftest import SF_DIR
from pyspark.sql import functions as F

DOC_SCHEMA = "doc_id bigint, text string, lang string, source string, n_chars bigint"


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "s0", len(t)) for i, t in enumerate(rows)], DOC_SCHEMA
    )


BASE = "the quick brown fox jumps over the lazy dog again and again every day"
NEAR = "the quick brown fox jumps over the lazy cat again and again every day"
OTHER = "completely different words about spark rollup tiers and gorilla codecs"


def test_exact_dedup(spark):
    from sbse.datapipe.dedup import exact_dedup

    d = _docs(spark, [BASE, BASE, NEAR, OTHER])
    out = {r.keeper_doc_id: (r.n_copies, r.n_dropped)
           for r in exact_dedup(d).collect()}
    assert out[0] == (2, 1)   # two exact copies of BASE, keeper = min id
    assert out[2] == (1, 0)
    assert out[3] == (1, 0)


def test_ngram_jaccard_finds_near_dup(spark):
    from sbse.datapipe.dedup import ngram_jaccard_pairs

    d = _docs(spark, [BASE, NEAR, OTHER])
    pairs = {(r.doc_a, r.doc_b): r.jaccard
             for r in ngram_jaccard_pairs(d, threshold=0.2).collect()}
    assert (0, 1) in pairs
    assert pairs[(0, 1)] > 0.5
    assert all(OTHER_id not in p for p in pairs for OTHER_id in (2,))


def test_minhash_lsh_matches_exact_jaccard(spark):
    """LSH candidates' verified jaccard equals the exact all-pairs jaccard
    for every surviving pair (no false positives after verification)."""
    from sbse.datapipe.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    d = _docs(spark, [BASE, NEAR, OTHER, BASE + " extra tail words here"])
    exact = {(r.doc_a, r.doc_b): round(r.jaccard, 9)
             for r in ngram_jaccard_pairs(d, threshold=0.2).collect()}
    lsh = {(r.doc_a, r.doc_b): round(r.jaccard, 9)
           for r in minhash_lsh_pairs(d, threshold=0.2).collect()}
    # every LSH pair is exact-correct; high-sim pairs are recalled
    for pair, j in lsh.items():
        assert exact[pair] == j
    assert (0, 1) in lsh
    assert (0, 3) in lsh


def test_simhash(spark):
    from sbse.datapipe.dedup import simhash64

    d = _docs(spark, [BASE, BASE, NEAR, OTHER])
    sims = simhash64(d)
    by_id = {r.doc_id: r.simhash for r in sims.collect()}
    assert by_id[0] == by_id[1]  # identical docs -> identical simhash
    ham_near = bin(by_id[0] ^ by_id[2]).count("1")
    ham_far = bin(by_id[0] ^ by_id[3]).count("1")
    assert ham_near < ham_far
    # the near-dup is within radius 16 of its base, by brute force
    cands = {(a, b): h for a, b, h in _brute_pairs(sims, 16)}
    assert cands[(0, 1)] == 0
    assert (0, 2) in cands


def simhash64_expr(docs, text_col="text"):
    """Pure-Catalyst SimHash: the bit-exactness oracle for
    ``dedup.simhash64``. 16 md5 hex-digit extractions, 64 bit-sum
    aggregates per doc and a 64-term assembly; NULL-text docs are dropped,
    as the engine drops them."""
    docs = docs.filter(F.col(text_col).isNotNull())
    w = docs.select("doc_id", F.explode(F.split(F.col(text_col), " ")).alias("word"))
    w = w.withColumn("m16", F.substring(F.md5("word"), 1, 16))
    digits = [
        F.expr(f"locate(substring(m16, {i + 1}, 1), '0123456789abcdef') - 1")
        .alias(f"d{i}")
        for i in range(16)
    ]
    w = w.select("doc_id", *digits)
    aggs = [F.count(F.lit(1)).alias("nw")]
    for b in range(64):
        i, s = b // 4, b % 4
        bit = F.floor(F.col(f"d{i}") / F.lit(1 << s)).cast("int") % 2
        aggs.append(F.sum(bit).alias(f"s{b}"))
    votes = w.groupBy("doc_id").agg(*aggs)
    sim_expr = None
    for b in range(64):
        lb = (1 << b) if b < 63 else -(1 << 63)
        term = F.when(
            2 * F.col(f"s{b}") > F.col("nw"), F.lit(lb).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        sim_expr = term if sim_expr is None else sim_expr + term
    return votes.select("doc_id", sim_expr.alias("simhash"))


def test_simhash_twins_equal(spark):
    """The vectorized Arrow simhash is bit-identical to the pure Catalyst
    oracle on real corpus data."""
    from sbse.datapipe.dedup import simhash64

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    expr = {r.doc_id: r.simhash
            for r in simhash64_expr(docs).collect()}
    arrow = {r.doc_id: r.simhash
             for r in simhash64(docs).collect()}
    assert expr == arrow and len(expr) == 500


EMB_SCHEMA = "vec_id bigint, embedding array<float>, label int"


def _embs(spark):
    import math

    rows = []
    # two tight clusters + one outlier, 8-dim
    for i in range(5):
        rows.append((i, [1.0, 0.0, 0.0, 0.0, 0.001 * i, 0.0, 0.0, 0.0], 0))
    for i in range(5, 10):
        rows.append((i, [0.0, 1.0, 0.0, 0.0, 0.0, 0.001 * i, 0.0, 0.0], 1))
    rows.append((10, [0.0, 0.0, 1.0, 1.0, 1.0, -1.0, 0.5, 0.25], 2))
    return spark.createDataFrame(rows, EMB_SCHEMA)


def _norm_col(e: str = "embedding"):
    """L2 norm as the interpreted ascending-dimension fold: the Catalyst
    twin of ``sqrt(similarity._fold(m, m))`` and of the oracle's ordered
    list_sum."""
    return F.sqrt(
        F.aggregate(
            F.col(e),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def ann_topk_bruteforce(embs, k):
    """Exact top-k cosine neighbors, O(n^2): the recall oracle for the ANN
    routes. Same ordered-fold dot product and norm as the engine, ties
    broken by neighbor id."""
    from pyspark.sql import Window

    from sbse.datapipe.similarity import _dot

    n = embs.select("vec_id", "embedding", _norm_col().alias("nrm"))
    q = embs.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_e"),
                    _norm_col().alias("q_n"))
    cos = _dot(F.col("q_e"), F.col("embedding")) / (F.col("q_n") * F.col("nrm"))
    scored = (q.join(n, F.col("q_id") != F.col("vec_id"))
              .select("q_id", "vec_id", cos.alias("cos")))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (scored.select("*", F.row_number().over(w).alias("rank"))
            .filter(F.col("rank") <= k)
            .select("q_id", F.col("vec_id").alias("neighbor_id"), "cos", "rank"))


def test_cosine_neardup_pairs(spark):
    from sbse.datapipe.similarity import cosine_neardup_pairs

    pairs = {(r.id_a, r.id_b)
             for r in cosine_neardup_pairs(_embs(spark), threshold=0.999).collect()}
    assert (0, 1) in pairs and (5, 6) in pairs
    assert not any(a < 5 <= b for a, b in pairs)  # no cross-cluster pairs


def _clustered_embs(spark, n):
    """The first ``n`` of 10k 64-dim vectors around 200 unit centers."""
    import numpy as np

    rng = np.random.RandomState(7)
    centers = rng.standard_normal((200, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    pts = (centers[np.arange(10_000) % 200]
           + 0.03 * rng.standard_normal((10_000, 64)))[:n]
    df = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]], int(i % 200)) for i in range(n)],
        EMB_SCHEMA,
    )
    return pts, df


def _assert_brute_force_pairs(pts, got, threshold):
    """``got`` is numpy brute force's pair set at ``threshold``."""
    import numpy as np

    nrm = np.linalg.norm(pts, axis=1)
    cos = (pts @ pts.T) / np.outer(nrm, nrm)
    iu = np.triu_indices(len(pts), k=1)
    hits = cos[iu] >= threshold
    truth = set(zip(iu[0][hits].tolist(), iu[1][hits].tolist()))
    # strict equality away from the threshold boundary; at the boundary the
    # engine's ordered fold is authoritative (numpy sums pairwise)
    boundary = {(a, b) for (a, b) in truth ^ got
                if abs(cos[a, b] - threshold) < 1e-9}
    assert truth - got <= boundary and got - truth <= boundary, (
        f"missing={list(truth - got)[:5]} extra={list(got - truth)[:5]}"
    )
    assert len(truth) > 100  # the fixture actually exercises near-dups


def test_cosine_neardup_exact_at_10k_and_scale_sane_plan(spark):
    """The IVF cell-blocked near-dup join is COMPLETE (identical pair set to
    numpy brute force at 10k vectors) and its physical plan contains no
    BroadcastNestedLoopJoin/CartesianProduct — the round-1 all-pairs defect."""
    pts, df = _clustered_embs(spark, 10_000)
    from sbse.datapipe.similarity import cosine_neardup_pairs

    # n_cells ~ n/10: data-sampled centroids cover every cluster, caps stay
    # tight, and the triangle-inequality pruning keeps candidates near the
    # true intra-cluster pairs (~16k of 1M cell pairs survive here).
    out = cosine_neardup_pairs(df, threshold=0.9, n_cells=1024)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in plan and "Cartesian" not in plan, plan
    _assert_brute_force_pairs(pts, {(r.id_a, r.id_b) for r in out.collect()},
                              0.9)


def test_cosine_neardup_oversized_pairs_take_pair_join(spark, monkeypatch):
    """Cell pairs whose combined size exceeds _GROUP_ROWS_MAX are scored by
    _pair_join_scores (an equi-join and the Catalyst fold ``_dot``, whose
    ``zip_with`` marks the route in the plan) instead of one applyInPandas
    group. With the cap at 0 every pair takes it, at 16 the routes mix;
    both give the grouped path's pair set, and that set is numpy brute
    force's."""
    from sbse.datapipe import similarity as sim

    pts, df = _clustered_embs(spark, 2_000)

    def run(cap):
        monkeypatch.setattr(sim, "_GROUP_ROWS_MAX", cap)
        out = sim.cosine_neardup_pairs(df, threshold=0.9, n_cells=256)
        plan = out._jdf.queryExecution().executedPlan().toString()
        routes = ("FlatMapGroupsInPandas" in plan, "zip_with" in plan)
        return routes, {(r.id_a, r.id_b) for r in out.collect()}

    grouped_routes, grouped = run(100_000)
    joined_routes, joined = run(0)
    mixed_routes, mixed = run(16)
    assert grouped_routes == (True, False)
    assert joined_routes == (False, True)
    assert mixed_routes == (True, True)
    assert joined == grouped and mixed == grouped
    _assert_brute_force_pairs(pts, grouped, 0.9)


def test_cosine_neardup_within_cell_group_sized_once(spark, monkeypatch):
    """A within-cell candidate pair (i, i) ships cell i's rows once, so a
    cell of 100 rows fits a 126-row worker cap and stays one applyInPandas
    group (it was sized 200 and sent to the pair join). 400 random 16-dim
    vectors in four tight clusters of 100; the cluster labels follow the
    md5 sampling order, so each cell holds one cluster and the candidate
    pruning keeps only the four within-cell pairs."""
    import hashlib

    import numpy as np

    from sbse.datapipe import similarity as sim

    rng = np.random.RandomState(0)
    centers = rng.standard_normal((4, 16))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    order = sorted(range(400),
                   key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
    label = np.empty(400, dtype=int)
    label[order] = np.arange(400) % 4  # the 4 sampled centroids: 4 clusters
    pts = centers[label] + 0.05 * rng.standard_normal((400, 16))
    df = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]], int(label[i])) for i in range(400)],
        EMB_SCHEMA,
    )
    monkeypatch.setattr(sim, "_GROUP_ROWS_MAX", 126)
    out = sim.cosine_neardup_pairs(df, threshold=0.99, n_cells=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan and "zip_with" not in plan, plan
    got = {(r.id_a, r.id_b) for r in out.collect()}
    pts32 = pts.astype(np.float32).astype(np.float64)  # the stored floats
    nrm = np.linalg.norm(pts32, axis=1)
    cos = (pts32 @ pts32.T) / np.outer(nrm, nrm)
    iu = np.triu_indices(400, k=1)
    hits = cos[iu] >= 0.99
    truth = set(zip(iu[0][hits].tolist(), iu[1][hits].tolist()))
    # the engine's ordered fold decides pairs within 1e-9 of the threshold
    assert all(abs(cos[a, b] - 0.99) < 1e-9 for a, b in got ^ truth)
    assert len(truth) > 20


def test_ann_topk_lsh_plan_has_no_nested_loop(spark):
    from sbse.datapipe.similarity import ann_topk_lsh

    out = ann_topk_lsh(_embs(spark), k=3, n_planes=4, dim=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in plan and "Cartesian" not in plan, plan


def test_ann_bruteforce_and_lsh_recall(spark):
    from sbse.datapipe.similarity import ann_topk_lsh

    embs = _embs(spark)
    exact = ann_topk_bruteforce(embs, k=3)
    got = {(r.q_id, r.neighbor_id) for r in exact.collect()}
    # every in-cluster query's neighbors stay in-cluster
    for q, n in got:
        if q < 5:
            assert n < 5
        elif q < 10:
            assert 5 <= n < 10
    approx = ann_topk_lsh(embs, k=3, n_planes=4, dim=8)
    got_a = {(r.q_id, r.neighbor_id) for r in approx.collect()}
    recall = len(got_a & got) / len(got)
    assert recall >= 0.8, f"LSH recall {recall}"


def test_ann_ivf_recall(spark):
    """IVF probe ANN (q31): deterministic md5-sampled centroids group the
    clusters; probing 2 cells recovers the brute-force top-k on the
    clustered fixture."""
    from sbse.datapipe.similarity import ann_topk_ivf

    embs = _embs(spark)
    exact = {(r.q_id, r.neighbor_id) for r in
             ann_topk_bruteforce(embs, k=3).collect()}
    ivf = ann_topk_ivf(embs, k=3, n_cells=4, nprobe=2)
    got = {(r.q_id, r.neighbor_id) for r in ivf.collect()}
    recall = len(got & exact) / len(exact)
    assert recall >= 0.8, f"IVF recall {recall}"
    # determinism: same output on a re-run
    again = {(r.q_id, r.neighbor_id) for r in
             ann_topk_ivf(embs, k=3, n_cells=4, nprobe=2).collect()}
    assert got == again


def _band_bucket(e, signs_band):
    """Hyperplane-sign bucket for ONE band from its ±1 plane rows, as
    interpreted per-plane ordered folds: the reference for the bucket-size
    assertion below."""
    bits = None
    for p, row in enumerate(signs_band):
        s_arr = F.array(*[F.lit(float(s)) for s in row])
        comp = F.aggregate(
            F.zip_with(F.col(e), s_arr, lambda x, s: x.cast("double") * s),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bit = F.when(comp > 0, F.lit(1 << p)).otherwise(0)
        bits = bit if bits is None else bits + bit
    return bits


def test_ann_multiband_recall_at_10k(spark):
    """Multi-band LSH ANN at 10k vectors (the round-2 'bucket economics'
    fix): recall vs numpy brute-force top-k >= 0.9 with SHARP buckets
    (9 planes = 512 buckets/band, bounding every within-bucket quadratic),
    multiple bands (6) recovering the recall sharpness loses — and
    per-bucket population demonstrably shrinks as planes rise."""
    import numpy as np

    from sbse.datapipe.similarity import ann_topk_lsh, band_plane_signs

    rng = np.random.RandomState(11)
    centers = rng.standard_normal((200, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    n, k = 10_000, 5
    pts = (centers[np.arange(n) % 200]
           + 0.03 * rng.standard_normal((n, 64)))
    df = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]], int(i % 200)) for i in range(n)],
        EMB_SCHEMA,
    )

    out = ann_topk_lsh(df, k=k, n_planes=9, dim=64, n_bands=6)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in plan and "Cartesian" not in plan, plan
    got = {(r.q_id, r.neighbor_id) for r in out.collect()}

    # numpy brute-force truth, chunked (no n x n matrix at once)
    nrm = np.linalg.norm(pts, axis=1)
    unit = pts / nrm[:, None]
    truth = set()
    for c0 in range(0, n, 1000):
        cos = unit[c0:c0 + 1000] @ unit.T
        for qi in range(cos.shape[0]):
            q = c0 + qi
            cos[qi, q] = -np.inf
            top = np.argpartition(-cos[qi], k)[:k]
            truth.update((q, int(t)) for t in top)
    recall = len(got & truth) / len(truth)
    assert recall >= 0.9, f"multi-band ANN recall {recall:.3f}"

    # sharper buckets => smaller max bucket (the knob that bounds the
    # within-bucket quadratic at scale)
    def max_bucket(p):
        band = band_plane_signs(p, 1, 64)[0]
        return (
            df.withColumn("b", _band_bucket("embedding", band))
            .groupBy("b").count().agg(F.max("count")).collect()[0][0]
        )

    m6, m10 = max_bucket(6), max_bucket(10)
    assert m10 < m6, (m6, m10)


def test_cosine_neardup_empty_and_blocked_grid(spark, monkeypatch):
    """ADVICE r2: empty inputs return an empty pair frame (no np.stack
    crash); and the candidate cell-pair test gives the identical pair set
    whether it runs as one block or in 7-row blocks of the cell grid (the
    blocking that keeps driver scratch O(block x C), never C x C)."""
    import numpy as np

    from sbse.datapipe import similarity as sim

    empty = spark.createDataFrame([], EMB_SCHEMA)
    assert sim.cosine_neardup_pairs(empty, threshold=0.9).count() == 0

    rng = np.random.RandomState(3)
    centers = rng.standard_normal((80, 16))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    pts = centers[np.arange(2000) % 80] + 0.02 * rng.standard_normal((2000, 16))
    df = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]], int(i % 80)) for i in range(2000)],
        EMB_SCHEMA,
    )

    def pairs(block):
        monkeypatch.setattr(sim, "_GRID_BLOCK", block)
        return {(r.id_a, r.id_b) for r in
                sim.cosine_neardup_pairs(df, threshold=0.9, n_cells=256).collect()}

    want = pairs(1 << 20)  # one block holds the whole grid
    got = pairs(7)
    assert got == want and len(want) > 50


def test_text_quality_and_lang(spark):
    from sbse.datapipe.text import lang_guess, text_quality

    d = _docs(spark, [BASE])
    r = text_quality(d).collect()[0]
    assert r.n_words_ws == len(BASE.split(" "))
    assert r.n_chars == len(BASE)
    assert r.n_the == BASE.count(" the ")
    assert r.n_alpha_tokens == len(BASE.split())
    g = lang_guess(d).collect()[0]
    assert g.lang_guess == "en"


def test_doc_fingerprint_deterministic(spark):
    from sbse.datapipe.text import doc_fingerprint

    d = _docs(spark, [BASE, BASE, NEAR, "tiny"])
    fps = {r.doc_id: r.fingerprint for r in doc_fingerprint(d).collect()}
    assert fps[0] == fps[1]              # identical text -> identical mark
    assert fps[0] != fps[3]
    again = {r.doc_id: r.fingerprint for r in doc_fingerprint(d).collect()}
    assert fps == again


def _ref_fingerprint(text: str) -> int:
    """Independent pure-Python reference of the winnowing fingerprint:
    min over byte windows of the polynomial hash (Horner), mod 2^32."""
    from sbse.datapipe.text import FP_BASE, FP_MOD, FP_WINDOW

    b = text.encode("utf-8")
    if len(b) < FP_WINDOW:
        h = 0
        for byte in b:
            h = (h * FP_BASE + byte) % FP_MOD
        return h
    best = None
    for i in range(len(b) - FP_WINDOW + 1):
        h = 0
        for byte in b[i:i + FP_WINDOW]:
            h = (h * FP_BASE + byte) % FP_MOD
        if best is None or h < best:
            best = h
    return best


def test_doc_fingerprint_adversarial_bytes(spark):
    """Overflow-edge sweep (VERDICT r2 #9): the vectorized uint64 window
    hash must equal the pure-Python reference on adversarial byte values —
    max utf-8 bytes (0xF4/0xBF continuations), long runs of high bytes,
    window-boundary lengths (W-1, W, W+1), empty text, and doc-boundary
    adjacency inside one Arrow batch. Bound: 16 terms x 255 x (2^32-1)
    < 2^44, exact in uint64 (engine) and BIGINT (oracle)."""
    from sbse.datapipe.text import FP_WINDOW, doc_fingerprint

    high = "\U0010ffff"  # encodes F4 8F BF BF — the max utf-8 byte values
    adversarial = [
        "",                       # zero bytes -> fallback h=0
        "a" * (FP_WINDOW - 1),    # short-doc fallback path
        "a" * FP_WINDOW,          # exactly one window
        "a" * (FP_WINDOW + 1),    # two windows
        high * 4,                 # 16 bytes of 0xF4/0x8F/0xBF
        high * 1000,              # long run of max bytes, one repeated window
        ("\xff" * 200),           # C3 BF pairs
        "za" * 50 + high * 8 + "az" * 50,  # mixed ascii/max-byte boundary
        BASE,
        # r4 regression (hypothesis find): a long doc FOLLOWED by empty docs
        # — the old reduceat start-clipping stole the long doc's tail
        # windows when a short doc's offset exceeded the window count.
        "000«\U00010ffb\U00011ffd𐰀", "", "",
        "a" * FP_WINDOW, "", "b" * (FP_WINDOW + 5),  # short docs between long
    ]
    d = _docs(spark, adversarial)
    got = {r.doc_id: r.fingerprint for r in doc_fingerprint(d).collect()}
    for i, t in enumerate(adversarial):
        want = _ref_fingerprint(t)
        # engine emits int64; reference is mod 2^32 so always non-negative
        assert got[i] == want, (i, repr(t[:20]), got[i], want)


def test_doc_fingerprint_property(spark):
    """Hypothesis property: engine == reference for random unicode docs
    (multi-byte chars land wherever they land relative to window starts),
    batched into ONE Spark job per example set."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from sbse.datapipe.text import doc_fingerprint

    @settings(max_examples=6, deadline=None)
    @given(st.lists(st.text(min_size=0, max_size=120), min_size=1, max_size=8))
    def check(texts):
        d = _docs(spark, texts)
        got = {r.doc_id: r.fingerprint for r in doc_fingerprint(d).collect()}
        for i, t in enumerate(texts):
            assert got[i] == _ref_fingerprint(t), repr(t)

    check()


def test_multimodal_plumbing(spark):
    from sbse.datapipe.multimodal import extract_features, to_binary_payload

    d = _docs(spark, [BASE, OTHER])
    media = to_binary_payload(d)
    row = media.collect()[0]
    assert bytes(row.payload).decode() in (BASE, OTHER)
    assert row.meta.mime == "text/plain"
    feats = {r.doc_id: r for r in extract_features(media).collect()}
    assert feats[0].n_bytes == len(BASE.encode())
    assert feats[0].byte_sum == sum(BASE.encode())
    assert feats[0].fake_feature == sum(BASE.encode()) % 997


def test_multimodal_resize_and_frames(spark):
    """Resize (1->1 binary kernel) and frame sampling (1->N fan-out) over
    binary payloads: deterministic stand-in kernels, numpy-verified, with
    the short-payload edge paths exercised."""
    import numpy as np

    from sbse.datapipe.multimodal import (resize_image, sample_frames,
                                          to_binary_payload)

    long_doc = "x" * 500
    tiny = "ab"  # shorter than one frame AND one thumbnail
    d = _docs(spark, [long_doc, tiny])
    media = to_binary_payload(d)

    thumbs = {r.doc_id: r for r in resize_image(media, 4, 4).collect()}
    assert (thumbs[0].width, thumbs[0].height) == (4, 4)
    assert len(bytes(thumbs[0].thumb)) == 16
    buf = np.frombuffer(long_doc.encode(), dtype=np.uint8)
    block = len(buf) // 16
    want = buf[: block * 16].reshape(16, block).mean(axis=1).astype(np.uint8)
    assert bytes(thumbs[0].thumb) == want.tobytes()
    assert len(bytes(thumbs[1].thumb)) == 16  # zero-padded short payload

    frames = sample_frames(media, n_frames=3, frame_bytes=100)
    rows = frames.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert 1 not in by_doc                     # tiny payload -> zero frames
    f0 = sorted(by_doc[0], key=lambda r: r.frame_idx)
    assert [r.frame_idx for r in f0] == [0, 2, 4]   # uniform over 5 frames
    assert all(r.n_frames_total == 5 for r in f0)
    assert all(len(bytes(r.frame)) == 100 for r in f0)
    assert bytes(f0[1].frame) == long_doc.encode()[200:300]


def test_simhash_null_text_both_twins(spark):
    """ADVICE r3 (low): NULL-text docs must be DROPPED by simhash64 exactly
    as by the Catalyst oracle (the Arrow pass used to crash on None.split
    while the Catalyst fold silently dropped them)."""
    from sbse.datapipe.dedup import simhash64

    d = spark.createDataFrame(
        [(0, BASE, "en", "s"), (1, None, "en", "s"), (2, OTHER, "en", "s")],
        "doc_id bigint, text string, lang string, source string",
    )
    got_a = {r.doc_id: r.simhash for r in simhash64(d).collect()}
    got_e = {r.doc_id: r.simhash for r in simhash64_expr(d).collect()}
    assert got_a == got_e
    assert set(got_a) == {0, 2}


def test_grouped_scorer_bit_equal_to_fold(spark):
    """The group-shaped cosine scorer (ordered column accumulation in
    numpy) must be BIT-equal to the ordered fold (the oracle's list_sum
    order) on every pair — no tolerance."""
    import random
    import struct as st

    from sbse.datapipe.similarity import _dot, _grouped_pair_scores

    rng = random.Random(42)
    rows = [
        (i, [rng.uniform(-2, 2) for _ in range(64)], i % 3)
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>, g int")
    n = df.select("vec_id", "embedding", "g", _norm_col().alias("nrm"))
    grouped = _grouped_pair_scores(
        n.select("g", "vec_id", "embedding", "nrm"), ["g"], symmetric=True
    )
    got = {(r.q_id, r.vec_id): r.cos for r in grouped.collect()}
    a = n.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_e"),
                 F.col("nrm").alias("q_n"), F.col("g").alias("ga"))
    b = n.select("vec_id", "embedding", "nrm", F.col("g").alias("gb"))
    cos = _dot(F.col("q_e"), F.col("embedding")) / (F.col("q_n") * F.col("nrm"))
    want = {
        (r.q_id, r.vec_id): r.cos
        for r in a.join(b, F.col("ga") == F.col("gb"))
        .filter(F.col("q_id") != F.col("vec_id"))
        .select("q_id", "vec_id", cos.alias("cos")).collect()
    }
    assert set(got) == set(want) and len(got) > 1000
    for pair, v in want.items():
        assert st.pack(">d", got[pair]) == st.pack(">d", v), (pair, got[pair], v)


def test_grouped_scorer_group_cap_fallback(spark, monkeypatch):
    """Groups above _GROUP_ROWS_MAX must route through the pair-join fold
    fallback (unbounded applyInPandas groups OOM one worker) and produce
    BIT-identical output to the uncapped scorer — both for the symmetric
    (LSH-bucket) and the role-split (IVF-cell) shape."""
    import random
    import struct as st

    from sbse.datapipe import similarity as sim

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-2, 2) for _ in range(8)], i % 3, i % 2)
        for i in range(90)
    ]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, g int, role int"
    )
    n = df.select("g", "role", "vec_id", "embedding", _norm_col().alias("nrm"))

    def scores(cap, symmetric):
        monkeypatch.setattr(sim, "_GROUP_ROWS_MAX", cap)
        return {
            (r.q_id, r.vec_id): r.cos
            for r in sim._grouped_pair_scores(n, ["g"], symmetric=symmetric)
            .collect()
        }

    for symmetric in (True, False):
        uncapped = scores(100_000, symmetric)
        # cap of 10 makes EVERY group (30 rows each) oversized -> all rows
        # take the fallback join path
        capped = scores(10, symmetric)
        assert set(capped) == set(uncapped) and len(uncapped) > 100
        for pair, v in uncapped.items():
            assert st.pack(">d", capped[pair]) == st.pack(">d", v), (
                symmetric, pair, capped[pair], v)
        # mixed: only group g=0 oversized (cap between group sizes is not
        # constructible here since groups are equal-sized; instead cap at 29
        # so all fall back — then at 31 so none do — both must agree)
        for cap in (29, 31):
            mixed = scores(cap, symmetric)
            assert mixed == capped or mixed == uncapped
            assert set(mixed) == set(uncapped)


def test_simhash_multiblock_complete(spark):
    """Multi-block banding (C(10,3) 3-block combination tables) returns
    EXACTLY the radius-7 pair set — equal to the brute-force cross scan, on
    real corpus data."""
    from sbse.datapipe.dedup import simhash64, simhash_candidates_multiblock

    docs = (spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
            .limit(400))
    sims = simhash64(docs).localCheckpoint()
    mb = {(r.doc_a, r.doc_b): r.hamming
          for r in simhash_candidates_multiblock(sims).collect()}
    by_id = sorted((r.doc_id, r.simhash) for r in sims.collect())
    brute = {}
    for i, (ida, sa) in enumerate(by_id):
        for idb, sb in by_id[i + 1:]:
            h = bin((sa ^ sb) & 0xFFFFFFFFFFFFFFFF).count("1")
            if h <= 7:
                brute[(ida, idb)] = h
    assert mb == brute


# the sf0.01 corpus (~500 docs) beside the configured test scale
SF001_DOCS = os.path.join(os.path.dirname(SF_DIR), "sf0.01",
                          "documents.parquet")


def _brute_pairs(sims, radius):
    """Every (doc_a < doc_b, hamming) within ``radius`` over the distinct
    (doc_id, simhash) rows: all-pairs XOR, popcount by ``bin`` (independent
    of the engine's SWAR popcount)."""
    import numpy as np

    rows = sorted({(r.doc_id, r.simhash) for r in sims.collect()})
    ids = np.array([r[0] for r in rows], np.int64)
    sig = np.array([r[1] for r in rows], np.int64).view(np.uint64)
    x = sig[:, None] ^ sig[None, :]
    h = np.array([[bin(int(v)).count("1") for v in row] for row in x])
    ii, jj = np.nonzero(np.triu(h <= radius, k=1))
    return {(int(ids[i]), int(ids[j]), int(h[i, j])) for i, j in zip(ii, jj)}


def _rows(df):
    return [(r.doc_a, r.doc_b, r.hamming) for r in df.collect()]


def test_multiblock_matches_bruteforce(spark):
    """The numpy bucket-run pairing emits EXACTLY the brute-force radius-7
    set on the full sf0.01 corpus (buckets with >2 members included), one
    row per pair."""
    from sbse.datapipe.dedup import simhash64, simhash_candidates_multiblock

    sims = simhash64(spark.read.parquet(SF001_DOCS)).localCheckpoint()
    rows = _rows(simhash_candidates_multiblock(sims))
    assert len(rows) == len(set(rows))
    assert set(rows) == _brute_pairs(sims, 7)
    assert len(rows) > 0


def test_multiblock_wide_keys_match_bruteforce(spark):
    """A 48-bit comb key (8 blocks, comb 6) must not run into the table-id
    bits: no bucket may merge across tables, so no duplicate or self-pair
    rows, and exactly the brute-force radius-2 set."""
    from sbse.datapipe.dedup import simhash64, simhash_candidates_multiblock

    sims = simhash64(spark.read.parquet(SF001_DOCS)).localCheckpoint()
    rows = _rows(simhash_candidates_multiblock(
        sims, max_hamming=2, n_blocks=8, comb=6, max_candidate_pairs=None))
    assert len(rows) == len(set(rows))
    assert set(rows) == _brute_pairs(sims, 2)


def test_simhash_routes_drop_duplicate_id_self_pairs(spark):
    """Rows that share a doc_id never pair with each other: the sweep and
    the multi-block pairing return the same rows on a corpus with 50
    duplicated ids, none with doc_a == doc_b."""
    from sbse.datapipe.dedup import (simhash64, simhash_candidates_multiblock,
                                     simhash_pairs_smallcorpus)

    sims = simhash64(spark.read.parquet(SF001_DOCS)).localCheckpoint()
    dup = sims.unionByName(sims.limit(50)).localCheckpoint()
    sweep = sorted(_rows(simhash_pairs_smallcorpus(dup)))
    mb = sorted(_rows(simhash_candidates_multiblock(dup)))
    assert mb == sweep
    assert all(a != b for a, b, _ in mb)
    assert set(mb) == _brute_pairs(sims, 7)


def test_simhash_routes_keep_int_id_type(spark, monkeypatch):
    """IntegerType ids stay IntegerType through simhash64 and both routes,
    so the router's output schema does not depend on the corpus size."""
    from sbse.datapipe import dedup as dd

    docs = (spark.read.parquet(SF001_DOCS).limit(120)
            .withColumn("doc_id", F.col("doc_id").cast("int")))
    sims = dd.simhash64(docs).localCheckpoint()
    assert sims.schema["doc_id"].dataType.simpleString() == "int"
    def types(df):
        return [f.dataType.simpleString() for f in df.schema.fields]

    sweep = dd.simhash_pairs_smallcorpus(sims)
    mb = dd.simhash_candidates_multiblock(sims)
    assert types(sweep) == types(mb) == ["int", "int", "int"]
    assert types(dd.simhash_candidates_adaptive(sims)) == types(sweep)
    monkeypatch.setattr(dd, "SWEEP_MAX_DOCS", 0)
    routed_mb = dd.simhash_candidates_adaptive(sims)
    assert types(routed_mb) == types(sweep)
    assert sorted(_rows(sweep)) == sorted(_rows(mb)) == sorted(_rows(routed_mb))


def test_simhash_routes_refuse_non_integer_ids(spark):
    """Both radius routes and the router refuse non-integer ids by type,
    before any job runs."""
    from sbse.datapipe.dedup import (simhash64, simhash_candidates_adaptive,
                                     simhash_candidates_multiblock,
                                     simhash_pairs_smallcorpus)

    sims = simhash64(_docs(spark, [BASE, NEAR, OTHER])).withColumn(
        "doc_id", F.col("doc_id").cast("string"))
    for op in (simhash_pairs_smallcorpus, simhash_candidates_multiblock,
               simhash_candidates_adaptive):
        with pytest.raises(TypeError, match="got string"):
            op(sims)


def test_simhash_smallcorpus_sweep_matches_banding(spark, monkeypatch):
    """Small-corpus route: the broadcast all-pairs sweep emits EXACTLY the
    multi-block radius pair set, and the router gives the same answer on
    either side of SWEEP_MAX_DOCS."""
    from sbse.datapipe import dedup as dd

    sims = dd.simhash64(spark.read.parquet(SF001_DOCS)).localCheckpoint()
    mb = {(r.doc_a, r.doc_b): r.hamming
          for r in dd.simhash_candidates_multiblock(sims).collect()}
    sweep = {(r.doc_a, r.doc_b): r.hamming
             for r in dd.simhash_pairs_smallcorpus(sims).collect()}
    assert sweep == mb and len(sweep) > 0
    # the default routes the 500-doc corpus through the sweep; a zero
    # ceiling must give the identical answer through the multi-block tables
    routed = {(r.doc_a, r.doc_b): r.hamming
              for r in dd.simhash_candidates_adaptive(sims).collect()}
    monkeypatch.setattr(dd, "SWEEP_MAX_DOCS", 0)
    banded = {(r.doc_a, r.doc_b): r.hamming
              for r in dd.simhash_candidates_adaptive(sims).collect()}
    assert routed == banded == mb


def test_simhash_multiblock_params(spark):
    """comb > n_blocks - max_hamming breaks the pigeonhole guarantee and is
    refused; the uniform-occupancy guard refuses tiny caps; None disables."""
    from sbse.datapipe.dedup import simhash64, simhash_candidates_multiblock

    sims = simhash64(_docs(spark, [BASE, NEAR, OTHER] * 40))
    with pytest.raises(ValueError, match="agreeing blocks"):
        simhash_candidates_multiblock(sims, max_hamming=7, n_blocks=9,
                                      comb=3)
    # 120 docs over 120 ~19-bit tables: uniform estimate ~3 pairs > cap 1
    with pytest.raises(ValueError, match="candidate pairs"):
        simhash_candidates_multiblock(sims, max_candidate_pairs=1).collect()
    assert simhash_candidates_multiblock(
        sims, max_candidate_pairs=None).count() > 0


def test_ordered_fold_np_bit_identical_to_catalyst_fold(spark):
    """The numpy fold ``_fold`` must be BIT-identical to the interpreted
    F.aggregate folds (_dot / _norm_col) the oracle mirrors — exact ==, no
    tolerance — in every shape the engine calls it with: vector (rows
    against a plane), norm, block grid (rows x rows, broadcast) and
    gathered row pairs."""
    import numpy as np

    from sbse.datapipe.similarity import _dot, _fold

    rng = np.random.RandomState(7)
    # mixed magnitudes so accumulation order actually matters at the ulp
    raw = rng.standard_normal((300, 64)) * (10.0 ** rng.randint(-4, 5, (300, 64)))
    vecs = [(i, [float(np.float32(x)) for x in raw[i]]) for i in range(300)]
    df = spark.createDataFrame(vecs, "vec_id bigint, embedding array<float>")
    plane = [float(np.float32(x)) for x in rng.standard_normal(64)]
    arr = F.array(*[F.lit(p) for p in plane])
    got_rows = df.select(
        "vec_id", _norm_col().alias("n"),
        _dot(F.col("embedding"), arr).alias("d"),
    ).collect()
    mat = np.stack([np.asarray(v, dtype=np.float32) for _, v in vecs]).astype(
        np.float64)
    nrm = np.sqrt(_fold(mat, mat))
    dot = _fold(mat[:, None, :], np.asarray([plane])[None, :, :])[:, 0]
    for r in got_rows:
        assert nrm[r.vec_id] == r.n, (r.vec_id, nrm[r.vec_id], r.n)
        assert dot[r.vec_id] == r.d, (r.vec_id, dot[r.vec_id], r.d)

    # block grid and gathered pairs against the Catalyst pair fold
    a = df.filter(F.col("vec_id") < 40).select(
        F.col("vec_id").alias("ia"), F.col("embedding").alias("ea"))
    b = df.filter(F.col("vec_id") >= 260).select(
        F.col("vec_id").alias("ib"), F.col("embedding").alias("eb"))
    want = {(r.ia, r.ib): r.d for r in a.crossJoin(b).select(
        "ia", "ib", _dot(F.col("ea"), F.col("eb")).alias("d")).collect()}
    grid = _fold(mat[:40, None, :], mat[None, 260:, :])
    ia, ib = (np.array(x) for x in zip(*sorted(want)))
    gathered = _fold(mat[ia], mat[ib])
    assert len(want) == 40 * 40
    for (i, j), d in want.items():
        assert grid[i, j - 260] == d, (i, j, grid[i, j - 260], d)
    for i, j, g in zip(ia, ib, gathered):
        assert g == want[(i, j)], (i, j, g, want[(i, j)])
