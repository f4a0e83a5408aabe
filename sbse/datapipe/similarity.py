"""Similarity search over embedding columns (array<float>).

* ``cosine_neardup_pairs`` — EXACT cosine near-duplicate pairs with a
  scale-sane plan: an IVF-style spherical-cell blocking whose candidate
  cell pairs are pruned by the spherical triangle inequality, so the result
  is provably identical to brute force (the DuckDB oracle stays all-pairs)
  while the physical plan is an equi-join on cell ids — shuffled hash /
  sort-merge, never BroadcastNestedLoopJoin. At 100 TB with clustered
  embeddings most cell pairs are pruned; on adversarially isotropic data it
  degrades to a blocked (still equi-join) pair enumeration, never a driver
  cartesian.
* ``ann_topk_lsh`` — the exposed ANN path: random-hyperplane LSH with
  md5-derived ±1 plane signs (portable — the DuckDB oracle reproduces the
  buckets bit-exactly), bucket equi-join, within-bucket brute force.

Dot products are strict left-to-right folds (``F.aggregate`` over
``F.zip_with``) so IEEE results are reproducible and match DuckDB's ordered
``list_sum``.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType, DoubleType

# Seed namespace for the deterministic IVF centroids (engine-side only; the
# final exact-cosine filter makes centroid choice correctness-neutral).
_IVF_SEED = 0x5B5E


def _norm_col(e: str = "embedding"):
    return F.sqrt(
        F.aggregate(
            F.col(e),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def _ordered_fold_np(mat, vec):
    """sum_j mat[:, j] * vec[j], accumulated in ascending-j order — the
    numpy twin of the interpreted ``F.aggregate`` fold (one IEEE double
    multiply + add per element, same sequence), hence bit-identical to it
    and to the DuckDB oracle's ordered list_sum. The per-dimension loop is
    deliberate: a matmul would reassociate the additions (pairwise/SIMD)
    and change last-ulp results."""
    import numpy as np

    acc = np.zeros(mat.shape[0], dtype=np.float64)
    for j in range(mat.shape[1]):
        acc = acc + mat[:, j] * vec[j]
    return acc


def _ordered_nrm_np(mat):
    """sqrt of the ascending-dimension fold of x*x — the numpy twin of
    ``_norm_col`` (bit-identical, asserted in tests)."""
    import numpy as np

    acc = np.zeros(mat.shape[0], dtype=np.float64)
    for j in range(mat.shape[1]):
        acc = acc + mat[:, j] * mat[:, j]
    return np.sqrt(acc)


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


# _grouped_pair_scores group-size cap: an applyInPandas group ships whole
# to one Python worker, so a skewed (band, bucket) / hot IVF cell must not
# be unbounded (ADVICE r4: a degenerate bucket — e.g. all-zero embeddings —
# would OOM the worker where the old pair-join spilled through Spark).
# Groups above the cap take the pair-JOIN fold path instead: same
# bit-identical ordered accumulation, spills through Spark's operators.
_GROUP_ROWS_MAX = 100_000
# q-row block width inside score(): bounds the numpy scratch matrix to
# _SCORE_BLOCK x |group| doubles instead of |q| x |h|, and (round 6) keeps
# the accumulator resident in cache across the 64 per-dimension passes —
# at 2048 the acc/tmp pair spilled to RAM every pass and the scorer was
# memory-bandwidth-bound (measured: q31's 16-cell scorer ~9s; blocked +
# in-place it is ~1s).
_SCORE_BLOCK = 256


def _pair_join_scores(rows: DataFrame, keys: list[str],
                      symmetric: bool) -> DataFrame:
    """Fallback scorer for groups above _GROUP_ROWS_MAX: a plain equi-join
    on the group keys + the interpreted ordered fold. Bit-identical cosines
    (same left-to-right accumulation); ships each vector once per pair, but
    spills through Spark's join/shuffle machinery instead of one worker's
    heap — the right trade ONLY for degenerate hot groups."""
    if symmetric:
        q = rows.select(*keys, F.col("vec_id").alias("q_id"),
                        F.col("embedding").alias("q_e"),
                        F.col("nrm").alias("q_n"))
        h = rows.select(*keys, "vec_id", "embedding", "nrm")
    else:
        q = rows.filter(F.col("role") == 1).select(
            *keys, F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_e"), F.col("nrm").alias("q_n"))
        h = rows.filter(F.col("role") == 0).select(
            *keys, "vec_id", "embedding", "nrm")
    pairs = q.join(h, keys).filter(F.col("q_id") != F.col("vec_id"))
    cos = _dot(F.col("q_e"), F.col("embedding")) / (F.col("q_n") * F.col("nrm"))
    return pairs.select("q_id", "vec_id", cos.alias("cos"))


def _grouped_pair_scores(rows: DataFrame, keys: list[str],
                         symmetric: bool = False,
                         max_group_rows: int = _GROUP_ROWS_MAX,
                         topk: int | None = None) -> DataFrame:
    """Per-group pair scoring WITHOUT the array-duplicating pair join: one
    ``applyInPandas`` per group ships every vector ONCE (not once per
    candidate pair) and scores all (query, neighbor) pairs with a strict
    left-to-right column accumulation — 64 vectorized adds in ascending
    dimension order, BIT-IDENTICAL to the ``F.aggregate`` fold and hence to
    the DuckDB oracle's ordered list_sum (asserted in test_datapipe).

    Round-4 measurement note: three per-pair scorers were tried on 500k
    candidates — interpreted fold 3.2s, unrolled 64-term expression 7.0s
    (falls out of codegen), per-pair Arrow numpy 9.1s (array transfer
    dominates). The group-shaped scorer wins by changing the data movement,
    not the arithmetic: arrays cross to Python once per group member, the
    pair matrix lives only as numpy scratch (O(|q|x|h|) doubles, bounded by
    the banding/cell caps), and only (q_id, vec_id, cos) rows come back.

    ``rows``: (keys..., role, vec_id, embedding, nrm); role 0 = candidate
    neighbor ("home"), role 1 = query. ``symmetric=True`` treats every row
    as both (LSH buckets). Self-pairs are dropped.

    Scale caps (round 5, ADVICE r4): group size is ENFORCED, not assumed —
    a cheap (keys)->count aggregation finds groups above ``max_group_rows``
    (control-plane collect: at most total_rows/max_group_rows key tuples);
    their rows are routed to the pair-join fold path (bit-identical cos,
    spills through Spark operators) while every bounded group keeps the
    fast one-worker matmul. Inside score(), the scratch matrix is blocked
    over q rows (_SCORE_BLOCK), so worker scratch is O(block x group), not
    O(|q| x |h|).

    ``topk`` (round 6, guide §2.3 'aggregate before you shuffle'): when
    set, each group emits only every query's top-``topk`` neighbors by the
    SAME total order downstream ranking uses (cos desc, NaN first,
    vec_id asc). Provably lossless for a final per-query top-k over the
    union of groups: a pair's rank within one group (a subset of the
    query's candidates) is <= its global rank, so every global top-k pair
    survives its group cut. Without it, q31's 16-cell scorer shipped ~50M
    (q_id, vec_id, cos) rows out of Python into a 50M-row rank window —
    the measured wall of the operator (~9s of 10.7s at sf1.0); with it,
    <= n_queries x groups_per_query x topk rows cross (~200k). Groups on
    the fallback pair-join path emit all their pairs (more rows, same
    final rank)."""

    def score(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame({"q_id": pd.Series([], dtype="int64"),
                              "vec_id": pd.Series([], dtype="int64"),
                              "cos": pd.Series([], dtype="float64")})
        if symmetric:
            q = h = pdf
        else:
            h = pdf[pdf["role"] == 0]
            q = pdf[pdf["role"] == 1]
        if len(h) == 0 or len(q) == 0:
            return empty
        A = np.stack(q["embedding"].to_numpy()).astype(np.float64)
        B = np.stack(h["embedding"].to_numpy()).astype(np.float64)
        hn = h["nrm"].to_numpy()
        hid = h["vec_id"].to_numpy()
        if topk is not None:
            # sort candidates by vec_id ASC once so a stable argsort on the
            # cos key resolves ties exactly like the downstream rank's
            # (cos desc, vec_id asc)
            hs = np.argsort(hid, kind="stable")
            B, hn, hid = B[hs], hn[hs], hid[hs]
        parts = []
        for i0 in range(0, len(q), _SCORE_BLOCK):
            Ab = A[i0:i0 + _SCORE_BLOCK]
            nb = Ab.shape[0]
            qb = q["vec_id"].to_numpy()[i0:i0 + nb]
            acc = np.zeros((nb, len(h)))
            tmp = np.empty((nb, len(h)))
            for j in range(A.shape[1]):  # ascending dims: the fold's order
                # in-place outer-product accumulate: identical IEEE
                # multiply/add sequence as `acc + np.multiply.outer(...)`
                # (bit-identical), but no fresh (nb x h) temporaries per
                # dimension — with _SCORE_BLOCK sized so acc/tmp stay in
                # cache, the 64 passes stop being RAM-bandwidth-bound.
                np.multiply(Ab[:, j][:, None], B[:, j][None, :], out=tmp)
                np.add(acc, tmp, out=acc)
            den = np.multiply.outer(
                q["nrm"].to_numpy()[i0:i0 + nb], hn
            )
            cos = acc / den
            if topk is not None:
                # ascending sort key = -cos with NaN mapped to -inf (Spark
                # desc sorts NaN greatest -> first); self-pairs pushed last
                # BEFORE the cut so they never occupy a top slot
                key = -cos
                key[np.isnan(key)] = -np.inf
                pos = np.searchsorted(hid, qb)
                ok = (pos < len(hid)) & (hid[np.minimum(pos, len(hid) - 1)]
                                         == qb)
                key[np.arange(nb)[ok], pos[ok]] = np.inf
                kk = min(topk, len(hid))
                order = np.argsort(key, axis=1, kind="stable")[:, :kk]
                qi = np.repeat(qb, kk)
                vi = hid[order].ravel()
                ci = np.take_along_axis(cos, order, axis=1).ravel()
            else:
                qi = np.repeat(qb, len(h))
                vi = np.tile(hid, nb)
                ci = cos.ravel()
            keep = qi != vi
            parts.append(pd.DataFrame(
                {"q_id": qi[keep], "vec_id": vi[keep], "cos": ci[keep]}
            ))
        return pd.concat(parts, ignore_index=True) if parts else empty

    rows = rows.localCheckpoint(eager=False)
    big = (
        rows.groupBy(*keys).agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > max_group_rows).select(*keys).collect()
    )
    grouped = rows
    if big:
        bigdf = F.broadcast(
            rows.sparkSession.createDataFrame(big, rows.select(*keys).schema)
        )
        grouped = rows.join(bigdf, keys, "left_anti")
    scored = grouped.groupBy(*keys).applyInPandas(
        score, "q_id bigint, vec_id bigint, cos double"
    )
    if big:
        over = rows.join(
            F.broadcast(
                rows.sparkSession.createDataFrame(
                    big, rows.select(*keys).schema)
            ),
            keys, "left_semi",
        )
        scored = scored.unionByName(_pair_join_scores(over, keys, symmetric))
    return scored


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", F.col("vec_id").alias("neighbor_id"),
                F.col("rank").cast("int").alias("rank"))
    )


def plane_signs(n_planes: int, dim: int) -> list[list[int]]:
    """±1 hyperplane components from md5 parity — pure Python, shared with
    the DuckDB oracle generator so both engines use identical planes."""
    out = []
    for p in range(n_planes):
        row = []
        for j in range(dim):
            h = hashlib.md5(f"{p}|{j}".encode()).hexdigest()
            row.append(1 if int(h[0], 16) % 2 == 0 else -1)
        out.append(row)
    return out


# ---------------------------------------------------------------------------
# Exact near-duplicate pairs via IVF cell blocking (complete by construction)
# ---------------------------------------------------------------------------

def _sample_centroids(embs: DataFrame, n_cells: int):
    """Deterministic data-sampled centroids: the n_cells vectors with the
    smallest xxhash64(vec_id) (TakeOrdered — top-K tree aggregation, no full
    sort), L2-normalized. Sampling from the data (instead of random
    directions) makes the cell caps tight on clustered embeddings, which is
    what makes the triangle-inequality pruning bite. Control-plane payload:
    n_cells × dim doubles. Returns None on an empty input (callers produce
    an empty result instead of crashing on np.stack([]))."""
    import numpy as np

    rows = (
        embs.select("vec_id", "embedding")
        .orderBy(F.xxhash64("vec_id"), "vec_id")
        .limit(n_cells)
        .collect()
    )
    if not rows:
        return None
    mat = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    nrm = np.linalg.norm(mat, axis=1)
    nrm[nrm == 0.0] = 1.0
    return (mat / nrm[:, None]).T  # (dim, C)


# Centroid-block width for the assignment matmul: bounds the (batch × block)
# scratch at 64k-row Arrow batches to 64k × 1024 doubles = 512 MB worst case
# — independent of n_cells, so C can grow to 10⁵+ without per-task OOM.
_ASSIGN_BLOCK = 1024


def _assign_cells(embs: DataFrame, cents) -> DataFrame:
    """Add (cell, cap_cos, nrm): nearest centroid, the vector's cosine to
    it, and the ordered-fold L2 norm (the ``_norm_col`` twin — computed in
    the same Arrow pass so callers skip a whole interpreted-fold projection,
    round 6 guide §4.2). Vectorized Arrow batch matmul, blocked over
    centroid columns so scratch memory is O(batch × _ASSIGN_BLOCK), not
    O(batch × C)."""
    from pyspark.sql.functions import pandas_udf

    schema = StructType(
        [StructField("cell", IntegerType()), StructField("cap_cos", DoubleType()),
         StructField("nrm", DoubleType())]
    )

    @pandas_udf(schema)
    def assign(col):
        import numpy as np
        import pandas as pd

        if len(col) == 0:
            return pd.DataFrame({"cell": pd.Series([], dtype="int32"),
                                 "cap_cos": pd.Series([], dtype="float64"),
                                 "nrm": pd.Series([], dtype="float64")})
        mat = np.stack(col.to_numpy()).astype(np.float64)  # (n, dim)
        n = mat.shape[0]
        C = cents.shape[1]
        best = np.full(n, -np.inf)
        cell = np.zeros(n, dtype=np.int32)
        for c0 in range(0, C, _ASSIGN_BLOCK):
            sims = mat @ cents[:, c0:c0 + _ASSIGN_BLOCK]  # (n, block)
            bm = sims.max(axis=1)
            ba = sims.argmax(axis=1).astype(np.int32) + c0
            upd = bm > best  # strict: keeps the FIRST argmax, like np.argmax
            cell[upd] = ba[upd]
            best[upd] = bm[upd]
        nrm = np.linalg.norm(mat, axis=1)
        zero = nrm == 0.0
        nrm[zero] = 1.0
        cap = best / nrm
        cap[zero] = -1.0  # zero vectors: full cap, never pruned
        return pd.DataFrame({"cell": cell, "cap_cos": cap,
                             "nrm": _ordered_nrm_np(mat)})

    return embs.withColumn("_a", assign(F.col("embedding"))).select(
        "*", F.col("_a.cell").alias("cell"), F.col("_a.cap_cos").alias("cap_cos"),
        F.col("_a.nrm").alias("nrm"),
    ).drop("_a")


# Above this cell count the candidate-pair grid moves off the driver: the
# C×C triangle-inequality test runs as a Spark join over the C-row cell
# table instead of one driver-side ndarray (which at C=10⁵ would be 10¹⁰
# doubles — driver OOM).
_DRIVER_GRID_MAX_CELLS = 1024


def _candidate_cell_pairs(cell_stats: list, threshold: float, cents) -> list:
    """Complete candidate cell pairs: (i, j) survives iff two vectors in the
    caps of cells i and j could still have cosine >= threshold, by the
    spherical triangle inequality  angle(a,b) >= angle(ci,cj) - phi_i - phi_j
    where phi = the cell's cap half-angle. Vectorized over the C×C grid —
    driver-side control plane, used only when C <= _DRIVER_GRID_MAX_CELLS
    (8 MB grid); larger C goes through _candidate_cell_pairs_spark."""
    import numpy as np

    if not cell_stats:
        return []
    ids = np.array([r[0] for r in cell_stats])
    caps = np.clip(np.array([r[1] for r in cell_stats]), -1.0, 1.0)
    sub = cents[:, ids]  # (dim, m) centroids of non-empty cells
    theta = np.arccos(np.clip(sub.T @ sub, -1.0, 1.0))
    phi = np.arccos(caps)
    t_ang = math.acos(max(-1.0, min(1.0, threshold)))
    ok = np.maximum(0.0, theta - phi[:, None] - phi[None, :]) <= t_ang + 1e-9
    ii, jj = np.nonzero(ok)
    return [(int(ids[i]), int(ids[j])) for i, j in zip(ii, jj)]


def _candidate_cell_pairs_spark(spark, cell_stats: list, threshold: float,
                                cents) -> list:
    """Same predicate as _candidate_cell_pairs, evaluated on the DATA plane:
    the C-row (cell, cap, centroid) table is self-joined in Spark and the
    spherical-triangle-inequality test runs in a vectorized Arrow batch UDF,
    so no C×C ndarray ever exists on the driver — driver memory stays O(C)
    for the cell table plus O(surviving pairs) for the result (the same
    payload the broadcast join needs anyway). The join is a broadcast nested
    loop over C control-plane rows (NOT the N-row data tables — the q24 main
    plan stays BNLJ-free; asserted in tests)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if not cell_stats:
        return []
    t_ang = math.acos(max(-1.0, min(1.0, threshold)))

    cells = spark.createDataFrame(
        pd.DataFrame({
            "cell": [int(r[0]) for r in cell_stats],
            "cap": [float(r[1]) for r in cell_stats],
            "cent": [cents[:, int(r[0])].tolist() for r in cell_stats],
        }),
        schema="cell int, cap double, cent array<double>",
    )

    @pandas_udf("boolean")
    def survives(cent_a, cap_a, cent_b, cap_b):
        import numpy as np

        if len(cent_a) == 0:
            return pd.Series([], dtype="bool")
        ca = np.stack(cent_a.to_numpy())
        cb = np.stack(cent_b.to_numpy())
        theta = np.arccos(np.clip(np.einsum("ij,ij->i", ca, cb), -1.0, 1.0))
        phi_a = np.arccos(np.clip(cap_a.to_numpy(), -1.0, 1.0))
        phi_b = np.arccos(np.clip(cap_b.to_numpy(), -1.0, 1.0))
        return pd.Series(
            np.maximum(0.0, theta - phi_a - phi_b) <= t_ang + 1e-9
        )

    a = cells.select(F.col("cell").alias("ca"), F.col("cap").alias("pa"),
                     F.col("cent").alias("ea"))
    b = cells.select(F.col("cell").alias("cb"), F.col("cap").alias("pb"),
                     F.col("cent").alias("eb"))
    pairs = a.join(F.broadcast(b)).filter(
        survives(F.col("ea"), F.col("pa"), F.col("eb"), F.col("pb"))
    )
    return [(int(r["ca"]), int(r["cb"])) for r in pairs.select("ca", "cb").collect()]


def _np_cos_prefilter():
    """Arrow-vectorized numpy cosine over candidate pairs — the cheap first
    pass. NOT authoritative (numpy sums pairwise, the ordered fold doesn't);
    callers keep a 1e-9 slack and re-check survivors with the exact fold."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def np_cos(ea, eb):
        import numpy as np
        import pandas as pd

        if len(ea) == 0:
            return pd.Series([], dtype="float64")
        a = np.stack(ea.to_numpy()).astype(np.float64)
        b = np.stack(eb.to_numpy()).astype(np.float64)
        na = np.linalg.norm(a, axis=1)
        nb = np.linalg.norm(b, axis=1)
        d = na * nb
        d[d == 0.0] = 1.0
        return pd.Series(np.einsum("ij,ij->i", a, b) / d)

    return np_cos


def cosine_neardup_pairs(
    embs: DataFrame, threshold: float = 0.999, n_cells: int = 32
) -> DataFrame:
    """Exact pairs with cosine >= threshold; identical output to brute force
    (equality-tested at 10k vectors), but candidates come from an equi-join
    on pruned IVF cell pairs instead of an all-pairs nested loop, and the
    candidate verification is two-tier: a vectorized numpy cosine with 1e-9
    slack first, then the authoritative ordered fold (bit-identical to the
    DuckDB oracle) on the survivors only.

    Scale path: centroid sampling is a top-K; assignment is one vectorized
    pass blocked over centroid columns (task memory independent of n_cells);
    cell stats are C rows of control-plane state; above
    _DRIVER_GRID_MAX_CELLS cells the candidate cell-pair pruning runs as a
    Spark join on the C-row cell table (no C² ndarray on the driver); the
    pair join shuffles on cell ids. At 10⁹ vectors raise ``n_cells`` so
    cells stay bounded and persist the assigned table to a staging location
    instead of localCheckpoint."""
    spark = embs.sparkSession
    cents = _sample_centroids(embs, n_cells)
    if cents is None:  # empty input
        return spark.createDataFrame([], "id_a bigint, id_b bigint")
    assigned = _assign_cells(
        embs.select("vec_id", "embedding"), cents
    ).localCheckpoint(eager=False)
    cell_rows = assigned.groupBy("cell").agg(
        F.min("cap_cos").alias("mc"), F.count(F.lit(1)).alias("n")
    ).collect()
    stats = [(int(r["cell"]), float(r["mc"])) for r in cell_rows]
    sizes = {int(r["cell"]): int(r["n"]) for r in cell_rows}
    if len(stats) <= _DRIVER_GRID_MAX_CELLS:
        cp = _candidate_cell_pairs(stats, threshold, cents)
    else:
        cp = _candidate_cell_pairs_spark(spark, stats, threshold, cents)
    if not cp:
        return spark.createDataFrame([], "id_a bigint, id_b bigint")
    # Grouped cell-pair scoring (round 6, the _grouped_pair_scores data
    # movement applied here): the old plan joined candidate rows into
    # per-PAIR rows carrying BOTH embedding arrays through an Arrow
    # prefilter — ~200M array pairs at sf1.0 (threshold 0.4 prunes few
    # cell pairs), measured ~100s. Now each vector ships ONCE per
    # candidate cell pair into one applyInPandas group; inside the worker
    # a blocked numpy matmul scores the |ci| x |cj| grid (NOT
    # authoritative — pairwise summation), survivors within the 1e-9
    # slack get the exact ascending-dimension fold (bit-identical to
    # _dot / the DuckDB oracle), and only (id_a, id_b) rows return.
    # Oversized pairs (combined cells above _GROUP_ROWS_MAX) keep the old
    # pair-join two-tier path — spills through Spark instead of one
    # worker's heap.
    upairs = sorted({(min(i, j), max(i, j)) for i, j in cp})
    small = [p for p in upairs
             if sizes.get(p[0], 0) + sizes.get(p[1], 0) <= _GROUP_ROWS_MAX]
    big = [p for p in upairs
           if sizes.get(p[0], 0) + sizes.get(p[1], 0) > _GROUP_ROWS_MAX]
    out = None
    if small:
        members = []
        for pid, (i, j) in enumerate(small):
            members.append((i, pid, 0))
            if j != i:
                members.append((j, pid, 1))
        mdf = F.broadcast(spark.createDataFrame(
            members, "cell int, pair_id int, side int"))
        rows = assigned.join(mdf, "cell").select(
            "pair_id", "side", "vec_id", "embedding", "nrm")
        thr = float(threshold)

        def score(pdf):
            import numpy as np
            import pandas as pd

            empty = pd.DataFrame({"id_a": pd.Series([], dtype="int64"),
                                  "id_b": pd.Series([], dtype="int64")})
            a = pdf[pdf["side"] == 0]
            b = pdf[pdf["side"] == 1]
            within = len(b) == 0
            if within:
                b = a
            if len(a) == 0 or len(b) == 0:
                return empty
            A = np.stack(a["embedding"].to_numpy()).astype(np.float64)
            B = np.stack(b["embedding"].to_numpy()).astype(np.float64)
            na = a["nrm"].to_numpy()
            nb = b["nrm"].to_numpy()
            aid = a["vec_id"].to_numpy()
            bid = b["vec_id"].to_numpy()
            dena = na.copy()
            dena[dena == 0.0] = 1.0  # mirror _np_cos_prefilter's 0-norm guard
            denb = nb.copy()
            denb[denb == 0.0] = 1.0
            parts = []
            for i0 in range(0, len(a), _SCORE_BLOCK):
                Ab = A[i0:i0 + _SCORE_BLOCK]
                approx = (Ab @ B.T) / np.multiply.outer(
                    dena[i0:i0 + _SCORE_BLOCK], denb)
                mask = approx >= thr - 1e-9
                ia, ib = np.nonzero(mask)
                if len(ia) == 0:
                    continue
                ia = ia + i0
                # exact ordered fold on survivors only (ascending dims —
                # bit-identical to the F.aggregate fold / DuckDB
                # list_sum); sub-blocked so a dense low-threshold group
                # cannot gather block x |B| embedding rows at once
                for s0 in range(0, len(ia), 1 << 18):
                    sa = ia[s0:s0 + (1 << 18)]
                    sb = ib[s0:s0 + (1 << 18)]
                    SA = A[sa]
                    SB = B[sb]
                    acc = np.zeros(len(sa), dtype=np.float64)
                    for d in range(A.shape[1]):
                        acc = acc + SA[:, d] * SB[:, d]
                    cos = acc / (na[sa] * nb[sb])
                    ida = aid[sa]
                    idb = bid[sb]
                    keep = (cos >= thr) & (ida != idb)
                    lo = np.minimum(ida[keep], idb[keep])
                    hi = np.maximum(ida[keep], idb[keep])
                    if within:
                        keep2 = lo < hi
                        lo, hi = lo[keep2], hi[keep2]
                    parts.append(pd.DataFrame({"id_a": lo, "id_b": hi}))
            if not parts:
                return empty
            res = pd.concat(parts, ignore_index=True)
            # within-cell grids score each unordered pair from both
            # orientations with identical cos — dedupe locally
            return res.drop_duplicates() if within else res

        out = rows.groupBy("pair_id").applyInPandas(
            score, "id_a bigint, id_b bigint"
        ).select("id_a", "id_b")
    if big:
        both = {(i, j) for i, j in big} | {(j, i) for i, j in big}
        cpdf = F.broadcast(spark.createDataFrame(
            sorted(both), "cell_a int, cp_cell_b int"))
        a = assigned.select(
            F.col("vec_id").alias("id_a"), F.col("embedding").alias("e_a"),
            F.col("nrm").alias("n_a"), F.col("cell").alias("cell_a"),
        )
        b = assigned.select(
            F.col("vec_id").alias("id_b"), F.col("embedding").alias("e_b"),
            F.col("nrm").alias("n_b"), F.col("cell").alias("cell_b"),
        )
        pairs = a.join(cpdf, "cell_a").join(
            b, (F.col("cp_cell_b") == F.col("cell_b"))
            & (F.col("id_a") < F.col("id_b"))
        )
        np_cos = _np_cos_prefilter()
        pre = pairs.filter(
            np_cos(F.col("e_a"), F.col("e_b")) >= threshold - 1e-9)
        cos = _dot(F.col("e_a"), F.col("e_b")) / (F.col("n_a") * F.col("n_b"))
        fb = (
            pre.withColumn("cos", cos)
            .filter(F.col("cos") >= threshold)
            .select("id_a", "id_b")
        )
        out = fb if out is None else out.unionByName(fb)
    return out


# ---------------------------------------------------------------------------
# ANN top-k
# ---------------------------------------------------------------------------

def ann_topk_ivf(embs: DataFrame, k: int = 5, n_cells: int = 16,
                 nprobe: int = 2) -> DataFrame:
    """IVF probe ANN — the inverted-file companion to the LSH path, fully
    PORTABLE so the DuckDB oracle reproduces it bit-for-bit:

    * centroids = the ``n_cells`` vectors with the smallest
      (md5(vec_id), vec_id) — deterministic data sampling both engines can
      compute (TakeOrdered in Spark; ORDER BY/LIMIT in SQL);
    * every vector's cell = argmax ordered-fold cosine to the centroids
      (ties -> lowest cell id) — the assignment ranking is a window over the
      N×C broadcast cross product, which IS the canonical O(N·C) IVF
      assignment cost;
    * each query probes its ``nprobe`` nearest cells and brute-forces only
      the vectors homed there; exact ordered-fold cosine + row_number rank.

    Scale notes: the centroid table is control-plane (C rows, the
    _sample_centroids convention); assignment is ONE vectorized Arrow pass
    per vector computing the ordered-fold cosine to every centroid and
    ranking the nprobe probes in-batch — bit-identical to the historical
    N×C crossJoin + interpreted fold + row_number window (the fold twin the
    oracle mirrors), but with no N×C row materialization, no window
    shuffle of N×C embedding copies, and no interpreted expression path
    (round 6, guide §4.1/§4.2: measured 10.0s -> ~1s at sf1.0). The
    candidate join is an equi-join on cell."""
    rows = (
        embs.select("vec_id", "embedding")
        .withColumn("h", F.md5(F.col("vec_id").cast("string")))
        .orderBy("h", "vec_id").limit(n_cells).collect()
    )
    if not rows:
        return embs.sparkSession.createDataFrame(
            [], "q_id bigint, neighbor_id bigint, rank int")
    # cell id = rank in (h, vec_id) order; c_n = the same ascending-dim
    # fold _norm_col computes (python float IS IEEE double, so the scalar
    # loop is the same add/mul sequence).
    cent_vecs = [[float(x) for x in r["embedding"]] for r in rows]
    cent_nrms = []
    for v in cent_vecs:
        acc = 0.0
        for x in v:
            acc = acc + x * x
        cent_nrms.append(math.sqrt(acc))
    n_probe = min(nprobe, len(cent_vecs))

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("nrm double, cells array<int>")
    def assign(ecol):
        import numpy as np
        import pandas as pd

        if len(ecol) == 0:
            return pd.DataFrame({"nrm": pd.Series([], dtype="float64"),
                                 "cells": pd.Series([], dtype="object")})
        mat = np.stack(ecol.to_numpy()).astype(np.float64)
        nrm = _ordered_nrm_np(mat)
        C = len(cent_vecs)
        cos = np.empty((mat.shape[0], C), dtype=np.float64)
        for c in range(C):
            cos[:, c] = _ordered_fold_np(mat, cent_vecs[c]) / (
                nrm * cent_nrms[c])
        # rank = (cellcos desc, cell asc), NaN FIRST like Spark's desc
        # ordering (NaN sorts greatest): ascending key -cos with NaN
        # mapped to -inf.
        key = -cos
        key[np.isnan(key)] = -np.inf
        order = np.argsort(key, axis=1, kind="stable")[:, :n_probe]
        return pd.DataFrame({"nrm": nrm, "cells": list(order.astype("int32"))})

    asg = (
        embs.select("vec_id", "embedding")
        .withColumn("_a", assign(F.col("embedding")))
        .select(
            "vec_id", "embedding", F.col("_a.nrm").alias("nrm"),
            F.posexplode(F.col("_a.cells")).alias("_rn0", "cell"),
        )
        .withColumn("rn", F.col("_rn0") + 1)
        .localCheckpoint(eager=False)
    )
    # Candidate scoring is GROUP-shaped (see _grouped_pair_scores): each
    # cell's home vectors + probing queries meet in one applyInPandas group
    # — no pair join ever duplicates the embedding arrays. A (q, v) pair
    # appears in exactly one group (v is homed in one cell), so no dedupe.
    home = asg.filter(F.col("rn") == 1).select(
        "cell", F.lit(0).alias("role"), "vec_id", "embedding", "nrm"
    )
    probe = asg.select(
        "cell", F.lit(1).alias("role"), "vec_id", "embedding", "nrm"
    )
    scored = _grouped_pair_scores(home.unionByName(probe), ["cell"],
                              topk=k)
    return _rank_topk(scored, k)


def _band_bucket(e: str, signs_band: list[list[int]]):
    """Hyperplane-sign bucket for ONE band from its ±1 plane rows.
    The per-plane projection is an ordered fold over products — bit-exact in
    DuckDB (list_transform + list_sum), so buckets match across engines."""
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


def band_plane_signs(n_planes: int, n_bands: int, dim: int) -> list[list[list[int]]]:
    """Per-band plane rows: band b uses global planes
    [b*n_planes, (b+1)*n_planes) of ``plane_signs`` — one shared generator
    for engine and oracle, so all bands' buckets are portable."""
    all_signs = plane_signs(n_planes * n_bands, dim)
    return [all_signs[b * n_planes:(b + 1) * n_planes] for b in range(n_bands)]


def ann_topk_lsh(embs: DataFrame, k: int = 5, n_planes: int = 6,
                 dim: int = 64, n_bands: int = 1) -> DataFrame:
    """Multi-band hyperplane-LSH approximate top-k (the minhash_lsh_pairs
    shape applied to ANN): ``n_bands`` independent plane-sets of
    ``n_planes`` planes each; candidates are pairs sharing ANY band's bucket
    (OR across bands — per-band equi-join, distinct); survivors get exact
    ordered-fold cosines and a per-query rank.

    Scale economics: per-band cost is O(Σ|bucket|²) with 2^n_planes buckets
    — raise ``n_planes`` so buckets stay executor-sized (candidate count
    drops ~2× per plane) and raise ``n_bands`` to recover the recall that
    sharper buckets lose (recall ≈ 1-(1-s^P)^B for pair similarity s). The
    within-bucket wall round 2 flagged is gone: unlike a single wide-bucket
    band, bands-of-sharp-buckets keeps BOTH population and recall bounded.

    Output keeps (rank) and drops the raw cosine: ranking order is
    bit-identical across engines (ordered folds), which is what the oracle
    checks; the float itself stays out of hashed results.

    Plan (round 6, guide §4.1/§4.2): the per-band bucket used to be
    n_bands × n_planes interpreted ``F.aggregate`` folds per row
    (higher-order functions are CodegenFallback — the whole projection ran
    interpreted); buckets and the norm now come from ONE vectorized Arrow
    pass whose per-plane accumulation is the same ascending-dimension
    add/mul sequence (bit-identical, asserted in test_datapipe;
    ``_band_bucket`` stays as the plan-transparent reference twin)."""
    bands = band_plane_signs(n_planes, n_bands, dim)

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("nrm double, buckets array<int>")
    def bucketize(ecol):
        import numpy as np
        import pandas as pd

        if len(ecol) == 0:
            return pd.DataFrame({"nrm": pd.Series([], dtype="float64"),
                                 "buckets": pd.Series([], dtype="object")})
        mat = np.stack(ecol.to_numpy()).astype(np.float64)
        nrm = _ordered_nrm_np(mat)
        out = np.zeros((mat.shape[0], len(bands)), dtype=np.int32)
        for b, planes in enumerate(bands):
            bits = np.zeros(mat.shape[0], dtype=np.int32)
            for p, row in enumerate(planes):
                comp = _ordered_fold_np(mat, [float(s) for s in row])
                bits = bits + np.where(comp > 0, np.int32(1 << p),
                                       np.int32(0))
            out[:, b] = bits
        return pd.DataFrame({"nrm": nrm, "buckets": list(out)})

    n = (
        embs.select("vec_id", "embedding")
        .withColumn("_bb", bucketize(F.col("embedding")))
        .select("vec_id", "embedding", F.col("_bb.nrm").alias("nrm"),
                F.col("_bb.buckets").alias("_buckets"))
        .localCheckpoint(eager=False)  # buckets computed once
    )
    long = n.select(
        "vec_id", "embedding", "nrm",
        F.posexplode("_buckets").alias("band_id", "bucket"),
    )
    # Group-shaped scoring (see _grouped_pair_scores): every (band, bucket)
    # population scores its own pair matrix in one applyInPandas group —
    # the arrays ship once per bucket member, never once per pair. A pair
    # sharing several bands is scored once per band with BIT-IDENTICAL cos
    # (same ordered accumulation), so the cross-band dedupe is a plain
    # groupBy min (any value is THE value).
    scored = _grouped_pair_scores(long, ["band_id", "bucket"],
                              symmetric=True, topk=k)
    dedup = scored.groupBy("q_id", "vec_id").agg(F.min("cos").alias("cos"))
    return _rank_topk(dedup, k)
