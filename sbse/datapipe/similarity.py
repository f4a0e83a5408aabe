"""Similarity search over embedding columns (array<float>).

* ``cosine_neardup_pairs`` — EXACT cosine near-duplicate pairs with a
  scale-sane plan: an IVF-style spherical-cell blocking whose candidate
  cell pairs are pruned by the spherical triangle inequality (one driver
  test over row blocks of the cell grid, never a C×C array), so the result
  is provably identical to brute force (the DuckDB oracle stays all-pairs)
  while the physical plan is an equi-join on cell ids — shuffled hash /
  sort-merge, never BroadcastNestedLoopJoin. At 100 TB with clustered
  embeddings most cell pairs are pruned; on adversarially isotropic data it
  degrades to a blocked (still equi-join) pair enumeration, never a driver
  cartesian.
* ``ann_topk_ivf`` — IVF probe ANN with portable centroids and cells.
* ``ann_topk_lsh`` — the exposed ANN path: random-hyperplane LSH with
  md5-derived ±1 plane signs (portable — the DuckDB oracle reproduces the
  buckets bit-exactly), bucket equi-join, within-bucket brute force.

Every dot product and norm is one ascending-dimension multiply-add fold:
``_fold`` in numpy, ``_dot`` (``F.aggregate`` over ``F.zip_with``) in
Catalyst. Both do one IEEE double multiply and add per dimension in the
same order, so they are bit-identical to each other and to the DuckDB
oracle's ordered ``list_sum``. Both cell-blocked operators take their
centroids from ``_sample_centroids``, and every group too big for one
Python worker is scored by ``_pair_join_scores``.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType, DoubleType


def _fold(a, b):
    """sum_j a[..., j] * b[..., j] in ascending j, leading axes broadcast —
    the numpy twin of ``_dot``: the same IEEE multiply and add per
    dimension in the same sequence, hence bit-identical to it (asserted in
    tests). The per-dimension loop is deliberate: a matmul would
    reassociate the additions (pairwise/SIMD) and change last-ulp results.
    ``tmp`` and ``acc`` are preallocated and updated in place, so a
    block-sized accumulator stays in cache across the passes instead of
    allocating fresh temporaries per dimension."""
    import numpy as np

    shape = np.broadcast_shapes(a.shape[:-1], b.shape[:-1])
    acc = np.zeros(shape)
    tmp = np.empty(shape)
    for j in range(a.shape[-1]):
        np.multiply(a[..., j], b[..., j], out=tmp)
        np.add(acc, tmp, out=acc)
    return acc


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


# Group-size cap of the applyInPandas scorers: a group ships whole to one
# Python worker, so a skewed (band, bucket), a hot IVF cell or a big cell
# pair must not be unbounded (a degenerate bucket — e.g. all-zero
# embeddings — would OOM the worker). Groups above the cap are scored by
# _pair_join_scores instead: same bit-identical fold, spills through
# Spark's operators.
_GROUP_ROWS_MAX = 100_000
# q-row block width of the numpy grids: bounds the scratch to
# _SCORE_BLOCK x |group| doubles instead of |q| x |h|, and keeps _fold's
# accumulator resident in cache across the per-dimension passes (at 2048
# the acc/tmp pair spilled to RAM every pass; measured: q31's 16-cell
# scorer ~9s, blocked + in-place ~1s).
_SCORE_BLOCK = 256


def _pair_join_scores(rows: DataFrame, keys: list[str],
                      symmetric: bool) -> DataFrame:
    """The scorer for groups above _GROUP_ROWS_MAX: a plain equi-join on
    the group keys + the Catalyst fold ``_dot``. Bit-identical cosines to
    ``_fold``; ships each vector once per pair, but spills through Spark's
    join/shuffle machinery instead of one worker's heap — the right trade
    ONLY for degenerate hot groups. ``rows`` as in ``_grouped_pair_scores``;
    returns (q_id, vec_id, cos) without self-pairs."""
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
                         topk: int | None = None) -> DataFrame:
    """Per-group pair scoring WITHOUT the array-duplicating pair join: one
    ``applyInPandas`` per group ships every vector ONCE (not once per
    candidate pair) and scores its (query, neighbor) grid with ``_fold``
    in _SCORE_BLOCK query rows at a time, so the cosines are BIT-identical
    to ``_dot`` and the DuckDB oracle. Only (q_id, vec_id, cos) rows come
    back. (Measured on 500k candidates: interpreted fold 3.2s, unrolled
    64-term expression 7.0s, per-pair Arrow numpy 9.1s — the group shape
    wins by moving each array once, not by its arithmetic.)

    ``rows``: (keys..., role, vec_id, embedding, nrm); role 0 = candidate
    neighbor ("home"), role 1 = query. ``symmetric=True`` treats every row
    as both (LSH buckets). Self-pairs are dropped.

    Group size is ENFORCED, not assumed: a (keys)->count aggregation finds
    the groups above _GROUP_ROWS_MAX (a control-plane collect of at most
    total_rows/_GROUP_ROWS_MAX key tuples), and their rows are scored by
    ``_pair_join_scores``.

    ``topk``: when set, each group emits only every query's top-``topk``
    neighbors by the SAME total order downstream ranking uses (cos desc,
    NaN first, vec_id asc). Lossless for a final per-query top-k over the
    union of groups: a pair's rank within one group (a subset of the
    query's candidates) is <= its global rank, so every global top-k pair
    survives its group cut (q31 at sf1.0: ~50M rows out of Python -> ~200k).
    Oversized groups emit all their pairs (more rows, same final rank)."""

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
            cos = _fold(Ab[:, None, :], B[None, :, :]) / np.multiply.outer(
                q["nrm"].to_numpy()[i0:i0 + nb], hn
            )
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
        .filter(F.col("_n") > _GROUP_ROWS_MAX).select(*keys).collect()
    )
    if not big:
        return rows.groupBy(*keys).applyInPandas(
            score, "q_id bigint, vec_id bigint, cos double")
    bigdf = F.broadcast(
        rows.sparkSession.createDataFrame(big, rows.select(*keys).schema))
    scored = rows.join(bigdf, keys, "left_anti").groupBy(*keys).applyInPandas(
        score, "q_id bigint, vec_id bigint, cos double")
    over = rows.join(bigdf, keys, "left_semi")
    return scored.unionByName(_pair_join_scores(over, keys, symmetric))


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


def _sample_centroids(embs: DataFrame, n_cells: int):
    """The centroid sample of both IVF operators: the ``n_cells`` vectors
    with the smallest (md5(vec_id), vec_id), as a (C, dim) float64 array in
    that order (cell id = row). The order is portable — the DuckDB oracle
    of q31 samples with ORDER BY/LIMIT on the same key — and Spark plans it
    as TakeOrdered (top-K tree aggregation, no full sort). Sampling from
    the data (instead of random directions) makes the cell caps tight on
    clustered embeddings. Returns None on an empty input."""
    import numpy as np

    rows = (
        embs.select("vec_id", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(n_cells)
        .collect()
    )
    if not rows:
        return None
    return np.stack([np.asarray(r["embedding"], dtype=np.float64)
                     for r in rows])


# ---------------------------------------------------------------------------
# Exact near-duplicate pairs via IVF cell blocking (complete by construction)
# ---------------------------------------------------------------------------

# Centroid-block width for the assignment matmul: bounds the (batch × block)
# scratch at 64k-row Arrow batches to 64k × 1024 doubles = 512 MB worst case
# — independent of n_cells, so C can grow to 10⁵+ without per-task OOM.
_ASSIGN_BLOCK = 1024


def _assign_cells(embs: DataFrame, cents) -> DataFrame:
    """Add (cell, cap_cos, nrm): nearest unit centroid (``cents`` is
    (dim, C)), the vector's cosine to it, and its ``_fold`` L2 norm, in
    one vectorized Arrow pass. The nearest-centroid matmul is blocked over
    centroid columns, so scratch memory is O(batch × _ASSIGN_BLOCK), not
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
        nrm = np.sqrt(_fold(mat, mat))
        zero = nrm == 0.0
        # zero vectors: full cap, never pruned
        cap = np.where(zero, -1.0, best / np.where(zero, 1.0, nrm))
        return pd.DataFrame({"cell": cell, "cap_cos": cap, "nrm": nrm})

    return embs.withColumn("_a", assign(F.col("embedding"))).select(
        "*", F.col("_a.cell").alias("cell"), F.col("_a.cap_cos").alias("cap_cos"),
        F.col("_a.nrm").alias("nrm"),
    ).drop("_a")


# Row-block height of the candidate cell-pair test: each block's scratch is
# _GRID_BLOCK x C doubles (2 MB at C = 1,024), so the driver never holds the
# C x C grid (10^10 doubles at C = 10^5).
_GRID_BLOCK = 256


def _candidate_cell_pairs(cell_stats: list, threshold: float, cents) -> list:
    """Complete candidate cell pairs: (i, j) survives iff two vectors in the
    caps of cells i and j could still have cosine >= threshold, by the
    spherical triangle inequality  angle(a,b) >= angle(ci,cj) - phi_i - phi_j
    where phi = the cell's cap half-angle. Driver-side control plane,
    vectorized over row blocks of the C x C test: scratch is
    O(_GRID_BLOCK x C), the result O(surviving pairs)."""
    import numpy as np

    if not cell_stats:
        return []
    ids = np.array([r[0] for r in cell_stats])
    caps = np.clip(np.array([r[1] for r in cell_stats]), -1.0, 1.0)
    sub = cents[:, ids]  # (dim, m) centroids of non-empty cells
    phi = np.arccos(caps)
    t_ang = math.acos(max(-1.0, min(1.0, threshold)))
    out = []
    for r0 in range(0, len(ids), _GRID_BLOCK):
        blk = slice(r0, r0 + _GRID_BLOCK)
        theta = np.arccos(np.clip(sub[:, blk].T @ sub, -1.0, 1.0))
        ok = (np.maximum(0.0, theta - phi[blk, None] - phi[None, :])
              <= t_ang + 1e-9)
        ii, jj = np.nonzero(ok)
        out.extend(zip(ids[r0 + ii].tolist(), ids[jj].tolist()))
    return out


def cosine_neardup_pairs(
    embs: DataFrame, threshold: float = 0.999, n_cells: int = 32
) -> DataFrame:
    """Exact pairs with cosine >= threshold; identical output to brute force
    (equality-tested at 10k vectors), but candidates come from pruned IVF
    cell pairs instead of an all-pairs nested loop.

    Centroids are ``_sample_centroids``, L2-normalized here; the output
    cannot depend on which centroids come back, because the pruning is
    complete and the final cosine filter is exact. Every candidate cell
    pair whose cells together hold at most _GROUP_ROWS_MAX rows is one
    applyInPandas group: each vector ships ONCE per candidate cell pair, a
    blocked numpy matmul prefilters the |ci| x |cj| grid with 1e-9 slack
    (NOT authoritative — pairwise summation), survivors get the exact
    ``_fold`` cosine (bit-identical to ``_dot`` / the DuckDB oracle), and
    only (id_a, id_b) rows return. Larger cell pairs go through
    ``_pair_join_scores``.

    Scale path: centroid sampling is a top-K; assignment is one vectorized
    pass blocked over centroid columns (task memory independent of n_cells);
    cell stats are C rows of control-plane state; the candidate cell-pair
    pruning runs on the driver in row blocks (O(_GRID_BLOCK x C) scratch,
    no C² ndarray); the groups shuffle on cell-pair ids. At 10⁹ vectors
    raise ``n_cells`` so cells stay bounded and persist the assigned table
    to a staging location instead of localCheckpoint."""
    import numpy as np

    spark = embs.sparkSession
    sample = _sample_centroids(embs, n_cells)
    if sample is None:  # empty input
        return spark.createDataFrame([], "id_a bigint, id_b bigint")
    c_nrm = np.sqrt(_fold(sample, sample))
    c_nrm[c_nrm == 0.0] = 1.0
    cents = (sample / c_nrm[:, None]).T  # (dim, C) unit centroids
    assigned = _assign_cells(
        embs.select("vec_id", "embedding"), cents
    ).localCheckpoint(eager=False)
    cell_rows = assigned.groupBy("cell").agg(
        F.min("cap_cos").alias("mc"), F.count(F.lit(1)).alias("n")
    ).collect()
    stats = [(int(r["cell"]), float(r["mc"])) for r in cell_rows]
    sizes = {int(r["cell"]): int(r["n"]) for r in cell_rows}
    cp = _candidate_cell_pairs(stats, threshold, cents)
    if not cp:
        return spark.createDataFrame([], "id_a bigint, id_b bigint")
    upairs = sorted({(min(i, j), max(i, j)) for i, j in cp})

    def group_rows(p):  # a within-cell group ships its cell's rows once
        return sizes.get(p[0], 0) + (sizes.get(p[1], 0) if p[1] != p[0] else 0)

    small = [p for p in upairs if group_rows(p) <= _GROUP_ROWS_MAX]
    big = [p for p in upairs if group_rows(p) > _GROUP_ROWS_MAX]
    thr = float(threshold)
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
            # zero norms divide by 1 so the prefilter never computes 0/0
            dena = np.where(na == 0.0, 1.0, na)
            denb = np.where(nb == 0.0, 1.0, nb)
            parts = []
            for i0 in range(0, len(a), _SCORE_BLOCK):
                Ab = A[i0:i0 + _SCORE_BLOCK]
                approx = (Ab @ B.T) / np.multiply.outer(
                    dena[i0:i0 + _SCORE_BLOCK], denb)
                ia, ib = np.nonzero(approx >= thr - 1e-9)
                # exact fold on survivors only; sub-blocked so a dense
                # low-threshold group cannot gather block x |B| embedding
                # rows at once
                for s0 in range(0, len(ia), 1 << 18):
                    sa = i0 + ia[s0:s0 + (1 << 18)]
                    sb = ib[s0:s0 + (1 << 18)]
                    cos = _fold(A[sa], B[sb]) / (na[sa] * nb[sb])
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
        # role-split groups, one per ORIENTED cell pair: both orientations
        # of each oversized pair, as a set, so a within-cell pair (i, i) is
        # one group; q_id < vec_id then keeps each vector pair once
        oriented = sorted({(i, j) for i, j in big} | {(j, i) for i, j in big})
        members = [m for pid, (i, j) in enumerate(oriented)
                   for m in ((i, pid, 1), (j, pid, 0))]
        mdf = F.broadcast(spark.createDataFrame(
            members, "cell int, pair_id int, role int"))
        rows = assigned.join(mdf, "cell").select(
            "pair_id", "role", "vec_id", "embedding", "nrm")
        fb = (
            _pair_join_scores(rows, ["pair_id"], symmetric=False)
            .filter((F.col("cos") >= thr) & (F.col("q_id") < F.col("vec_id")))
            .select(F.col("q_id").alias("id_a"), F.col("vec_id").alias("id_b"))
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

    * centroids = ``_sample_centroids`` (cell id = sample order);
    * every vector probes the ``nprobe`` cells with the largest fold cosine
      (ties -> lowest cell id) and is homed in the first;
    * each query brute-forces only the vectors homed in its probed cells;
      exact fold cosine + row_number rank.

    Assignment is ONE vectorized Arrow pass: a single (batch, C) ``_fold``
    gives the cosine to every centroid, and the probes are ranked
    in-batch — bit-identical to an N×C crossJoin + interpreted fold +
    row_number window (what the oracle runs), with no N×C rows (measured
    10.0s -> ~1s at sf1.0). The candidate join is an equi-join on cell."""
    import numpy as np

    cents = _sample_centroids(embs, n_cells)
    if cents is None:
        return embs.sparkSession.createDataFrame(
            [], "q_id bigint, neighbor_id bigint, rank int")
    c_nrm = np.sqrt(_fold(cents, cents))
    n_probe = min(nprobe, len(cents))

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("nrm double, cells array<int>")
    def assign(ecol):
        import numpy as np
        import pandas as pd

        if len(ecol) == 0:
            return pd.DataFrame({"nrm": pd.Series([], dtype="float64"),
                                 "cells": pd.Series([], dtype="object")})
        mat = np.stack(ecol.to_numpy()).astype(np.float64)
        nrm = np.sqrt(_fold(mat, mat))
        cos = _fold(mat[:, None, :], cents[None, :, :]) / np.multiply.outer(
            nrm, c_nrm)
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
    fold cosines and a per-query rank.

    Scale economics: per-band cost is O(Σ|bucket|²) with 2^n_planes buckets
    — raise ``n_planes`` so buckets stay executor-sized (candidate count
    drops ~2× per plane) and raise ``n_bands`` to recover the recall that
    sharper buckets lose (recall ≈ 1-(1-s^P)^B for pair similarity s).

    Output keeps (rank) and drops the raw cosine: ranking order is
    bit-identical across engines (ordered folds), which is what the oracle
    checks; the float itself stays out of hashed results.

    Buckets and the norm come from ONE vectorized Arrow pass: one
    (batch, n_bands × n_planes) ``_fold`` against the ±1 planes, the same
    ascending-dimension sequence as the DuckDB oracle's per-plane
    ``list_sum``, so the buckets match across engines (checked by oracle
    parity). Per-row ``F.aggregate`` folds would run the whole projection
    interpreted (higher-order functions are CodegenFallback)."""
    import numpy as np

    planes = np.array(band_plane_signs(n_planes, n_bands, dim),
                      dtype=np.float64).reshape(n_bands * n_planes, dim)
    weights = 1 << np.arange(n_planes)

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("nrm double, buckets array<int>")
    def bucketize(ecol):
        import numpy as np
        import pandas as pd

        if len(ecol) == 0:
            return pd.DataFrame({"nrm": pd.Series([], dtype="float64"),
                                 "buckets": pd.Series([], dtype="object")})
        mat = np.stack(ecol.to_numpy()).astype(np.float64)
        nrm = np.sqrt(_fold(mat, mat))
        up = _fold(mat[:, None, :], planes[None, :, :]) > 0
        bits = (up.reshape(len(mat), n_bands, n_planes) * weights).sum(axis=2)
        return pd.DataFrame({"nrm": nrm, "buckets": list(bits.astype(np.int32))})

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
