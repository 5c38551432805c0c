"""IVF+PQ composed index — the canonical billion-scale ANN recipe.

Extension beyond the reference (driver north star: "an IVF or LSH-bucketed
variant as the scale path"). The reference ships IVF-style coarse search and
PQ separately; composing them (Jegou et al. 2011, "Product Quantization for
Nearest Neighbor Search", the FAISS IVFPQ design) is what actually serves at
100 TB:

- **coarse quantizer** (IVF): nlist centroids; a query probes only the
  nprobe nearest cells — with the encoded table written PARTITIONED BY cell
  (ivf.ivf_write layout), the probe filter is partition pruning: zero I/O
  for unprobed cells.
- **residual PQ**: each vector is encoded as PQ codes of its RESIDUAL
  r = x - centroid[cell]. Residuals are centered near zero with far smaller
  spread than raw vectors, so the same codebook budget quantizes them much
  more finely — the reason the composition beats flat PQ at equal bytes.
- **ADC search**: per probed cell, the query's residual q - centroid[cell]
  gives an m x k' lookup table; distances are LUT sums over code bytes —
  the scan reads only (cell_id, m-byte code) rows of the probed cells.
- **rerank tier**: ADC shortlist -> exact float rerank via an id point-join
  (same shape as quantization.pq_search_rerank) — the serving default, so
  the tier meets the repo's >= 0.8 recall evidence bar on hard data.

Scan shape at 100 TB: read nprobe/nlist of the partitions, each row costing
m bytes (dim*4/m compression); the float table is touched for `shortlist`
rows only. Both trainers are the deterministic sampled one-pass paths
(hash-ordered sample + seeded driver Lloyd), so recall measurements are
reproducible run to run — gate-able as literal oracle rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from neighborly_spark.functions.distance import euclidean
from neighborly_spark.operators.ivf import CLUSTER_COL, IVFModel, ivf_assign, ivf_train_sampled
from neighborly_spark.operators.partitioning import widen_for_python_stage
from neighborly_spark.operators.quantization import PQModel, pq_train_sampled

CODE_COL = "pq_code"
#: queries per LUT chunk inside the (cell, salt) cogroup tasks — bounds
#: the broadcast-subtract intermediate at chunk x m x k' x sub_dim doubles
#: (~70 MB at 8x256x8) regardless of query fan-in. Bit-identical math.
_LUT_QUERY_CHUNK = 512

#: code-row tile of the ADC accumulation loop (see _adc_dists): sized so
#: the (tile, chunk) float64 accumulator (1 MB at 256 x 512) stays
#: cache-resident across the m subspace adds. The m transposed LUT blocks
#: (k' x chunk doubles each, 1 MB at 256 x 512) total about m MB and are
#: streamed, not cache-resident; only the accumulator's residency matters
_ADC_ROW_TILE = 256


def _residual_luts(res2d, books, books_sq, m, sub_dim, kp):
    """(n, m, k') squared-distance LUTs for (n, dim) float64 residuals via
    the expansion form ||r-c||^2 = r.r - 2 r.c + c.c — one batched einsum
    (BLAS) instead of the broadcast-subtract that materializes an
    (n, m, k', sub_dim) intermediate (round 11: measured ~2.5x per chunk
    at m=8, k'=256, sub_dim=8). Entries are clamped at 0 (the expansion
    can round a true 0 to -1e-16, and downstream takes sqrt of LUT sums).
    This is THE LUT definition for every numpy ADC tier — the cogroup
    path and the snapshot tier both reach it through _score_sorted_codes,
    so their distances stay bit-equal by construction (test-gated)."""
    import numpy as np

    r = res2d.reshape(len(res2d), m, sub_dim)
    rsq = np.einsum("nms,nms->nm", r, r)
    cross = np.einsum("nms,mks->nmk", r, books)
    return np.maximum(rsq[:, :, None] - 2.0 * cross + books_sq[None, :, :], 0.0)


def _adc_dists(ld, idx_s, m):
    """(chunk, n) ADC distance sums: for each code row, gather its m LUT
    entries and accumulate SEQUENTIALLY over subspaces (s ascending).

    Gather layout (round 11, second pass): the earlier
    ``ld[:, idx_s[:, s]]`` column gather strides m*k'*8 bytes (16 KB at
    8x256) per accessed element over a chunk x m*k' C-ordered LUT — a
    cache-hostile pattern that saturates DRAM with many concurrent
    python workers (measured 16-way: 6.3 s vs 1.8 s per 24-chunk group).
    Instead, transpose each subspace's k' x chunk LUT block into a
    contiguous ~1 MB buffer and gather whole ROWS of it (each gathered
    row is one contiguous chunk-length run).

    Row tiling (round 12, third pass): accumulating the full (n, chunk)
    matrix in one sweep per subspace re-reads and re-writes the ~19 MB
    accumulator m times — at 16-32 concurrent workers that accumulator
    traffic, not the gathers, was the DRAM wall (interleaved contended
    microbench at n=4700, chunk=512: 619 -> 109 ms/chunk median).
    Tiling the code rows keeps a (tile, chunk) accumulator cache-resident
    across all m subspace adds and writes each output element ONCE. Each
    element's addends and their s-ascending order are unchanged, so sums
    stay bit-equal (microbench array_equal-verified and test-gated)."""
    import numpy as np

    kp = ld.shape[1] // m
    lt = ld.reshape(len(ld), m, kp).transpose(1, 2, 0)  # (m, k', chunk) views
    blocks = [np.ascontiguousarray(lt[s]) for s in range(m)]
    n = len(idx_s)
    dist_t = np.empty((n, ld.shape[0]), dtype=ld.dtype)
    for b0 in range(0, n, _ADC_ROW_TILE):
        b1 = min(b0 + _ADC_ROW_TILE, n)
        acc = blocks[0][idx_s[b0:b1, 0]]  # (tile, chunk) contiguous rows
        for s in range(1, m):
            acc += blocks[s][idx_s[b0:b1, s] - s * kp]
        dist_t[b0:b1] = acc
    return np.ascontiguousarray(dist_t.T)


def _topk_stable(dist, fetch):
    """Exactly np.argsort(dist, axis=1, kind='stable')[:, :fetch] — the
    (value, position) lexicographic top-fetch — via argpartition + a
    bounded stable sort (round 11: ~4x cheaper than the full row argsort
    at n~2-5k, fetch=50). Rows whose boundary ties straddle the partition
    (more values equal to the kth than the candidate set holds — which
    ties were kept would then depend on partition internals, not
    position) fall back to the full stable argsort: exactness first, and
    such rows need duplicate ADC sums exactly at the boundary."""
    import numpy as np

    n = dist.shape[1]
    if n <= fetch:
        return np.argsort(dist, axis=1, kind="stable")
    part = np.argpartition(dist, fetch - 1, axis=1)[:, :fetch]
    part.sort(axis=1)  # position order -> stable tie-break within the set
    vals = np.take_along_axis(dist, part, axis=1)
    sub = np.argsort(vals, axis=1, kind="stable")
    order = np.take_along_axis(part, sub, axis=1)
    kth = np.take_along_axis(vals, sub[:, -1:], axis=1)[:, 0]
    n_eq_all = (dist == kth[:, None]).sum(axis=1)
    n_eq_sel = (vals == kth[:, None]).sum(axis=1)
    bad = np.nonzero((n_eq_all != n_eq_sel) | np.isnan(kth))[0]
    for i in bad:
        order[i] = np.argsort(dist[i], kind="stable")[:fetch]
    return order


def _score_sorted_codes(
    qids, qv, cell, ids_s, idx_s, fetch, coarse, books, m, sub_dim, kp, id_col
):
    """Score one cell's (id-sorted) code rows against a query block and
    return each query's top-``fetch`` (dist, id) rows as a pandas frame —
    THE shared ADC kernel of the cogroup path (ivfpq_knn_join) and the
    worker-resident snapshot tier (ivfpq_knn_join_snapshot), factored so
    the two are bit-equal by construction.

    Task-local residual LUTs from the broadcast codebooks (round-6
    VERDICT 1: never driver-side), computed in bounded QUERY CHUNKS
    (round 8): per-task intermediates stay ~chunk-sized at 100k-query
    fan-in (measured: 10k->100k queries took the whole join 19 s ->
    464 s unchunked — memory thrash, not compute). Round 11 rebuilt the
    per-chunk math on three measured wins with the SAME results contract:
    _residual_luts (einsum expansion, ~2.5x), _adc_dists (sequential 2D
    gathers, no 3D intermediate), _topk_stable (partition select, ~4x).
    ``ids_s``/``idx_s`` are the cell's ids
    and flat-gather indexes PRE-SORTED by id (stable), so the stable
    top-fetch breaks distance ties in id order — exactly
    lexsort((ids, dist)) per query."""
    import numpy as np
    import pandas as pd

    books_sq = np.einsum("mks,mks->mk", books, books)
    out_q: list = []
    out_i: list = []
    out_d: list = []
    for start in range(0, len(qv), _LUT_QUERY_CHUNK):
        qb = qv[start : start + _LUT_QUERY_CHUNK]
        lut = _residual_luts(qb - coarse[cell], books, books_sq, m, sub_dim, kp)
        ld = lut.reshape(len(qb), m * kp)
        dist = _adc_dists(ld, idx_s, m)  # (chunk, n)
        order = _topk_stable(dist, fetch)
        sel_d = np.take_along_axis(dist, order, axis=1)  # (chunk, f)
        nf = order.shape[1]
        out_q.append(np.repeat(qids[start : start + len(qb)], nf))
        out_i.append(ids_s[order].reshape(-1))
        out_d.append(np.sqrt(sel_d).reshape(-1))
    return pd.DataFrame(
        {
            "query_id": np.concatenate(out_q),
            id_col: np.concatenate(out_i),
            "dist": np.concatenate(out_d),
        }
    )


class IVFPQModel:
    """Coarse quantizer + residual product quantizer pair, optionally
    preceded by an OPQ rotation (round 9, beyond-reference): ``rotation``
    is a dim x dim ORTHOGONAL matrix R (Ge et al. 2013, "Optimized
    Product Quantization", the non-parametric OPQ / FAISS OPQMatrix
    design) learned so that x @ R balances variance across the m
    subspaces — the classic fix for PQ's weakness on anisotropic or
    correlated-dimension data at ZERO extra code bytes. When set, the
    coarse quantizer and codebooks live in ROTATED space; every consumer
    rotates queries/vectors through ``rotate()`` before probing or
    encoding. Orthogonality preserves euclidean distances exactly, so
    ADC distances keep their meaning and the exact-float rerank stays on
    the ORIGINAL vectors unchanged."""

    def __init__(self, ivf: IVFModel, pq: PQModel, rotation=None):
        self.ivf = ivf
        self.pq = pq
        #: list[list[float]] | None — kept as plain lists for snapshot JSON
        self.rotation = (
            [list(map(float, row)) for row in rotation] if rotation is not None else None
        )

    def rotate(self, x):
        """x @ R for a (n, dim) float64 array; identity when no rotation."""
        if self.rotation is None:
            return x
        import numpy as np

        return x @ np.asarray(self.rotation, dtype=np.float64)

    def compression_ratio(self, dim: int) -> float:
        # float32*dim bytes -> m code bytes + the (cheap) cell id
        return (dim * 4.0) / self.pq.m


def opq_train_rotation(
    df: DataFrame,
    dim: int,
    m: int | None = None,
    num_centroids: int = 256,
    vec_col: str = "embedding",
    seed: int = 42,
    iters: int = 8,
    inner_lloyd_iters: int = 10,
    sample_size: int = 65_536,
):
    """Non-parametric OPQ (Ge et al. 2013 §4, alternating optimization):
    learn an orthogonal R minimizing PQ reconstruction error of X @ R.

    Same scale posture as the repo's other trainers: ONE deterministic
    hash-ordered sample pass, then driver-side numpy. Init is the paper's
    PARAMETRIC eigenvalue allocation (§3.2): PCA the sample, then greedily
    hand eigen-directions (descending eigenvalue) to the subspace with the
    smallest current variance PRODUCT — measured on this repo's synthetic
    geometries it does most of the work (flat-PQ quantization MSE 5.21 ->
    2.49 mixed-anisotropic, 2.69 -> 0.07 concentrated; identity-init
    alternation alone stalls near R=I). Then ``iters`` rounds of
    non-parametric alternation refine it: (a) m per-subspace Lloyd
    codebooks under the current R, (b) the orthogonal-Procrustes update
    R = U V^T from SVD(X^T Y) where Y is the decoded reconstruction.
    Seeds are fixed per (iteration, subspace) and the eigendecomposition
    is deterministic, so the rotation is bit-reproducible run to run.
    Returns a (dim, dim) numpy array.

    This trains the ROTATION only; ivfpq_train(opq=True) then fits the
    production coarse quantizer + residual codebooks on the rotated
    column with its usual (larger-budget) trainers."""
    import numpy as np

    from neighborly_spark.operators.quantization import (
        _lloyd,
        finite_vector_pred,
        pq_auto_subvectors,
    )

    if m is None:
        m = pq_auto_subvectors(dim)
    sub_dim = dim // m
    sample_size = min(sample_size, 128 * num_centroids)
    sample = (
        df.select(F.col(vec_col).alias("_v"))
        .filter(finite_vector_pred(F.col("_v")))
        .withColumn("_h", F.xxhash64(F.col("_v")))
        .orderBy("_h")
        .limit(sample_size)
        .collect()
    )
    if not sample:
        raise ValueError(
            "opq_train_rotation: no finite vectors to train on (empty "
            "table or every row has a NaN/Inf element)"
        )
    x = np.asarray([r._v for r in sample], dtype=np.float64)  # (n, dim)
    n = x.shape[0]
    k = min(num_centroids, max(2, n))
    # parametric init: eigenvalue allocation (balanced variance products)
    xc = x - x.mean(axis=0)
    w, v = np.linalg.eigh(xc.T @ xc / max(1, n))
    order = np.argsort(w)[::-1]
    w, v = w[order], v[:, order]
    buckets: list[list[int]] = [[] for _ in range(m)]
    logprod = np.zeros(m)
    for i in range(dim):
        b = min(
            (bb for bb in range(m) if len(buckets[bb]) < sub_dim),
            key=lambda bb: logprod[bb],
        )
        buckets[b].append(i)
        logprod[b] += np.log(max(w[i], 1e-12))
    r = v[:, [i for b in buckets for i in b]]
    for it in range(iters):
        xr = x @ r
        y = np.empty_like(xr)  # decoded reconstruction under current R
        for s in range(m):
            xs = xr[:, s * sub_dim : (s + 1) * sub_dim]
            centers = _lloyd(
                xs, k, np.random.RandomState(seed + it * m + s), inner_lloyd_iters
            )
            # nearest-center assignment via the expansion form (n x k)
            d = (
                (xs * xs).sum(axis=1)[:, None]
                - 2.0 * (xs @ centers.T)
                + (centers * centers).sum(axis=1)[None, :]
            )
            y[:, s * sub_dim : (s + 1) * sub_dim] = centers[d.argmin(axis=1)]
        # orthogonal Procrustes: min ||X R - Y||_F  ->  R = U V^T
        u, _s, vt = np.linalg.svd(x.T @ y)
        r = u @ vt
    return r


def _rotated_vectors(df: DataFrame, vec_col: str, rotation) -> DataFrame:
    """Single-column (vec_col) frame of x @ R via mapInPandas (one BLAS
    matmul per Arrow batch; the rotation is a dim x dim closure constant).
    Nulls pass through.

    mapInPandas ON PURPOSE, not a scalar pandas UDF column: a UDF column
    gets inlined by CollapseProject into downstream higher-order-function
    lambdas (the trainers' folds, _residual_expr's zip_with), where
    PythonUDF is Unevaluable — a plan-shape-dependent INTERNAL_ERROR that
    only surfaced when Catalyst picked the interpreted path (round-9
    full-suite flake). A mapInPandas node is a real plan operator whose
    OUTPUT is a plain attribute, so downstream lambdas can always
    reference it."""
    import numpy as np

    r_const = np.asarray(rotation, dtype=np.float64)

    def run(batches):
        import pandas as pd

        for pdf in batches:
            vals = pdf[vec_col].tolist()
            nn = [e for e in vals if e is not None]
            if nn:
                xr = iter(
                    (np.asarray(nn, dtype=np.float64) @ r_const).astype(np.float32)
                )
                # positional rebuild: a masked pandas assignment would
                # treat the list-of-arrays as a 2D block and reject it
                out = [next(xr).tolist() if e is not None else None for e in vals]
            else:
                out = [None] * len(vals)
            yield pd.DataFrame({vec_col: out})

    return df.select(vec_col).mapInPandas(run, f"{vec_col} array<float>")


def _residual_expr(vec_col: str, centroids: list[list[float]], cluster_col: str = CLUSTER_COL):
    """r = x - centroid[cell], as a pure Column zip_with against the
    broadcast centroid literals (JVM-side; null vec or null cell -> null)."""
    cents_lit = F.lit(centroids).cast("array<array<double>>")
    own = F.element_at(cents_lit, F.col(cluster_col) + 1)
    return F.zip_with(F.col(vec_col), own, lambda x, c: x.cast("double") - c)


def ivfpq_train(
    df: DataFrame,
    dim: int,
    nlist: int = 16,
    m: int | None = None,
    num_centroids: int = 256,
    vec_col: str = "embedding",
    seed: int = 42,
    coarse=None,
    opq: bool = False,
) -> IVFPQModel:
    """Train the coarse quantizer, then the PQ codebooks ON RESIDUALS:
    assign each vector its cell, subtract the cell centroid in-plan, and
    hand the residual column to the sampled PQ trainer. Two passes total
    (one sample scan each); both trainers are deterministic (hash-ordered
    samples, seeded Lloyd).

    ``coarse`` reuses a pre-fit IVFModel for the cell layer instead of
    fitting a new one (SearchService shares one coarse model per table
    version across ivf/ivfpq/spatial-hnsw — round-5 VERDICT 6). The
    trainers are deterministic, so on the same table this changes nothing
    but the fit cost.

    ``opq=True`` (round 9) first learns an orthogonal OPQ rotation
    (opq_train_rotation — one extra sample pass + driver numpy) and fits
    BOTH layers in rotated space; the model carries the rotation and
    every search path applies it to queries automatically. Recall gain
    is data-dependent: substantial on anisotropic/correlated dimensions,
    a no-op on isotropic data (test-gated). Incompatible with ``coarse``
    (a shared coarse model was fit in UNROTATED space)."""
    rotation = None
    if opq:
        if coarse is not None:
            raise ValueError(
                "opq=True cannot reuse a shared coarse model: it was fit "
                "in unrotated space; fit the ivfpq coarse layer fresh"
            )
        rotation = opq_train_rotation(
            df, dim, m=m, num_centroids=num_centroids, vec_col=vec_col, seed=seed
        )
        # single-column rotated view: the trainers below only consume
        # vec_col (+ the in-plan cell assignment)
        df = _rotated_vectors(df, vec_col, rotation)
    ivf = coarse if coarse is not None else ivf_train_sampled(
        df, nlist=nlist, vec_col=vec_col, seed=seed
    )
    assigned = ivf_assign(df, ivf, vec_col)
    residuals = assigned.select(
        _residual_expr(vec_col, ivf.centroids).alias("_res")
    )
    pq = pq_train_sampled(
        residuals, dim, m=m, num_centroids=num_centroids, vec_col="_res", seed=seed
    )
    return IVFPQModel(ivf, pq, rotation=rotation)


def ivfpq_encode(
    df: DataFrame,
    model: IVFPQModel,
    id_col: str = "id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One Arrow pass: assign the cell, form the residual, PQ-encode it.
    Returns (id, ivf_cluster, pq_code) — the index artifact (write it with
    ivf.ivf_write for the partition-pruned layout). Vectorized mapInPandas:
    a (batch x dim)@(dim x nlist) matmul for the assign plus m
    (batch x sub_dim)@(sub_dim x k') matmuls for the codes — the same
    throughput tier (and the same first-minimal-index tie contract) as
    ivf_assign_vectorized / pq_encode_vectorized, which the recall-gated
    consumers document. Null embeddings keep a null cell + null codes and
    rank last in every consumer."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    coarse = np.asarray(model.ivf.centroids, dtype=np.float64)  # (nlist, dim)
    coarse_sq = (coarse * coarse).sum(axis=1)
    books = [np.asarray(c, dtype=np.float64) for c in model.pq.centroids]  # m x (k', sub_dim)
    books_sq = [(c * c).sum(axis=1) for c in books]
    sub_dim, m = model.pq.sub_dim, model.pq.m
    rot = (
        np.asarray(model.rotation, dtype=np.float64)
        if model.rotation is not None
        else None
    )

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                valid = np.array(
                    [
                        v is not None
                        and bool(np.isfinite(np.asarray(v, dtype=np.float64)).all())
                        for v in pdf[vec_col]
                    ],
                    dtype=bool,
                )  # null OR non-finite rows get null codes (rank last)
                cells = pd.array([pd.NA] * len(pdf), dtype="Int32")
                out_codes: list = [None] * len(pdf)
                if valid.any():
                    x = np.asarray(
                        [np.asarray(v, dtype=np.float64) for v in pdf[vec_col][valid]]
                    )
                    if rot is not None:
                        x = x @ rot  # OPQ: encode in rotated space
                    d = coarse_sq[None, :] - 2.0 * (x @ coarse.T)
                    cell = d.argmin(axis=1)
                    res = x - coarse[cell]
                    codes = np.empty((len(x), m), dtype=np.int32)
                    for s in range(m):
                        rs = res[:, s * sub_dim : (s + 1) * sub_dim]
                        ds = books_sq[s][None, :] - 2.0 * (rs @ books[s].T)
                        codes[:, s] = ds.argmin(axis=1)
                    idx = np.nonzero(valid)[0]
                    cells[idx] = cell.astype(np.int32)
                    for j, row in zip(idx, codes):
                        out_codes[int(j)] = row
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col],
                        CLUSTER_COL: cells,
                        CODE_COL: out_codes,
                    }
                )
            else:
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col],
                        CLUSTER_COL: pd.Series([], dtype="int32"),
                        CODE_COL: pd.Series([], dtype="object"),
                    }
                )

    from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

    # FRESH StructType (StructType.add mutates in place)
    schema = StructType(
        [
            df.schema[id_col],
            StructField(CLUSTER_COL, IntegerType()),
            StructField(CODE_COL, ArrayType(IntegerType())),
        ]
    )
    return df.select(id_col, vec_col).mapInPandas(encode, schema)


def ivfpq_knn_join(
    encoded: DataFrame,
    model: IVFPQModel,
    queries,
    k: int,
    nprobe: int = 4,
    df: DataFrame | None = None,
    rerank: bool = True,
    shortlist: int | None = None,
    id_col: str = "id",
    vec_col: str = "embedding",
    data_salt: int = 8,
) -> DataFrame:
    """Batched IVFPQ search: top-k per query in ONE pass over the probed
    cells' code rows (the 100 TB serving shape, mirroring
    hnsw_search_batch). ``queries`` is a (query_id, query_embedding)
    DataFrame or a [(query_id, vector), ...] list; a list becomes a JVM
    LocalRelation (session.local_relation_queries) and takes the same
    path, so both input shapes give identical results.

    Stages (round-6 VERDICT 1 — a large query TABLE against the prebuilt
    index, zero query-side collects): probe-assign (mapInPandas, narrow;
    nprobe rows out per query) -> prune codes to the probed cells
    (broadcast semi join = partition pruning on an ivf_write layout) ->
    cogroup on (cell, salt), each task scoring ONE cell's code rows
    against the queries probing that cell with per-(query, cell) residual
    LUTs computed INSIDE the task from the broadcast codebooks, never on
    the driver -> bounded global merge -> optional exact rerank. Every
    driver-side object is model-sized (codebooks), never query- or
    data-sized. ``data_salt`` splits each cell's query fan-in across
    `data_salt` buckets (round 11: the QUERIES hash into one bucket each —
    the heavy embedding-carrying side shuffles once — while the m-byte
    code rows, the byte-small side, replicate across buckets; the snapshot
    tier's query_salt layout). Raise it to shorten stragglers at large
    per-cell query fan-in; cell CODE size is governed by nlist, the same
    sizing rule as the snapshot tier. Results are salt-invariant and
    bit-equal to the snapshot tier (shared kernel _score_sorted_codes —
    test-gated). Per-cell and global selection both order by (dist, id),
    so a query's candidates are its (dist, id)-first ADC rows over its
    probed cells whatever batch it rides in (ivfpq_search_rerank is this
    operator on a one-query batch).

    ``rerank=True`` (default, requires ``df``) reranks with exact float
    distances via an id join (nq x shortlist float rows).
    Returns (query_id, id, dist)."""
    import numpy as np
    import pandas as pd

    from neighborly_spark.session import local_relation_queries

    if data_salt < 1:
        raise ValueError("data_salt must be >= 1")
    spark = encoded.sparkSession
    if not isinstance(queries, DataFrame):
        queries = local_relation_queries(spark, queries, elem_type="double")
    m, sub_dim, kp = model.pq.m, model.pq.sub_dim, model.pq.num_centroids
    coarse = np.asarray(model.ivf.centroids, dtype=np.float64)
    books = np.stack([np.asarray(c, dtype=np.float64) for c in model.pq.centroids])
    fetch = max(shortlist if shortlist is not None else max(5 * k, 50), k) if rerank else k
    # widen a narrow query batch before the python probe stages: a cached
    # limit() table is ONE partition by construction and would serialize
    # probe-assign onto a single worker (partitioning.py, round 11)
    qsrc = widen_for_python_stage(queries.select("query_id", "query_embedding"))
    assigned = _probe_assign(qsrc, coarse, nprobe, rotation=model.rotation)
    # a query probing an EMPTY cell just yields a cogroup group with an
    # empty code side, which group_score returns empty from (flat-array
    # empty sides decode fine — the nested-array crash documented in
    # hnsw_add does not apply to array<int> codes, verified by test);
    # filtering such probes out would cost a full codes-table aggregate
    # per batch, a data-sized scan this serving path must not pay.
    # probed cells come from a CELLS-ONLY probe pass (round 11): the
    # distinct re-runs the probe subtree, and `assigned`'s subtree ships
    # every replicated query embedding through Arrow just to be thrown
    # away by the aggregate — _probe_cells_distinct repeats only the
    # narrow centroid matmul and emits one int column (the plan is left
    # uncached either way — an operator must not pin executor memory
    # behind the caller's back)
    probed = _probe_cells_distinct(
        qsrc, coarse, nprobe, rotation=model.rotation
    ).select(F.col("_cell").alias(CLUSTER_COL))
    # QUERY-SIDE salting (round 11, guide §2.2/§2.3): the embedding-
    # carrying query replicas are the heavy cogroup side (nq x nprobe x
    # dim float64), so they hash into ONE salt bucket each and shuffle
    # once; the m-byte code rows — the byte-small side — replicate across
    # the buckets instead (the old layout replicated the queries
    # data_salt-fold). Each (query, code) pair still meets in exactly one
    # group and per-(query, cell) residual LUTs are now computed once,
    # not once per salt; results are salt-invariant either way
    # (test-gated). Same layout as the snapshot tier's query_salt.
    salts = spark.range(data_salt).select(F.col("id").cast("int").alias("_salt"))
    assigned = assigned.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col("query_id")), F.lit(data_salt)).cast("int")
    )
    # project to the kernel's three columns BEFORE the cogroup shuffle:
    # artifacts built with tags_col (or loaded with passthrough columns)
    # would otherwise ship those bytes through the exchange for nothing
    flt = (
        encoded.join(F.broadcast(probed), CLUSTER_COL, "semi")
        .select(id_col, CLUSTER_COL, CODE_COL)
        .crossJoin(F.broadcast(salts))
    )

    def group_score(key: tuple, codes_pdf: pd.DataFrame, q_pdf: pd.DataFrame) -> pd.DataFrame:
        # a (cell, salt) bucket can have no queries (queries hash into one
        # bucket each) and a probed-but-empty cell has no codes; guard
        # both ways
        if len(codes_pdf) == 0 or len(q_pdf) == 0:
            return pd.DataFrame(columns=["query_id", id_col, "dist"])
        cell = int(key[0])
        qids = q_pdf["query_id"].to_numpy().astype(np.int64)
        qv = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in q_pdf["query_embedding"]]
        )
        codes = np.stack([np.asarray(c) for c in codes_pdf[CODE_COL]])
        ids = codes_pdf[id_col].to_numpy()
        idx = codes + (np.arange(m) * kp)[None, :]  # (n, m) flat gather
        # pre-sort the code rows by id ONCE: a stable argsort over the
        # distance matrix then breaks ties in id order — exactly
        # lexsort((ids, dist)) per query, but one vectorized C sort per
        # chunk instead of a python-loop lexsort per query (round 8: the
        # per-query loop was the dominant cost at 100k-query fan-in)
        perm = np.argsort(ids, kind="stable")
        ids_s = ids[perm]
        idx_s = idx[perm]
        return _score_sorted_codes(
            qids, qv, cell, ids_s, idx_s, fetch, coarse, books, m, sub_dim, kp, id_col
        )

    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    schema = StructType(
        [
            StructField("query_id", LongType()),
            encoded.schema[id_col],
            StructField("dist", DoubleType()),
        ]
    )
    # EXPLICIT repartition on the cogroup key (round 8, same AQE trap as
    # hnsw_search_batch_snapshot): both cogroup sides are byte-small (m-
    # byte codes; query rows), so AQE's byte-count shuffle coalescing
    # folds the exchange into a few partitions and serializes the python
    # scoring. A user repartition with an explicit count is exempt and
    # satisfies the required clustering; cell-count x salt caps the
    # useful width.
    n_parts = max(
        1,
        min(
            len(model.ivf.centroids) * data_salt,
            spark.sparkContext.defaultParallelism,
        ),
    )
    raw = (
        flt.repartition(n_parts, CLUSTER_COL, "_salt")
        .groupBy(CLUSTER_COL, "_salt")
        .cogroup(
            assigned.repartition(n_parts, "_cell", "_salt").groupBy("_cell", "_salt")
        )
        .applyInPandas(group_score, schema)
    )
    return _merge_and_rerank(raw, qsrc, fetch, k, rerank, df, id_col, vec_col)


def _probe_assign(qsrc: DataFrame, coarse, nprobe: int, rotation=None) -> DataFrame:
    """Vectorized probe-cell assignment over a (query_id, query_embedding)
    DataFrame: nprobe rows out per query, the nprobe nearest cells by
    squared centroid distance (stable argsort: ties go to the lower cell
    id) — the probe rule of both ivfpq serving tiers (cogroup and
    snapshot).
    ``rotation`` (OPQ) rotates the queries batch-side BEFORE probing; the
    emitted query_embedding is the ROTATED vector, so downstream residual
    LUTs stay in the codebooks' space with no second choke point."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    rot = np.asarray(rotation, dtype=np.float64) if rotation is not None else None

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            qv = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["query_embedding"]]
            )
            if rot is not None:
                qv = qv @ rot
            d = ((qv[:, None, :] - coarse[None, :, :]) ** 2).sum(-1)
            order = np.argsort(d, axis=1, kind="stable")[:, :nprobe]
            npb = order.shape[1]
            # emit the replicated embeddings as ndarray REFERENCES, never
            # .tolist() (round 11): materializing nq x nprobe x dim python
            # floats dominated the whole 100k-query batch entry (measured
            # 61-79 s of a ~120 s run just forcing this stage — ~25M boxed
            # floats per pass). np.repeat on an object array replicates
            # references; Arrow serializes ndarray cells directly. Values
            # are identical: with no rotation the input objects are reused
            # verbatim, with OPQ the rotated float64 rows are the same
            # numbers that .tolist() would have boxed.
            if rot is None:
                emb_src = pdf["query_embedding"].to_numpy()
            else:
                emb_src = np.empty(len(qv), dtype=object)
                for j in range(len(qv)):
                    emb_src[j] = qv[j]
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(
                        pdf["query_id"].to_numpy().astype(np.int64), npb
                    ),
                    "query_embedding": np.repeat(emb_src, npb),
                    "_cell": order.reshape(-1).astype(np.int32),
                }
            )

    return qsrc.mapInPandas(
        assign, "query_id long, query_embedding array<double>, _cell int"
    )


def _probe_cells_distinct(qsrc: DataFrame, coarse, nprobe: int, rotation=None) -> DataFrame:
    """Distinct probed cells of a (query_id, query_embedding) DataFrame as
    a one-column ``_cell int`` frame — the same squared-distance matrix +
    stable argsort as _probe_assign (so the cell SET is identical), but
    emitting only cell ids: the pruning semi-join's build side re-runs the
    probe subtree, and re-running _probe_assign there would ship every
    replicated query embedding through Arrow just to be aggregated away
    (round 11 — guide §4.2: pass only the columns the consumer needs)."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    rot = np.asarray(rotation, dtype=np.float64) if rotation is not None else None

    def cells(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            qv = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["query_embedding"]]
            )
            if rot is not None:
                qv = qv @ rot
            d = ((qv[:, None, :] - coarse[None, :, :]) ** 2).sum(-1)
            order = np.argsort(d, axis=1, kind="stable")[:, :nprobe]
            yield pd.DataFrame(
                {"_cell": np.unique(order.reshape(-1)).astype(np.int32)}
            )

    return qsrc.mapInPandas(cells, "_cell int").distinct()


def _merge_and_rerank(
    raw: DataFrame,
    qsrc: DataFrame,
    fetch: int,
    k: int,
    rerank: bool,
    df: DataFrame | None,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Bounded global merge of per-group ADC candidates — identical across
    the cogroup and snapshot paths, so the final candidate set (a
    (dist, id)-sorted top-fetch per query) is equal — plus the optional
    exact-float rerank (id join the float table for nq x fetch rows; no
    forced broadcast — the query table may be data-sized, AQE picks)."""
    payload = F.struct(F.col("dist"), F.col(id_col).alias("id"))
    merged = raw.groupBy("query_id").agg(
        F.slice(F.array_sort(F.collect_list(payload)), 1, fetch).alias("_cand")
    )
    cand = merged.select("query_id", F.explode("_cand").alias("_c")).select(
        "query_id", F.col("_c.id").alias(id_col), F.col("_c.dist").alias("dist")
    )
    if not rerank:
        return cand
    if df is None:
        raise ValueError("rerank=True needs the float table (df)")
    qdf = qsrc.select("query_id", F.col("query_embedding").alias("_qvec"))
    joined = (
        df.select(F.col(id_col), F.col(vec_col))
        .join(cand.select("query_id", id_col), id_col)
        .join(qdf, "query_id")
    )
    d = euclidean(F.col(vec_col), F.col("_qvec").cast("array<float>"))
    scored = joined.select("query_id", id_col, d.alias("dist"))
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc_nulls_last(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


#: Rehydrated snapshot cells for the worker-resident serving tier
#: (ivfpq_knn_join_snapshot) live in the SHARED byte-budgeted worker
#: cache (operators.worker_cache, round 9 — r8 VERDICT 4: the old
#: 64-entry count cap plus the hnsw tiers' own caps overshot executor
#: memory under co-residency), keyed ("ivfpq", path, cell, version) —
#: the version pins the artifact+model pairing, so the cached flat-gather
#: indexes (which bake in the model's m x k' layout) can never serve a
#: retrained index. Entry bytes = ids + gather indexes (cell_rows x
#: (8 + 8m)) + parsed tag sets, charged at load.
#: Per-worker hit/miss counters (test observability; reset freely).
_SNAPSHOT_CELL_STATS = {"hits": 0, "misses": 0}
#: Driver-side memo of saved code tables' schemas, keyed (path, version).
_SNAPSHOT_SCHEMAS: dict = {}


def _confirm_missing(part: str) -> bool:
    """Explicit existence probe for a cell partition directory: True ONLY
    when the filesystem positively reports NotFound. An OSError whose
    message merely *looks* like a 404 is not proof — an eventually-
    consistent object store can surface a transient NoSuchKey for a cell
    that exists, and caching that as a permanently-empty cell silently
    drops its candidates for the worker's lifetime (round-9 ADVICE). If
    the probe itself fails, the caller re-raises and Spark retries."""
    import pyarrow as pa
    from pyarrow import fs as pafs

    try:
        fsys, rel = pafs.FileSystem.from_uri(part)
    except (ValueError, pa.ArrowInvalid):
        fsys, rel = pafs.LocalFileSystem(), part
    return fsys.get_file_info(rel).type == pafs.FileType.NotFound


def _load_snapshot_cell(
    path: str, cell: int, version: str, id_col: str, m: int, kp: int,
    vec_col: str = "embedding",
):
    """Worker-side load of ONE cell's code rows from its parquet partition
    directory (pyarrow, no Spark plan involved), LRU-cached per worker.
    Returns (ids_s, idx_s, tags_by_col): the cell's ids sorted ascending
    (stable), the matching flat-gather LUT indexes — the exact
    precomputation group_score does per task, done once per
    (cell, version) per worker — and every TAG-shaped passthrough column
    (list-typed — tags, round 9) parsed to id-sorted frozensets via
    the hnsw snapshot tier's parser. Column-pruned at the parquet read
    (round-9 ADVICE): only id, code, and list-typed columns OTHER THAN
    ``vec_col`` are fetched — the embedding payload a generic ivf_write
    layout may carry never leaves storage (ADC needs codes only, rerank
    joins the caller's df), while float-typed TAG columns stay
    filterable (pruning by element type would silently drop them — the
    hnsw tier's mask supports kind=float; round-10 review). ONE entry per
    (path, cell, version, vec_col) with tags parsed unconditionally (the
    round-7 VERDICT 8 rule: filtered-after-unfiltered must serve warm).
    A cell no row was assigned to has no partition directory: cached as
    empty (queries probing it contribute no candidates, same as the
    cogroup path's empty code side)."""
    import numpy as np

    from neighborly_spark.operators.worker_cache import WORKER_CACHE

    key = ("ivfpq", path, int(cell), version, vec_col)
    hit = WORKER_CACHE.get(key)
    if hit is None:
        import pyarrow as pa
        import pyarrow.dataset as pds

        part = f"{path}/{CLUSTER_COL}={int(cell)}"
        try:
            dset = pds.dataset(part, format="parquet")
            core = {id_col, CODE_COL, CLUSTER_COL, vec_col}
            keep = [id_col, CODE_COL] + [
                f.name
                for f in dset.schema
                if f.name not in core
                and (pa.types.is_list(f.type) or pa.types.is_large_list(f.type))
            ]
            tbl = dset.to_table(columns=keep)
        except FileNotFoundError:
            tbl = None
        except OSError as e:
            # non-local filesystems (S3/HDFS) surface a missing partition
            # directory as ArrowIOError/OSError subclasses, not always
            # FileNotFoundError — an empty cell must contribute no
            # candidates. But ONLY POSITIVELY CONFIRMED nonexistence may
            # be treated (and cached!) as empty: a transient read error
            # converted to a cached 0-row cell would silently drop that
            # cell's candidates for the worker's lifetime (round-9
            # review finding; the probe replaced the round-9 message-
            # substring match per ADVICE). Anything else re-raises and
            # lets Spark retry.
            import errno

            if getattr(e, "errno", None) == errno.ENOENT or _confirm_missing(part):
                tbl = None
            else:
                raise
        if tbl is None or tbl.num_rows == 0:
            hit = (np.empty(0, dtype=np.int64), np.empty((0, m), dtype=np.int64), {})
        else:
            from neighborly_spark.operators.hnsw import _parse_tag_columns

            ids = tbl[id_col].to_numpy()
            code_arr = tbl[CODE_COL].combine_chunks()
            # fixed-length-m lists: flatten via Arrow values, reshape
            codes = code_arr.flatten().to_numpy().reshape(len(ids), m)
            perm = np.argsort(ids, kind="stable")
            ids_s = ids[perm]
            idx_s = codes[perm] + (np.arange(m) * kp)[None, :]
            tags_by_col = {
                name: ([tags[i] for i in perm], kind)
                for name, (tags, kind) in _parse_tag_columns(
                    tbl, {id_col, CODE_COL, CLUSTER_COL}
                ).items()
            }
            hit = (ids_s, idx_s, tags_by_col)
        from neighborly_spark.operators.hnsw import _tags_nbytes

        WORKER_CACHE.put(
            key,
            hit,
            int(hit[0].nbytes + hit[1].nbytes) + _tags_nbytes(hit[2]),
        )
        _SNAPSHOT_CELL_STATS["misses"] += 1
    else:
        _SNAPSHOT_CELL_STATS["hits"] += 1
    return hit


def ivfpq_knn_join_snapshot(
    spark,
    codes_path: str,
    model: IVFPQModel,
    queries,
    k: int,
    version: str,
    nprobe: int = 4,
    df: DataFrame | None = None,
    rerank: bool = True,
    shortlist: int | None = None,
    id_col: str = "id",
    vec_col: str = "embedding",
    query_salt: int = 1,
    tag_any: list | None = None,
    tag_all: list | None = None,
    tags_col: str = "tags",
) -> DataFrame:
    """Serve a SAVED ivfpq index (SearchService.save layout:
    partitionBy(ivf_cluster) parquet) with ZERO code bytes in the plan —
    the ivfpq twin of hnsw_search_batch_snapshot, and the durable-serving
    shape at 100 TB: the applyInPandas input is only the (query_id,
    embedding, cell) probe assignments (query-sized x nprobe); each
    worker reads its cell's immutable parquet directly and keeps the
    id-sorted code matrix hot in a per-worker LRU keyed by the snapshot
    ``version``. The cogroup path (ivfpq_knn_join) re-shuffles the
    probed cells' code rows on EVERY batch — right for fresh in-memory
    artifacts, a per-batch re-ship of a static artifact
    when serving a durable index (exactly the tax the hnsw snapshot tier
    eliminated for graphs; here it is m+8 bytes/row instead of ~20
    MB/shard, so the win is proportionally smaller but the shape is the
    one that scales: code bytes move executor<-storage once per worker
    per version).

    ``queries`` is a [(query_id, vector), ...] list or a (query_id,
    query_embedding) DataFrame; probe assignment, ADC scoring (shared
    kernel _score_sorted_codes), merge, and rerank are the cogroup
    path's, so results are bit-equal to ivfpq_knn_join (test-gated).
    ``query_salt=s`` splits each cell's query fan-in across s tasks
    (straggler lever at large fan-in, same rationale + measured A/B as
    the hnsw snapshot tier's knob — hash repartition, results
    salt-invariant). Memory: cells live in the shared byte-budgeted
    worker cache (operators.worker_cache) charged at cell_rows x
    ~(8 + 8m) bytes each; at 100 TB pick nlist so cells fit the budget
    (the same nlist sizing rule as the cogroup path).

    ``tag_any`` / ``tag_all`` (round 9, r8 VERDICT 2 — the hnsw snapshot
    tier's recipe): when the saved code table carries ``tags_col`` (the
    service-built artifact does, search_service build_index), the allowed
    mask is evaluated WORKER-SIDE over the cell's cached frozensets and
    applied to (ids_s, idx_s) BEFORE ADC scoring — disallowed rows can
    never crowd the shortlist, and the snapshot keeps its zero-reship
    property under filtered serving. The masked ids stay id-sorted, so
    the stable (dist, id) tiebreak — and hence bit-equality with the
    in-memory cogroup path over the pushdown-filtered artifact — is
    preserved. Raises in the task if the snapshot lacks ``tags_col``
    (same contract as hnsw_search_batch_snapshot)."""
    from neighborly_spark.session import local_relation_queries

    import numpy as np

    m, sub_dim, kp = model.pq.m, model.pq.sub_dim, model.pq.num_centroids
    coarse = np.asarray(model.ivf.centroids, dtype=np.float64)
    books = np.stack([np.asarray(c, dtype=np.float64) for c in model.pq.centroids])
    fetch = max(shortlist if shortlist is not None else max(5 * k, 50), k) if rerank else k
    qsrc = (
        # widen a narrow query batch before the python probe stage
        # (partitioning.py, round 11); list inputs stay local relations
        widen_for_python_stage(queries.select("query_id", "query_embedding"))
        if isinstance(queries, DataFrame)
        else local_relation_queries(spark, queries)
    )
    assigned = _probe_assign(qsrc, coarse, nprobe, rotation=model.rotation)
    if query_salt > 1:
        assigned = assigned.withColumn(
            "_qsalt", F.pmod(F.xxhash64(F.col("query_id")), F.lit(int(query_salt)))
        )
        keys = ["_cell", "_qsalt"]
    else:
        keys = ["_cell"]

    import pandas as pd

    filtered = bool(tag_any) or bool(tag_all)
    # sorted-set literal normalization, same as the hnsw snapshot tier
    any_t = sorted(set(tag_any)) if tag_any else None
    all_t = sorted(set(tag_all)) if tag_all else None

    def per_cell(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        cell = int(key[0])
        ids_s, idx_s, tags_by_col = _load_snapshot_cell(
            codes_path, cell, version, id_col, m, kp, vec_col
        )
        if filtered and len(ids_s):
            from neighborly_spark.operators.hnsw import _tags_allowed_mask

            tags, kind = tags_by_col.get(tags_col, (None, None))
            if tags is None:
                raise ValueError(
                    f"snapshot at {codes_path!r} has no {tags_col!r} column; "
                    "rebuild + re-save the ivfpq index with tags to serve "
                    "tag-filtered queries from the snapshot"
                )
            mask = _tags_allowed_mask(tags, any_t, all_t, kind)
            ids_s, idx_s = ids_s[mask], idx_s[mask]
        if len(ids_s) == 0 or len(pdf) == 0:
            return pd.DataFrame(columns=["query_id", id_col, "dist"])
        qids = pdf["query_id"].to_numpy().astype(np.int64)
        qv = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in pdf["query_embedding"]]
        )
        return _score_sorted_codes(
            qids, qv, cell, ids_s, idx_s, fetch, coarse, books, m, sub_dim, kp, id_col
        )

    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    # the artifact's own id type: a parquet schema read lists the files in
    # a Spark job, so it runs once per (path, version) — a version pins its
    # artifact
    key = (codes_path, version)
    if key not in _SNAPSHOT_SCHEMAS:
        _SNAPSHOT_SCHEMAS[key] = spark.read.parquet(codes_path).schema
    id_field = _SNAPSHOT_SCHEMAS[key][id_col]
    schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField(id_col, id_field.dataType),
            StructField("dist", DoubleType()),
        ]
    )
    # EXPLICIT repartition on the group key — the assignment frame is
    # query-sized and byte-small (the codes stay on disk), so AQE's
    # byte-count coalescing would serialize the python scoring (the
    # round-8 lesson, same as hnsw_search_batch_snapshot)
    n_groups = max(1, len(model.ivf.centroids) * max(1, int(query_salt)))
    n_parts = min(n_groups, spark.sparkContext.defaultParallelism)
    raw = (
        assigned.repartition(n_parts, *keys)
        .groupBy(*keys)
        .applyInPandas(per_cell, schema)
    )
    return _merge_and_rerank(raw, qsrc, fetch, k, rerank, df, id_col, vec_col)


def ivfpq_search_rerank(
    df: DataFrame,
    encoded: DataFrame,
    model: IVFPQModel,
    query_vec: list[float],
    k: int,
    nprobe: int = 4,
    shortlist: int | None = None,
    id_col: str = "id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One query's ADC shortlist -> exact float rerank (the serving
    default): ivfpq_knn_join on a one-query batch, returned as
    (id, dist) in (dist, id) order."""
    return (
        ivfpq_knn_join(
            encoded, model, [(0, query_vec)], k, nprobe=nprobe, df=df,
            shortlist=shortlist, id_col=id_col, vec_col=vec_col,
        )
        .drop("query_id")
        .orderBy(F.col("dist").asc(), F.col(id_col).asc())
    )
