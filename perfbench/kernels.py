"""Single-threaded microbench of the numpy kernels behind the ANN
workloads, at the shapes those workloads give them.

Run as ``python3 -m perfbench.kernels --seed N`` from the repository root
with one BLAS thread (the traced run starts it that way); prints one JSON
object: per kernel, the median time in ms over repeats, the operation
count (millions of floating-point operations or element updates) and the
bytes the kernel reads and writes (MB, computed from the shapes).
"""

from __future__ import annotations

import argparse
import json
import statistics
import time

import numpy as np

from perfbench import inputs
from perfbench.workloads import K, SIZES


def _time(fn, repeats: int) -> float:
    out = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    return statistics.median(out) * 1e3


def ivfpq_shapes(rows: int, queries: int) -> dict:
    """The shapes one ivfpq_serve cell task sees: nlist 16 cells,
    nprobe 10, PQ with the engine's auto sub-vector count and 256
    centroids, a shortlist of max(5k, 50)."""
    from neighborly_spark.operators.ivfpq import _LUT_QUERY_CHUNK
    from neighborly_spark.operators.quantization import pq_auto_subvectors

    nlist, nprobe = 16, 10
    m = pq_auto_subvectors(inputs.DIM)
    return {
        "m": m, "sub_dim": inputs.DIM // m, "kp": 256, "cell_rows": rows // nlist,
        "chunk": min(_LUT_QUERY_CHUNK, queries * nprobe // nlist), "fetch": max(5 * K, 50),
        "lloyd_rows": min(rows, 128 * 256),
    }


def run(seed: int) -> dict:
    from neighborly_spark.operators import hnsw as HN
    from neighborly_spark.operators.ivfpq import _adc_dists, _residual_luts, _topk_stable
    from neighborly_spark.operators.quantization import _lloyd

    size = SIZES["ivfpq_serve"]
    sh = ivfpq_shapes(size["rows"], size["queries"])
    m, sd, kp, n, ch, fetch = sh["m"], sh["sub_dim"], sh["kp"], sh["cell_rows"], sh["chunk"], sh["fetch"]
    vi = inputs.vectors(seed, size["rows"], size["queries"])
    rng = np.random.default_rng([seed, 4])
    x = vi.table.astype(np.float64)
    books = np.stack([x[rng.choice(len(x), kp, replace=False), s * sd:(s + 1) * sd] for s in range(m)])
    books_sq = np.einsum("mks,mks->mk", books, books)
    res = vi.queries[:ch].astype(np.float64) - x[:1]
    idx = rng.integers(0, kp, (n, m)) + np.arange(m) * kp
    lut = _residual_luts(res, books, books_sq, m, sd, kp).reshape(ch, m * kp)
    dist = _adc_dists(lut, idx, m)
    out = {}
    f8 = 8 / 2**20
    out["residual_luts"] = (
        _time(lambda: _residual_luts(res, books, books_sq, m, sd, kp), 20),
        (2 * ch * m * kp * sd + 4 * ch * m * kp) / 1e6,
        (res.size + books.size + books_sq.size + ch * m * kp) * f8,
    )
    out["adc_dists"] = (
        _time(lambda: _adc_dists(lut, idx, m), 20),
        n * ch * m / 1e6,
        (2 * lut.size + n * ch * m + 2 * n * ch) * f8 + idx.size * f8,
    )
    out["topk_stable"] = (
        _time(lambda: _topk_stable(dist, fetch), 20),
        dist.size / 1e6,
        (dist.size + ch * fetch * 3) * f8,
    )
    sub = x[: sh["lloyd_rows"], :sd]
    iters = 50  # pq_train_sampled's max_iter: the count is an upper bound
    out["lloyd"] = (
        _time(lambda: _lloyd(sub, kp, np.random.RandomState(42), iters), 3),
        iters * 3 * len(sub) * kp * sd / 1e6,
        iters * (len(sub) * kp + sub.size) * f8,
    )
    hs = SIZES["hnsw_serve"]
    hvi = inputs.vectors(seed, hs["rows"], hs["queries"])
    shard = hvi.table[: hs["rows"] // hs["shards"]].astype(np.float64)
    g = HN._ShardGraph(shard, HN.M_DEFAULT, HN.MAX_M0_DEFAULT, HN.EF_CONSTRUCTION_DEFAULT,
                       HN.ML_DEFAULT, np.random.RandomState(42))
    for i in range(len(shard)):
        g.insert(i)
    g.finalize()
    qs = hvi.queries[:200].astype(np.float64)
    visited = []

    def searches():
        for q in qs:
            g.search(q, K, hs["ef"])
            visited.append(int((g.visit_tag == g.epoch).sum()))

    ms = _time(searches, 3) / len(qs)
    v = statistics.mean(visited)
    out["shard_search"] = (ms, 3 * v * inputs.DIM / 1e6, v * inputs.DIM * 4 / 2**20)
    return {
        f"kernel.{'build' if k == 'lloyd' else 'serve_warm'}.{k}_{unit}": val
        for k, vals in out.items()
        for unit, val in zip(("ms", "mops", "mb"), vals)
    }


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    print(json.dumps(run(ap.parse_args().seed)))
