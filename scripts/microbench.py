"""Microbench of the HNSW shard search kernel: the serial beam (one heapq
`_search_layer` loop per query and layer, the per-query composition the
engine ran before the lockstep kernel) against `_ShardGraph.search_batch`
(every query of a shard task advanced in one vectorized beam).

Shapes: the `hnsw_serve` shard (200 rows, ef 64, k 10, 250 queries) and
2,000- and 20,000-row shards, all built from the gating benchmark's
clustered dim-64 vectors (`perfbench.inputs.vectors`). Each size builds
one graph with the engine's defaults, then times both kernels on the same
queries (median of 5 repeats) and checks that every query's
(position, distance) list is identical.

Usage (from the repository root; one BLAS thread, like the benchmark's
kernel pass; the 20,000-row build takes about a minute on one core):

    python scripts/microbench.py [--seed 1] [--sizes 200,2000,20000]

Prints one JSON line per size: serial and lockstep ms per query, the
speedup and the identity count.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402

from neighborly_spark.operators import hnsw as HN  # noqa: E402
from perfbench import inputs  # noqa: E402


def serial_search(g: HN._ShardGraph, q: np.ndarray, k: int, ef: int) -> list:
    """The serial search: greedy ef=1 beams down the upper layers, the
    layer-0 beam of width max(ef, k), then the exact float64 re-rank."""
    q32 = np.asarray(q, dtype=np.float32)
    ep = np.array([g.entry], dtype=np.int64)
    for layer in range(int(g.levels[g.entry]), 0, -1):
        ep = g._search_layer(q32, ep, 1, layer)
    found = g._search_layer(q32, ep, max(ef, k), 0)[:k]
    d = g._dist(q, found)
    order = np.argsort(d, kind="stable")
    return [(int(found[j]), float(d[j])) for j in order]


def _median_ms(fn, repeats: int) -> float:
    out = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    return statistics.median(out) * 1e3


def bench(seed: int, rows: int, n_queries: int, k: int, ef: int, repeats: int) -> dict:
    vi = inputs.vectors(seed, rows, n_queries)
    x, Q = vi.table.astype(np.float64), vi.queries.astype(np.float64)
    g = HN._ShardGraph(x, HN.M_DEFAULT, HN.MAX_M0_DEFAULT, HN.EF_CONSTRUCTION_DEFAULT,
                       HN.ML_DEFAULT, np.random.RandomState(42))
    t0 = time.perf_counter()
    for i in range(rows):
        g.insert(i)
    g.finalize()
    build_s = time.perf_counter() - t0
    serial = [serial_search(g, q, k, ef) for q in Q]
    pos, dist = g.search_batch(Q, k, ef)
    lockstep = [[(int(p), float(d)) for p, d in zip(pr, dr) if p >= 0] for pr, dr in zip(pos, dist)]
    serial_ms = _median_ms(lambda: [serial_search(g, q, k, ef) for q in Q], repeats) / n_queries
    lockstep_ms = _median_ms(lambda: g.search_batch(Q, k, ef), repeats) / n_queries
    return {
        "rows": rows, "queries": n_queries, "ef": ef, "k": k, "build_s": round(build_s, 2),
        "serial_ms_per_query": round(serial_ms, 4),
        "lockstep_ms_per_query": round(lockstep_ms, 4),
        "speedup": round(serial_ms / lockstep_ms, 2),
        "identical": f"{sum(a == b for a, b in zip(serial, lockstep))}/{n_queries}",
    }


#: the hnsw_serve shard task: ~250 queries (1,000 x probe 2 / 8 shards), ef 64, k 10
QUERIES, EF, K, REPEATS = 250, 64, 10, 5


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--sizes", default="200,2000,20000", help="shard rows, comma-separated")
    a = ap.parse_args()
    for rows in (int(s) for s in a.sizes.split(",")):
        print(json.dumps(bench(a.seed, rows, QUERIES, K, EF, REPEATS)), flush=True)


if __name__ == "__main__":
    main()
