"""True HNSW (Malkov-Yashunin) as a PARTITIONED batch index — Q8.

Replicates the reference's graph ANN (Search/HNSW.cs:97-304: exponential
level generation HNSW.cs:183-191, SearchLayer beam HNSW.cs:196-248,
insert + neighbor-select + prune HNSW.cs:97-146,253-304, search with
ef >= k HNSW.cs:151-178) with the reference's defaults M=16, MaxM0=32,
efConstruction=200, ef=200, seed=42 (Search/HNSWConfig.cs:13-105).
Deliberate deviations: level generation uses the paper's floor(-ln U * mL)
capped at 63 (Malkov-Yashunin Alg. 1) rather than the reference's geometric
p=1/Ml capped at 16, and mL is the paper's recommended 1/ln(M) rather than
the reference's 1/ln(2) (see ML_DEFAULT — measured equal recall at ~65% of
the insert cost); recall gates (not structure hashes) are the contract.
Earlier rounds capability-mapped method='hnsw' to exact/LSH (SURVEY §7.2
phase 5); this is the real graph, built the way SURVEY §7.3 prescribes for
Spark: per-partition graphs in an Arrow-batched map, never a single global
pointer-chasing structure.

Spark-first architecture (the Lucene/Elasticsearch segment-graph shape):

- BUILD (`hnsw_build`): hash-repartition the vectors, then ONE mapInPandas
  pass builds an independent HNSW graph per partition — graph construction
  is inherently sequential within a graph, but shards build embarrassingly
  parallel and each is bounded by executor memory. The result is a plain
  DataFrame artifact `(part_id, id, level, embedding, neighbors)` with
  `neighbors[l]` = adjacency at layer l — persistable as parquet (S9), no
  driver-side state.
- SEARCH (`hnsw_search_batch`; `hnsw_search` is its one-query form):
  every shard answers its queries with a standard HNSW descent (greedy
  layers -> ef beam at layer 0), all of a task's queries in one lockstep
  beam (`_ShardGraph.search_batch`), emitting its local top-k; a per-query
  top-k over the shard candidates merges. Union of per-shard top-k
  always CONTAINS the global top-k restricted to what each shard's beam
  found, so whole-index recall ~= per-shard graph recall (gated >= 0.8 vs
  exact in tests, the reference's own bar Tests/HNSWBenchmarkTests.cs:169).

At 100 TB: shards scale out linearly; queries touch each shard's graph via
the artifact table's part_id grouping (partition-pruned when the artifact
is written partitionBy(part_id)); nothing is collected to the driver but
the final k rows.

- ROUTING (`hnsw_routing_table` + `probe_shards=p`): per-shard
  centroid+radius ball bounds route each query to its top-p shards,
  making single-query cost O(p) graphs instead of O(num_shards) — the
  sublinearity of the reference's single-graph descent (HNSW.cs:151-178)
  recovered IVF-style. Discriminative only over `spatial=True` builds
  (coarse-quantizer cells, the DiskANN/SPANN layout); hash shards are
  uniform subsamples and must be searched exhaustively
  (docs/RECALL.md round-4 table: spatial p=1 -> recall 1.00, hash p=8 of
  16 -> 0.41). Routing is expressed IN the plan (hnsw_route_queries):
  no query ever collects the routing table.
- SNAPSHOT SERVING (`hnsw_search_batch_snapshot`): a SAVED graph serves
  with zero graph bytes in the plan — tasks carry only (query, shard)
  assignment rows; each worker reads its shard's immutable parquet
  directly and LRU-caches the rehydrated graph keyed by the snapshot
  version. The durable-index tier: graph bytes move executor<-storage
  once per worker per version, never executor<-executor per query.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from neighborly_spark.operators.partitioning import widen_for_python_stage
from neighborly_spark.session import local_relation_queries

M_DEFAULT = 16
MAX_M0_DEFAULT = 32
EF_CONSTRUCTION_DEFAULT = 200
EF_DEFAULT = 200
SEED_DEFAULT = 42
#: Level-generation factor mL = 1/ln(M) — the Malkov-Yashunin paper's
#: recommended value (§4.1: "the optimal mL = 1/ln(M)"), which puts 1/M of
#: nodes above layer 0. Earlier rounds used the reference's Ml = 1/ln(2)
#: (HNSWConfig.cs:42 — which its GetRandomLevel consumes as a geometric
#: promotion probability 1/Ml ~ 0.69, HNSW.cs:183-191, an even deeper
#: hierarchy): that put HALF the nodes above layer 0, so every insert paid
#: ~log2(n) descent beams plus TWO expected efC beams — measured ~35% of
#: insert cost for no recall benefit (0.99 either way at 20k x 64d, gates
#: unchanged). Level DISTRIBUTION is already a documented deviation from
#: the reference (floor(-ln U * ml) vs capped geometric); recall gates,
#: not structure hashes, are the contract.
ML_DEFAULT = 1.0 / math.log(float(M_DEFAULT))

#: Auto-sizing target for hnsw_build when the caller passes no shard count.
#: Build TIME per shard is the binding constraint. The round-6 kernel
#: (flat int32 adjacency + epoch visited tags + batched beam expansion +
#: bound-prefiltered heap entry, the paper's mL, and Alg.-4 neighbor
#: selection with slack-capacity pruning) keeps per-insert cost
#: near-linear in shard size — measured at 64d uniform: 2.45 ms/insert
#: at 5k rows, 2.99 at 10k, 3.34 at 20k, 3.78 at 35k, 4.14 at 50k
#: (1.7x per-insert growth over 10x rows at recall 1.0; the round-5
#: kernel grew 2.7x over 3.8x and forced a 10k target). A 50k x 64d
#: shard builds in ~190 s and searches at ~2.4 ms; memory per shard
#: (~25 MB: float32 matrix + int32 adjacency incl. slack) is nowhere
#: near the bound. Bigger shards mean 5x fewer routing rows and
#: rehydrations at 100 TB — at 10^10 rows this target yields ~2x10^5
#: shards, and shard count is further controlled by raising the target
#: (insert cost no longer punishes it). Search cost is linear in shard
#: count on hash layouts — spatial builds + probe routing restore
#: sublinearity.
#:
#: 50k is the MEASURED optimum, not a kernel cap (round-7 table in
#: docs/SCALE.md: ms/insert 4.29/5.50/6.24 at 50k/100k/200k): total
#: cluster build compute = N x ms/insert(shard_size) rises 45% by 200k,
#: per-shard build wall goes 3.5 -> 21 min (straggler-hostile tasks),
#: recall headroom shrinks 0.975 -> 0.905 at fixed ef, and bigger shards
#: mean fewer graphs fit the byte-budgeted per-worker serving cache
#: (operators.worker_cache). Raise it (or pass
#: num_partitions) only when shard-COUNT costs bind — e.g. >= 10^10 rows
#: where the dim-64 routing broadcast reaches ~100 MB.
TARGET_ROWS_PER_SHARD = 50_000


def hnsw_shard_count(n_rows: int, target_rows_per_shard: int = TARGET_ROWS_PER_SHARD) -> int:
    """Shard count for a row count: ceil(n / target), min 1."""
    return max(1, math.ceil(n_rows / target_rows_per_shard))

GRAPH_SCHEMA = (
    "part_id int, id long, level int, embedding array<float>, "
    "neighbors array<array<bigint>>"
)
#: The graph fields proper; any further artifact column (e.g. tags from
#: hnsw_build(tags_col=...)) is a row-aligned passthrough that every
#: mutation path (hnsw_add / hnsw_remove) must carry.
_GRAPH_BASE_COLS = frozenset({"part_id", "id", "level", "embedding", "neighbors"})


class _ShardGraph:
    """In-memory HNSW over one shard's matrix. Index-positional internally;
    translated to/from row ids only at the Arrow boundary.

    Storage is ARRAY-BASED, not list-of-lists (round-5 VERDICT 1 — the
    per-insert Python object churn made insert cost superlinear-looking and
    capped shards at 10k rows): all layers' adjacency lives in ONE
    preallocated int32 matrix (node i, layer l) -> row row_off[i]+l, with a
    degree counter per row (row capacity max_conn+1 so an append can
    overflow by exactly one before the prune). Levels are drawn up front
    (the whole shard's RNG stream is known at construction), so row
    offsets are a single cumsum.

    Two beams share one set of rules. ``_search_layer`` is the serial
    one-query beam (heapq frontier, epoch-tagged visited array reused
    across calls): each insert runs it, since each insert mutates the
    graph the next one searches. ``search_batch`` answers QUERIES: it
    advances every query of a shard task in lockstep, one numpy step per
    beam round for all of them, and returns what the serial beam would
    (up to exact float32 distance ties); ``search`` and
    ``search_filtered`` are its one-row calls.

    float32 vector storage: halves the gather memory traffic of the beams;
    distances are ORDERING inputs only — quality is recall-gated, and the
    reported distances are recomputed exactly (float64) for the final k."""

    #: Candidates expanded per beam iteration. One numpy batch then gathers
    #: ~B x degree neighbor rows — amortizing numpy's fixed per-call cost
    #: (the old one-pop-at-a-time loop did ~400 einsum calls of ~11 rows
    #: per insert; B=8 does ~50 calls of ~100 rows for the same beam).
    #: The bound check is per batch instead of per pop, so up to B-1 extra
    #: candidates can be expanded vs the serial order — strictly MORE
    #: exploration, never less (recall can only improve; wall cost of the
    #: slack is bounded by B).
    _BEAM_BATCH = 8

    def __init__(self, x: np.ndarray, m: int, max_m0: int, ef_construction: int, ml: float, rng):
        self.x = np.ascontiguousarray(x, dtype=np.float32)
        self.m = m
        self.max_m0 = max_m0
        self.efc = ef_construction
        self.levels = np.minimum(
            (-np.log(rng.uniform(size=len(x)) + 1e-300) * ml).astype(np.int64), 63
        )
        self._alloc()
        self.entry = -1

    def _alloc(self) -> None:
        """(Re)allocate the flat adjacency arrays for the current levels.

        Row capacity is 2 x max_conn (SLACK): reverse-edge appends
        accumulate up to twice the cap before a single Alg.-4 re-selection
        trims the row back to max_conn — pruning on every overflow would
        run the selection ~max_conn times more often for the same final
        graph quality (the slack edges only ADD recall during
        construction). finalize() trims every row before serving/
        serialization."""
        counts = self.levels + 1
        n = len(self.levels)
        self.row_off = np.zeros(n, dtype=np.int64)
        if n > 1:
            np.cumsum(counts[:-1], out=self.row_off[1:])
        total = int(counts.sum())
        self.cap = 2 * max(self.max_m0, self.m)
        self.nbr = np.full((total, self.cap), -1, dtype=np.int32)
        self.deg = np.zeros(total, dtype=np.int32)
        self.visit_tag = np.zeros(n, dtype=np.int64)
        self.epoch = 0
        self.all_allowed = np.ones(n, dtype=bool)  # _search_layer's None mask

    def extend(self, new_x: np.ndarray, new_levels: np.ndarray) -> None:
        """Append nodes (hnsw_add): old nodes keep their positions (they
        come first, so row offsets are unchanged); adjacency rows copy into
        the re-allocated layout."""
        self.x = np.concatenate(
            [self.x, np.ascontiguousarray(new_x, dtype=np.float32)]
        )
        old_nbr, old_deg = self.nbr, self.deg
        self.levels = np.concatenate([self.levels, new_levels.astype(np.int64)])
        self._alloc()
        assert old_nbr.shape[1] <= self.cap
        self.nbr[: old_nbr.shape[0], : old_nbr.shape[1]] = old_nbr
        self.deg[: old_deg.shape[0]] = old_deg

    def adj_lists(self) -> list[list[list[int]]]:
        """Per-node per-layer neighbor positions — the serialization view
        (one pass at the Arrow boundary, not in the insert hot loop)."""
        out = []
        nbr, deg, row_off = self.nbr, self.deg, self.row_off
        for i in range(len(self.levels)):
            base = int(row_off[i])
            out.append(
                [
                    nbr[base + layer, : deg[base + layer]].tolist()
                    for layer in range(int(self.levels[i]) + 1)
                ]
            )
        return out

    def _dist(self, q: np.ndarray, ids) -> np.ndarray:
        """Exact euclidean — only for the FINAL reported distances."""
        d = self.x[ids].astype(np.float64) - np.asarray(q, dtype=np.float64)
        return np.sqrt(np.einsum("ij,ij->i", d, d))

    def _search_layer(
        self, q: np.ndarray, eps: np.ndarray, ef: int, layer: int,
        allowed: np.ndarray | None = None,
    ) -> np.ndarray:
        """Beam search (HNSW.cs:196-248): returns up to ef candidates sorted
        ascending by distance, as a node-index array.

        ``allowed`` is a bool mask over node positions (None: every node).
        It makes this the filtered beam (the filtered-HNSW standard, e.g.
        hnswlib's filter functor): the TRAVERSAL sees every node (a
        disallowed node still routes the beam through its neighborhood —
        pre-pruning edges would disconnect the graph under selective
        filters), but only ALLOWED nodes enter the result beam `best`,
        whose worst member sets the termination/pruning bound. Until ef
        allowed nodes have been seen the bound stays +inf (the beam keeps
        expanding), so the filter cannot starve the search into early
        termination.

        Hot-loop shape (the whole build cost lives here): pop up to
        _BEAM_BATCH in-bound candidates from the frontier heap, gather
        their adjacency rows in one fancy-index, epoch-filter visited,
        np.unique-dedupe, ONE squared-distance einsum, then a vectorized
        bound prefilter so the Python heap loop only touches candidates
        that can actually enter the beam (late in the search that is a
        small fraction of the evaluated neighbors). SQUARED float32
        distances: monotone in euclidean, so selection is identical
        without sqrt dispatches; heap items are PYTHON floats (.tolist())
        — numpy scalars compare slower in heappush/heappop. Top-k
        invariants are arrival-order independent: `best` always holds the
        ef smallest allowed nodes seen so far."""
        import heapq

        if allowed is None:
            allowed = self.all_allowed
        x = self.x
        self.epoch += 1
        cur = self.epoch
        tag = self.visit_tag
        tag[eps] = cur
        d_eps = x[eps] - q
        d0 = np.einsum("ij,ij->i", d_eps, d_eps).tolist()
        epl = eps.tolist()
        cand = list(zip(d0, epl))  # min-heap frontier
        heapq.heapify(cand)
        # max-heap of the current ef allowed nodes
        best = [(-d, n) for d, n, o in zip(d0, epl, allowed[eps].tolist()) if o]
        heapq.heapify(best)
        nbest = len(best)
        nbr, deg = self.nbr, self.deg
        rows_base = self.row_off + layer
        bsz = 1 if ef == 1 else self._BEAM_BATCH  # greedy descent stays greedy
        col = np.arange(self.cap)
        heappop, heappush = heapq.heappop, heapq.heappush
        heappushpop = heapq.heappushpop
        inf = float("inf")
        while cand:
            full = nbest >= ef
            bound = -best[0][0] if full else inf
            batch = []
            while cand and len(batch) < bsz:
                d, n = cand[0]
                if full and d > bound:
                    break
                heappop(cand)
                batch.append(n)
            if not batch:
                break
            rows = rows_base[batch]
            nb = nbr[rows][col[None, :] < deg[rows][:, None]]
            if nb.size == 0:
                continue
            nb = nb[tag[nb] != cur]
            if nb.size == 0:
                continue
            nb = np.unique(nb)  # dedupe within batch; deterministic order
            tag[nb] = cur
            dnb = x[nb] - q
            nd = np.einsum("ij,ij->i", dnb, dnb)
            if full:
                # vectorized bound prefilter: when the beam is full, only
                # neighbors under the current bound can enter either heap
                keep = nd < bound
                nb, nd = nb[keep], nd[keep]
                if nb.size == 0:
                    continue
            for dd, v, o in zip(nd.tolist(), nb.tolist(), allowed[nb].tolist()):
                if nbest < ef:
                    heappush(cand, (dd, v))
                    if o:
                        heappush(best, (-dd, v))
                        nbest += 1
                elif dd < -best[0][0]:
                    heappush(cand, (dd, v))
                    if o:
                        heappushpop(best, (-dd, v))
        return np.fromiter(
            (n for _, n in sorted((-b, n) for b, n in best)), dtype=np.int64, count=len(best)
        )

    @staticmethod
    def _heuristic_keep(d_target: np.ndarray, D: np.ndarray, max_conn: int) -> list[int]:
        """Neighbor selection, Malkov-Yashunin Algorithm 4 over candidates
        SORTED ascending by distance-to-target: keep candidate c iff it is
        closer to the target than to every already-kept neighbor — the
        DIVERSITY rule that keeps dense regions connected. Closest-k
        selection (the reference's SelectNeighbors/PruneConnections,
        HNSW.cs:253-304) fragments clustered data at layer 0 into
        mutually-closest islands (measured: an 8-cluster shard's layer-0
        graph split into per-cluster components and an early-node island
        the beam could not reach — recall MISSED an exact-match neighbor);
        the reference escapes it only via its very deep level hierarchy.
        Leftover slots fill with the nearest rejected candidates
        (hnswlib's keepPrunedConnections), so degree — and with it recall
        on uniform data — is preserved.

        ``d_target``: ascending squared distances to the target;
        ``D``: pairwise squared distances among the candidates."""
        # vectorized greedy: keeping candidate k eliminates (for keeping)
        # every candidate closer to k than to the target — ONE boolean AND
        # over all candidates per KEEP (<= max_conn vector ops total)
        # instead of a per-candidate check against the kept set. ok[c] at
        # the moment c is scanned == "farther from every kept-so-far than
        # from the target", the sequential Alg.-4 condition exactly.
        n = len(d_target)
        ok = np.ones(n, dtype=bool)
        kept: list[int] = []
        for c in range(n):
            if len(kept) >= max_conn:
                break
            if ok[c]:
                kept.append(c)
                ok &= D[:, c] > d_target
        if len(kept) < max_conn:
            keep_flag = np.zeros(n, dtype=bool)
            keep_flag[kept] = True
            for c in np.flatnonzero(~keep_flag).tolist():
                if len(kept) >= max_conn:
                    break
                kept.append(c)  # keepPrunedConnections: nearest rejected
        return kept

    def _select_neighbors(self, q: np.ndarray, cands: np.ndarray, max_conn: int) -> np.ndarray:
        """Alg.-4 selection for a new node's own edges: one pairwise
        squared-distance matrix over the beam candidates (bounded by efC),
        then the greedy diversity filter."""
        if len(cands) <= 1:
            return cands
        xc = self.x[cands].astype(np.float64)
        dq = ((xc - q) ** 2).sum(axis=1)  # ascending already (beam order)
        sq = (xc * xc).sum(axis=1)
        D = sq[:, None] + sq[None, :] - 2.0 * (xc @ xc.T)
        keep = self._heuristic_keep(dq, D, max_conn)
        return cands[np.asarray(keep, dtype=np.int64)]

    def insert(self, i: int) -> None:
        l_new = int(self.levels[i])
        if self.entry < 0:
            self.entry = i
            return
        ep = np.array([self.entry], dtype=np.int64)
        top = int(self.levels[self.entry])
        q = self.x[i]
        for layer in range(top, l_new, -1):
            ep = self._search_layer(q, ep, 1, layer)
        for layer in range(min(top, l_new), -1, -1):
            cands = self._search_layer(q, ep, self.efc, layer)
            max_conn = self.max_m0 if layer == 0 else self.m
            # layer 0 connects up to MaxM0 (HNSW.cs Insert:
            # maxConnections = lc==0 ? MaxM0 : M); upper layers up to M.
            # Selection is the paper's Alg. 4, not closest-k — see
            # _heuristic_keep for why (connectivity on clustered data).
            neigh = self._select_neighbors(
                self.x[i].astype(np.float64), cands, max_conn
            )
            row_i = self.row_off[i] + layer
            self.nbr[row_i, : len(neigh)] = neigh
            self.deg[row_i] = len(neigh)
            # reverse edges in one vectorized append; a row re-selects
            # (Alg. 4) only when it fills its SLACK capacity 2*max_conn —
            # see _alloc. finalize() trims the rest at the end.
            rows_v = self.row_off[neigh] + layer
            dv = self.deg[rows_v]
            self.nbr[rows_v, dv] = i
            self.deg[rows_v] = dv + 1
            over_mask = (dv + 1) >= 2 * max_conn
            over = rows_v[over_mask]
            if over.size:
                self._reselect_rows(
                    over, self.x[neigh[over_mask]].astype(np.float64), max_conn
                )
            ep = cands
        if l_new > top:
            self.entry = i

    def _reselect_rows(self, rows: np.ndarray, centers64: np.ndarray, max_conn: int) -> None:
        """Alg.-4 re-selection of FULL adjacency rows (all ``rows`` share
        one width = their current degree): one batched gram-trick pairwise
        matrix, then the greedy filter per row. ``centers64``: the row
        owners' vectors, float64 (o, dim)."""
        w = int(self.deg[rows[0]])
        lists = self.nbr[rows, :w]  # (o, w)
        xl = self.x[lists].astype(np.float64)  # (o, w, dim)
        diff = xl - centers64[:, None, :]
        d_tgt = np.einsum("ijk,ijk->ij", diff, diff)  # (o, w)
        sq = np.einsum("owk,owk->ow", xl, xl)
        G = np.einsum("oik,ojk->oij", xl, xl)
        D = sq[:, :, None] + sq[:, None, :] - 2.0 * G  # (o, w, w)
        order = np.argsort(d_tgt, axis=1, kind="stable")
        for oi in range(len(rows)):
            o = order[oi]
            keep = self._heuristic_keep(d_tgt[oi][o], D[oi][np.ix_(o, o)], max_conn)
            sel = lists[oi][o[np.asarray(keep, dtype=np.int64)]]
            self.nbr[rows[oi], : len(sel)] = sel
            self.deg[rows[oi]] = len(sel)

    def finalize(self) -> None:
        """Trim every adjacency row to its layer cap with the Alg.-4
        selection — the one-shot complement of the slack-capacity build.
        Idempotent; _build_shard / hnsw_add run it before serializing (the
        artifact contract stays deg <= MaxM0 / M per layer)."""
        counts = self.levels + 1
        total = int(counts.sum())
        row_layer = np.arange(total, dtype=np.int64) - np.repeat(self.row_off, counts)
        max_conn_row = np.where(row_layer == 0, self.max_m0, self.m)
        over = np.flatnonzero(self.deg > max_conn_row)
        if not len(over):
            return
        owners = np.repeat(np.arange(len(self.levels), dtype=np.int64), counts)
        from collections import defaultdict

        groups: dict = defaultdict(list)
        for r in over.tolist():
            groups[(int(self.deg[r]), int(max_conn_row[r]))].append(r)
        for (_, mc), rws in groups.items():
            rr = np.asarray(rws, dtype=np.int64)
            self._reselect_rows(rr, self.x[owners[rr]].astype(np.float64), mc)

    #: Filtered search falls back to an EXACT scan of the allowed rows when
    #: they number <= this multiple of max(ef, k): at that size the brute
    #: force costs fewer distance evals than an inflated beam AND its
    #: recall is 1.0 by construction — the documented extreme-selectivity
    #: answer (a beam cannot be both cheap and reliable when the filter
    #: keeps almost nothing).
    _FILTER_BRUTE_MULT = 4
    #: Beam-width inflation cap: ef / selectivity, but never more than this
    #: multiple of ef (the standard filtered-HNSW heuristic; past it the
    #: brute-force tier is the better tool and usually already triggered).
    _FILTER_EF_CAP_MULT = 10
    #: Bytes of per-chunk scratch in search_batch: the layer-0 visited
    #: matrix (one bool row per query, ~320 queries at the 50,000-row shard
    #: target) and the exact scan's float64 difference block.
    _CHUNK_BYTES = 16 << 20

    def search(self, q: np.ndarray, k: int, ef: int) -> list[tuple[int, float]]:
        """One query's top-k as (position, exact distance): a one-row
        search_batch."""
        return self._one_row(self.search_batch(np.asarray(q, dtype=np.float64)[None], k, ef))

    def search_filtered(
        self, q: np.ndarray, k: int, ef: int, allowed: np.ndarray
    ) -> list[tuple[int, float]]:
        """Tag-filtered descent (P9 composed with Q8) for one query: a
        one-row search_batch with ``allowed`` (a bool mask over node
        positions) — see search_batch for the selectivity rules."""
        return self._one_row(
            self.search_batch(np.asarray(q, dtype=np.float64)[None], k, ef, allowed)
        )

    @staticmethod
    def _one_row(res: tuple[np.ndarray, np.ndarray]) -> list[tuple[int, float]]:
        pos, dist = res
        return [(int(p), float(d)) for p, d in zip(pos[0], dist[0]) if p >= 0]

    def search_batch(
        self, Q: np.ndarray, k: int, ef: int, allowed: np.ndarray | None = None
    ) -> tuple[np.ndarray, np.ndarray]:
        """Top-k of every row of ``Q`` (nq, dim), searched in LOCKSTEP: one
        numpy step advances every query's beam, instead of one heapq loop
        per query. Returns (positions, distances), both (nq, k): node
        positions ascending by exact float64 distance, padded with -1 /
        +inf where a query found fewer than k nodes.

        Per query it is the serial HNSW search (HNSW.cs:151-248): the ef=1
        greedy descent through the upper layers (every node routes), the
        layer-0 beam of width max(ef, k), then an exact float64 re-rank of
        the first k by (float32 squared distance, position). The lockstep
        form returns exactly what that serial composition of _search_layer
        calls returns, except at exact float32 distance ties (the serial
        heaps break those by arrival order).

        ``allowed`` (bool mask over node positions) selects the filtered
        search. Its selectivity rules are computed ONCE for all rows, since
        the mask is shared: no allowed node returns nothing; a small
        allowed set (<= _FILTER_BRUTE_MULT x max(ef, k), or one the inflated
        beam would have to exhaust) gets an exact scan — one (queries x
        allowed rows) distance block, recall 1.0 by construction —
        otherwise the layer-0 beam runs with ef inflated by 1/selectivity
        (capped at _FILTER_EF_CAP_MULT x ef and at the allowed count) and
        only allowed nodes collect into it. The traversal still sees every
        node (see _search_layer).

        Queries run in chunks of ~_CHUNK_BYTES of visited marks. The last
        row's layer-0 visited nodes are left tagged with a fresh
        ``epoch`` in ``visit_tag``, as a serial _search_layer leaves its
        own, so a caller can count the nodes one search touched."""
        Q = np.asarray(Q, dtype=np.float64)
        nq, n = len(Q), len(self.levels)
        pos = np.full((nq, k), -1, dtype=np.int64)
        dist = np.full((nq, k), np.inf)
        if self.entry < 0 or nq == 0 or k <= 0:
            return pos, dist
        eff = max(ef, k)
        if allowed is not None:
            n_allowed = int(allowed.sum())
            if n_allowed == 0:
                return pos, dist
            # cap the inflated beam at n_allowed: an ef_eff the filter can
            # never fill leaves the termination bound at +inf and the beam
            # walks the whole shard — when that would happen, the exact
            # scan of the allowed rows is strictly cheaper AND recall-1.0
            sel = n_allowed / n
            eff_f = int(min(
                n,
                max(eff, math.ceil(eff / sel)),
                self._FILTER_EF_CAP_MULT * eff,
                n_allowed,
            ))
            if n_allowed <= self._FILTER_BRUTE_MULT * eff or eff_f >= n_allowed:
                self._scan(Q, np.flatnonzero(allowed), pos, dist)
                return pos, dist
            eff = eff_f
        step = max(1, self._CHUNK_BYTES // n)
        for s in range(0, nq, step):
            q64 = Q[s: s + step]
            q32 = q64.astype(np.float32)
            found = self._beam0(q32, self._greedy(q32), eff, allowed)[:, :k]
            pos[s: s + step], dist[s: s + step] = self._rerank(q64, found)
        return pos, dist

    #: search_batch's packed beam key: (float32 squared-distance bits << 32)
    #: | node position. Non-negative float32 bit patterns order like their
    #: values, so one int64 compare orders by (distance, position); the
    #: empty slot sorts after every key.
    _EMPTY = np.iinfo(np.int64).max

    def _sqdist(self, q32: np.ndarray, rows: np.ndarray, nodes: np.ndarray) -> np.ndarray:
        """float32 squared distances of query rows ``q32[rows]`` to
        ``nodes`` — the same per-row einsum _search_layer runs, so each
        value is bit-identical to the serial beam's."""
        d = self.x.take(nodes, axis=0)
        d -= q32.take(rows, axis=0)
        return np.einsum("ij,ij->i", d, d)

    @staticmethod
    def _key(d: np.ndarray, nodes: np.ndarray) -> np.ndarray:
        return (d.view(np.int32).astype(np.int64) << 32) | nodes

    def _used_columns(self) -> np.ndarray:
        """The adjacency columns some row uses (the rest is build slack)."""
        return self.nbr[:, : int(self.deg.max())]

    def _greedy(self, q32: np.ndarray) -> np.ndarray:
        """The ef=1 descent from the entry point through layers top..1 for
        every query at once: a step moves each still-moving query to its
        current node's nearest neighbor by (distance, position) if that
        is strictly nearer — what _search_layer(q, ep, 1, layer) does.
        (No visited marks: a node seen before is never strictly nearer
        than the current one.) Returns the layer-0 entry per query."""
        nq = len(q32)
        cur = np.full(nq, self.entry, dtype=np.int64)
        nbr = self._used_columns()
        col = np.arange(nbr.shape[1])
        everyone = np.arange(nq)
        for layer in range(int(self.levels[self.entry]), 0, -1):
            dcur = self._sqdist(q32, everyone, cur).view(np.int32).astype(np.int64)
            act = everyone
            while act.size:
                rows = self.row_off[cur[act]] + layer
                deg = self.deg[rows]
                ok = col < deg[:, None]
                nodes = nbr.take(rows, axis=0)[ok]
                keys = np.full(ok.shape, self._EMPTY)
                keys[ok] = self._key(self._sqdist(q32, np.repeat(act, deg), nodes), nodes)
                nxt = keys.min(axis=1, initial=self._EMPTY)
                moved = (nxt >> 32) < dcur[act]
                act = act[moved]
                cur[act] = nxt[moved] & 0xFFFFFFFF
                dcur[act] = nxt[moved] >> 32
        return cur

    def _beam0(
        self, q32: np.ndarray, ep: np.ndarray, ef: int, allowed: np.ndarray | None
    ) -> np.ndarray:
        """Layer-0 beam of width ``ef`` for every query at once, from entry
        positions ``ep``; returns (nq, ef) positions ascending by
        (float32 squared distance, position), -1-padded.

        Each query's state is a row of padded key arrays: ``best`` holds
        its ef smallest allowed keys (unordered; the largest is the bound,
        +inf until ef allowed nodes were seen), ``front`` its unexpanded
        candidates, ascending. One step per round, for every query:
          - pop up to _BEAM_BATCH front keys (1 at ef=1). The front only
            ever holds keys within the bound, so this is the serial pop
            rule "distance <= this step's bound";
          - gather the popped nodes' adjacency in one fancy-index, drop
            nodes the query already visited, dedupe per query in position
            order and mark the rest visited;
          - one einsum for the squared distances of the whole frontier,
            then the serial bound prefilter (strictly below the step's
            bound);
          - a partition select merges the allowed survivors into ``best``;
            the front keeps the survivors and old keys within the new
            bound (a candidate past it can never be popped again, since
            the bound only shrinks once ef nodes are in).
        A query whose front is empty is done — the serial loop's exit."""
        x_n = len(self.levels)
        nq, empty = len(q32), self._EMPTY
        bsz = 1 if ef == 1 else self._BEAM_BATCH
        nbr = self._used_columns()
        col = np.arange(nbr.shape[1])
        vis = np.zeros((nq, x_n), dtype=bool)
        visited = vis.reshape(-1)  # flat view: row * x_n + position
        qid = np.arange(nq)
        vis[qid, ep] = True
        k0 = self._key(self._sqdist(q32, qid, ep), ep)
        best = np.full((nq, ef), empty)
        best[:, 0] = k0 if allowed is None else np.where(allowed[ep], k0, empty)
        front = k0[:, None]
        out = np.empty((nq, ef), dtype=np.int64)
        bound = best.max(axis=1) >> 32  # an unfilled row's max is `empty`
        while qid.size:
            popped = front[:, :bsz]
            pi, pj = np.nonzero(popped != empty)
            rows = self.row_off[popped[pi, pj] & 0xFFFFFFFF]
            deg = self.deg[rows]
            cn = nbr.take(rows, axis=0)[col < deg[:, None]]
            cq = np.repeat(pi, deg)  # active-row index of each gathered neighbor
            fresh = ~visited[qid[cq] * x_n + cn]
            # dedupe per query in position order: one sort of (row, node)
            cq, cn = np.divmod(np.unique(cq[fresh] * x_n + cn[fresh]), x_n)
            visited[qid[cq] * x_n + cn] = True
            keys = self._key(self._sqdist(q32, qid[cq], cn), cn)
            keep = (keys >> 32) < bound[cq]
            cq, cn, keys = cq[keep], cn[keep], keys[keep]
            # scatter each query's survivors into a padded row block; cq is
            # sorted, so a survivor's slot is its rank within its query
            counts = np.bincount(cq, minlength=len(qid))
            slot = np.arange(len(cq)) - (np.cumsum(counts) - counts)[cq]
            new = np.full((len(qid), int(counts.max(initial=0))), empty)
            new[cq, slot] = keys
            if new.shape[1]:
                cand = new
                if allowed is not None:
                    cand = np.full_like(new, empty)
                    cand[cq, slot] = np.where(allowed[cn], keys, empty)
                best = np.partition(np.concatenate([best, cand], axis=1), ef - 1, axis=1)[:, :ef]
            bound = best.max(axis=1) >> 32
            front = np.concatenate([front[:, bsz:], new], axis=1)
            front[(front >> 32) > bound[:, None]] = empty
            front.sort(axis=1)
            front = front[:, : int((front != empty).sum(axis=1).max(initial=0))]
            done = front[:, 0] == empty if front.shape[1] else np.ones(len(qid), dtype=bool)
            out[qid[done]] = best[done]
            qid, best, front, bound = qid[~done], best[~done], front[~done], bound[~done]
        self.epoch += 1
        self.visit_tag[vis[-1]] = self.epoch
        out.sort(axis=1)
        return np.where(out == empty, -1, out & 0xFFFFFFFF)

    def _rerank(self, q64: np.ndarray, found: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Exact float64 distances of each row's ``found`` positions (-1:
        none), then a stable per-row sort — ties keep the beam's
        (float32 distance, position) order."""
        d = np.full(found.shape, np.inf)
        qi, ci = np.nonzero(found >= 0)
        diff = self.x[found[qi, ci]].astype(np.float64) - q64[qi]
        d[qi, ci] = np.sqrt(np.einsum("ij,ij->i", diff, diff))
        order = np.argsort(d, axis=1, kind="stable")
        return np.take_along_axis(found, order, 1), np.take_along_axis(d, order, 1)

    def _scan(self, Q: np.ndarray, idx: np.ndarray, pos: np.ndarray, dist: np.ndarray) -> None:
        """Exact top-k of every row of ``Q`` over the nodes ``idx``
        (ascending), ties by position, written into ``pos`` / ``dist``:
        one (queries x nodes) distance block per chunk."""
        xa = self.x[idx].astype(np.float64)
        k = min(pos.shape[1], len(idx))
        step = max(1, self._CHUNK_BYTES // max(1, xa.nbytes))
        for s in range(0, len(Q), step):
            diff = (xa[None, :, :] - Q[s: s + step, None, :]).reshape(-1, xa.shape[1])
            d = np.sqrt(np.einsum("ij,ij->i", diff, diff)).reshape(-1, len(idx))
            order = np.argsort(d, axis=1, kind="stable")[:, :k]
            pos[s: s + step, :k] = idx[order]
            dist[s: s + step, :k] = np.take_along_axis(d, order, 1)


def _build_shard(
    ids: np.ndarray, x: np.ndarray, part_id: int, m: int, max_m0: int, efc: int, ml: float, seed: int,
    extra: dict | None = None,
) -> pd.DataFrame:
    # per-shard RNG seeded by (seed, part_id): deterministic for a fixed
    # hash partitioning, independent across shards
    rng = np.random.RandomState((seed * 1_000_003 + part_id) % (2**31 - 1))
    g = _ShardGraph(x, m, max_m0, efc, ml, rng)
    # insertion in ascending-id order: deterministic graphs regardless of
    # arrival order within the partition
    order = np.argsort(ids, kind="stable")
    for i in order:
        g.insert(int(i))
    g.finalize()  # trim slack rows: the artifact contract is deg <= cap
    out = {
        "part_id": np.full(len(ids), part_id, dtype=np.int32),
        "id": ids.astype(np.int64),
        "level": g.levels.astype(np.int32),
        "embedding": [row for row in x.astype(np.float32)],
        "neighbors": [
            [ids[np.asarray(layer, dtype=np.int64)].astype(np.int64).tolist() for layer in node]
            for node in g.adj_lists()
        ],
    }
    # passthrough columns (e.g. tags, P9 x Q8): row-aligned with ids
    for name, vals in (extra or {}).items():
        out[name] = vals
    return pd.DataFrame(out)


def hnsw_build(
    df: DataFrame,
    dim: int,
    id_col: str = "id",
    vec_col: str = "embedding",
    num_partitions: int | None = None,
    m: int = M_DEFAULT,
    max_m0: int = MAX_M0_DEFAULT,
    ef_construction: int = EF_CONSTRUCTION_DEFAULT,
    seed: int = SEED_DEFAULT,
    ml: float = ML_DEFAULT,
    rows_hint: int | None = None,
    spatial: bool = False,
    tags_col: str | None = None,
    coarse_model=None,
) -> DataFrame:
    """Build the partitioned HNSW graph artifact. One graph per shard of
    ``id_col``; returns the graph DataFrame (GRAPH_SCHEMA) — cache it or
    write it to parquet partitionBy('part_id').

    ``tags_col`` copies that column INTO the artifact (same design as the
    bq/sq/ivfpq code tables — P9 x the index family): a tag predicate then
    evaluates as a pushdown expression on the graph scan, and
    hnsw_search(allowed_col=...) runs the filtered descent over it — no
    query-time join anywhere.

    ``num_partitions=None`` auto-sizes the shard count from the row count
    (``rows_hint`` skips the count() job — pass it from table stats) at
    TARGET_ROWS_PER_SHARD rows per shard, so a bad caller pick can't
    silently build one giant graph (OOM + hours-long sequential insert) or
    thousands of tiny ones (recall-less brute force per shard).

    Shard assignment:
    - default (``spatial=False``): ``pmod(murmur3(id), n)`` — exactly the
      value Spark's HashPartitioning would give ``repartition(n, id)``, so
      hnsw_add can route new rows to their build shard with the same
      expression. Hash shards are spatially UNIFORM: probe_shards routing
      over them cannot discriminate (every shard looks like the whole
      dataset), so hash graphs should be searched exhaustively.
    - ``spatial=True``: shards are the cells of a coarse quantizer
      (ivf_train_sampled, one deterministic sample pass + driver Lloyd,
      seed 42) — each shard covers a REGION of the space, which is what
      makes the centroid+radius routing table discriminative and
      probe_shards-search sublinear (the IVF-cell-per-HNSW-graph layout of
      DiskANN-style partitioned indexes). Incremental adds to a spatial
      graph must pass the routing table to hnsw_add (nearest-centroid
      routing)."""
    from neighborly_spark.operators.quantization import finite_vector_pred

    # finite vectors only: a NaN distance inside the insert kernel would
    # silently corrupt neighbor-list ordering (heap comparisons with NaN),
    # degrading recall with no error anywhere. Identity on clean data.
    extra_sel = [F.col(tags_col)] if tags_col else []
    src = df.select(
        F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("embedding"),
        *extra_sel,
    ).filter(finite_vector_pred(F.col("embedding")))
    if num_partitions is None:
        num_partitions = hnsw_shard_count(rows_hint if rows_hint is not None else src.count())
    if spatial:
        from neighborly_spark.operators.ivf import ivf_train_sampled

        if coarse_model is None:
            coarse_model = ivf_train_sampled(src, nlist=num_partitions, vec_col="embedding")
        part = _nearest_centroid_expr(coarse_model.centroids, "embedding")
    else:
        part = F.pmod(F.hash(F.col("id")), F.lit(num_partitions)).cast("int")
    src = src.withColumn("part_id", part)

    schema = GRAPH_SCHEMA
    if tags_col:
        schema += f", {tags_col} {df.schema[tags_col].dataType.simpleString()}"

    def build(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy()
        x = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
        extra = {tags_col: pdf[tags_col].to_numpy()} if tags_col else None
        return _build_shard(ids, x, int(key[0]), m, max_m0, ef_construction, ml, seed, extra)

    return src.groupBy("part_id").applyInPandas(build, schema)


def _nearest_centroid_expr(centroids: list[list[float]], vec_col: str, part_ids: list[int] | None = None):
    """argmin-distance Column over broadcast centroid literals — JVM-side,
    no Python in the scan (same form as ivf_assign's sampled path).

    ``part_ids`` maps the argmin index through an explicit shard-id list
    (hnsw_add routing, where centroid order comes from a sorted routing
    table); omitted, the shard id IS the 0-based argmin index (build)."""
    cents_lit = F.lit(centroids).cast("array<array<double>>")
    dists = F.transform(
        cents_lit,
        lambda c: F.aggregate(
            F.zip_with(F.col(vec_col), c, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
            F.lit(0.0),
            lambda a, x: a + x,
        ),
    )
    pos = F.array_position(dists, F.array_min(dists))  # 1-based
    if part_ids is None:
        return (pos - 1).cast("int")
    return F.element_at(F.lit([int(p) for p in part_ids]).cast("array<int>"), pos.cast("int"))


def nearest_centroid_assign(
    df: DataFrame, centroid_rows: DataFrame, vec_col: str, out_col: str = "part_id"
) -> DataFrame:
    """Assign each row the ``part_id`` of its nearest centroid — fully
    IN-PLAN (round-6 VERDICT 5: hnsw_add's spatial routing used a collected
    routing table rendered into a literal argmin chain, the documented
    >1k-element-literal planning trap at the ~2e5-shard counts a 50k
    rows-per-shard target implies at 1e10 rows).

    The (part_id, centroid) rows aggregate into ONE part_id-sorted
    array-of-struct row that enters the plan as a BROADCAST RELATION (no
    expression-tree literal, so analysis cost doesn't grow with shard
    count), and the per-row argmin is the same first-minimal-index
    transform + array_position expression as _nearest_centroid_expr —
    assignments are bit-equal to the collected-literal form (test-gated).
    No collect, no driver loop; a row_number-over-crossJoin form was
    rejected because it needs a unique row key (monotonically_increasing_id
    is nondeterministic under task retry)."""
    packed = centroid_rows.groupBy().agg(
        F.sort_array(F.collect_list(F.struct(F.col("part_id"), F.col("centroid")))).alias("_rt")
    )
    dists = F.transform(
        F.col("_rt"),
        lambda s: F.aggregate(
            F.zip_with(
                F.col(vec_col), s["centroid"],
                lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda a, v: a + v,
        ),
    )
    pos = F.array_position(dists, F.array_min(dists)).cast("int")
    return (
        df.crossJoin(F.broadcast(packed))
        .withColumn(out_col, F.element_at(F.col("_rt"), pos)["part_id"])
        .drop("_rt")
    )


ROUTING_SCHEMA = "part_id int, centroid array<double>, radius double, n long"


def hnsw_routing_table(graph_df: DataFrame) -> DataFrame:
    """Per-shard routing summary `(part_id, centroid, radius, n)` — the
    IVF-style coarse layer that makes single-query cost SUBLINEAR in shard
    count (round-3 VERDICT item 1): `radius` is the max distance from any
    shard vector to the shard centroid, so `max(0, ||q-c|| - radius)` lower-
    bounds the distance from q to the shard's nearest vector. Probing the
    top-p shards by that bound recovers the sublinearity of the reference's
    single-graph descent (HNSW.cs:151-178) at cluster scale: p shards
    rehydrated per query instead of all of them.

    One aggregate pass over the graph artifact (shard-count rows out);
    SearchService builds it alongside the graph and caches both."""

    def per_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        x = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
        c = x.mean(axis=0)
        d = x - c
        radius = float(np.sqrt(np.einsum("ij,ij->i", d, d)).max())
        return pd.DataFrame(
            {
                "part_id": [int(pdf["part_id"].iloc[0])],
                "centroid": [c.tolist()],
                "radius": [radius],
                "n": [len(x)],
            }
        )

    return graph_df.groupBy("part_id").applyInPandas(per_shard, ROUTING_SCHEMA)


def _route(routing_rows, q: np.ndarray, probe_shards: int) -> list[int]:
    """Top-p shard ids for one query: ascending by the ball lower bound
    max(0, ||q-c|| - r), tie-broken by centroid distance then part_id
    (deterministic). Driver-side over shard-count rows — kept as the
    reference implementation for tests; the serving paths route through
    hnsw_route_queries, the same ordering vectorized over a query batch."""
    scored = []
    for r in routing_rows:
        cd = float(np.linalg.norm(q - np.asarray(r["centroid"], dtype=np.float64)))
        scored.append((max(0.0, cd - float(r["radius"])), cd, int(r["part_id"])))
    scored.sort()
    return [pid for _, _, pid in scored[:probe_shards]]


def hnsw_route_queries(
    routing: DataFrame, queries: DataFrame, probe_shards: int
) -> DataFrame:
    """Per-query shard routing: rank each (query, shard) pair by the ball
    lower bound (ties: centroid distance, then part_id — _route's exact
    ordering), keep the top p per query. Returns
    (query_id, query_embedding, part_id).

    Round 11 (guide §2.4/§4.2): the previous in-plan form — crossJoin
    against the broadcast routing table, JVM HOF bounds, then a
    row_number window — paid a full Exchange + sort of query-count x
    shard-count rows, each CARRYING the query embedding, just to pick
    the top p of a per-query list that is bounded by the SHARD count.
    Now the routing table (shard-count rows — the same driver-resident
    coarse-layer state as ivfpq's centroids) is collected once and the
    selection is one vectorized mapInPandas over the queries: zero
    shuffle, zero window, one narrow Arrow pass, same
    (lb, cd, part_id)-ordered choice per query (the per-query math is
    _route's own). Scale shape is unchanged — the routing table stays
    bounded by shard count, never data size; the per-batch distance
    block is (batch x shards x dim), the same envelope as ivfpq's
    probe assignment."""
    from collections.abc import Iterator

    rows = routing.select("part_id", "centroid", "radius").collect()
    out_schema = "query_id long, query_embedding array<double>, part_id int"
    if not rows:
        return queries.sparkSession.createDataFrame([], out_schema)
    pids = np.asarray([int(r["part_id"]) for r in rows], dtype=np.int32)
    cents = np.asarray([r["centroid"] for r in rows], dtype=np.float64)
    radii = np.asarray([float(r["radius"]) for r in rows], dtype=np.float64)
    p = min(int(probe_shards), len(rows))

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            qv = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["query_embedding"]]
            )
            diff = qv[:, None, :] - cents[None, :, :]
            cd = np.sqrt(np.einsum("ijk,ijk->ij", diff, diff))
            lb = np.maximum(cd - radii[None, :], 0.0)
            # (lb, cd, part_id) ascending — lexsort's LAST key is primary
            order = np.lexsort(
                (np.broadcast_to(pids, cd.shape), cd, lb), axis=-1
            )[:, :p]
            # embeddings pass through as ndarray/list REFERENCES (never
            # .tolist() — the boxing dominated ivfpq's 100k-query probe
            # stage; same lesson applies here)
            emb_src = pdf["query_embedding"].to_numpy()
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(
                        pdf["query_id"].to_numpy().astype(np.int64), p
                    ),
                    "query_embedding": np.repeat(emb_src, p),
                    "part_id": pids[order.reshape(-1)],
                }
            )

    # a narrow query batch (e.g. a cached limit() table — ONE partition
    # by construction) must not serialize the routing onto a single
    # python worker; the window Exchange this form replaced used to
    # re-distribute the rows as a side effect (partitioning.py)
    qsrc = widen_for_python_stage(
        queries.select("query_id", "query_embedding")
    )
    return qsrc.mapInPandas(assign, out_schema)


def hnsw_search(
    graph_df: DataFrame,
    query_vec: list[float],
    k: int,
    ef: int | None = None,  # None = EF_DEFAULT (callers forward their own
    # optional knob without rebuilding kwargs)
    probe_shards: int | None = None,
    routing: DataFrame | None = None,
    allowed_col: str | None = None,
) -> DataFrame:
    """One query's top-k over the shard graphs: hnsw_search_batch on a
    one-query batch, returned as (id, dist) in (dist, id) order. The
    knobs are the batch operator's: ``allowed_col`` (a BOOLEAN column on
    ``graph_df`` selecting the filtered descent; null flags count as
    disallowed) and ``probe_shards``/``routing`` (descend only the top-p
    shards of a spatial build by the centroid+radius lower bound; None =
    every shard)."""
    return (
        hnsw_search_batch(
            graph_df, [(0, query_vec)], k, ef=ef, probe_shards=probe_shards,
            routing=routing, allowed_col=allowed_col,
        )
        .drop("query_id")
        .orderBy(F.col("dist").asc(), F.col("id").asc())
    )


def _graph_nbytes(ids: np.ndarray, g: _ShardGraph) -> int:
    """Resident bytes of one rehydrated shard graph — the entry size the
    shared byte-budgeted worker cache charges (round 9, r8 VERDICT 4):
    the vector matrix dominates, adjacency + degrees + levels + ids are
    the rest."""
    return int(
        ids.nbytes + g.x.nbytes + g.nbr.nbytes + g.deg.nbytes + g.levels.nbytes
    )


def _tags_nbytes(tags_by_col: dict) -> int:
    """Estimated resident bytes of parsed tag frozensets: ~64 B of set
    overhead per row plus ~64 B per element (python small-int/str objects
    are interned/shared, so this over- rather than under-charges)."""
    total = 0
    for tags, _kind in tags_by_col.values():
        total += 64 * len(tags) + 64 * sum(len(t) for t in tags)
    return total


#: Per-worker rehydrated-graph caching for the IN-MEMORY batch tier.
#: Rehydration (Arrow -> flat-array adjacency) dominates repeat-query
#: latency (~an order of magnitude over the descent itself); serving
#: engines keep segment graphs hot the same way (Lucene's HNSW segment
#: readers). Keyed by a digest of the shard's (ids, levels) arrays —
#: every mutation path (hnsw_add / hnsw_remove / rebuild) changes
#: membership or levels, so a stale entry cannot be served. Since round 9
#: entries live in the SHARED byte-budgeted worker cache
#: (operators.worker_cache) alongside both snapshot tiers, charged at
#: their measured array bytes — co-resident tiers evict each other's
#: coldest bytes instead of overshooting independent count caps.


def _rehydrate_cached(pdf: pd.DataFrame) -> tuple[np.ndarray, _ShardGraph]:
    import hashlib

    from neighborly_spark.operators.worker_cache import WORKER_CACHE

    ids = pdf["id"].to_numpy(dtype=np.int64)
    levels = pdf["level"].to_numpy(dtype=np.int64)
    # boundary-row embeddings ride in the digest as cheap defense-in-depth
    # against a hand-built artifact that changes geometry while keeping
    # (ids, levels) — O(dim) bytes, not O(rows)
    edge = (
        np.asarray(pdf["embedding"].iloc[0], dtype=np.float32).tobytes()
        + np.asarray(pdf["embedding"].iloc[-1], dtype=np.float32).tobytes()
        if len(pdf)
        else b""
    )
    key = (
        "hnsw_mem",
        hashlib.md5(ids.tobytes() + b"|" + levels.tobytes() + b"|" + edge).digest(),
    )
    hit = WORKER_CACHE.get(key)
    if hit is None:
        hit = _rehydrate(pdf)
        WORKER_CACHE.put(key, hit, _graph_nbytes(hit[0], hit[1]))
    return hit


def _rehydrate(pdf: pd.DataFrame) -> tuple[np.ndarray, _ShardGraph]:
    """Rebuild one shard's in-memory graph view from its artifact rows.
    The artifact stores float32 vectors, so the matrix loads as float32
    (the kernel's native beam dtype); reported distances stay exact
    float64 via _dist.

    The id->position translation is VECTORIZED (one searchsorted over the
    flattened neighbor ids + one fancy-index scatter into the adjacency
    matrix): at 50k-row shards the old per-element dict-lookup loop
    (~1.7M lookups) was the dominant cold-search cost on an LRU miss."""
    ids = pdf["id"].to_numpy()
    g = _ShardGraph.__new__(_ShardGraph)
    g.x = np.ascontiguousarray(np.stack(pdf["embedding"].to_numpy()), dtype=np.float32)
    g.levels = pdf["level"].to_numpy().astype(np.int64)
    g.m, g.max_m0, g.efc = M_DEFAULT, MAX_M0_DEFAULT, EF_CONSTRUCTION_DEFAULT
    lens_l, flat_l = [], []
    for node in pdf["neighbors"]:
        for lst in node:
            lens_l.append(len(lst))
            flat_l.append(np.asarray(lst, dtype=np.int64))
    # per-row absolute indices: node i's layers occupy rows
    # row_off[i] .. row_off[i]+levels[i]; the artifact's neighbors arrays
    # have exactly levels+1 layers by schema, so the flattened order above
    # IS row order
    counts = g.levels + 1
    lens = np.asarray(lens_l, dtype=np.int64)
    # capacity covers both the defaults and whatever degrees the artifact
    # actually carries (a graph built with non-default M still rehydrates)
    g.max_m0 = max(g.max_m0, int(lens.max()) if len(lens) else 0)
    g._alloc()
    total_rows = int(counts.sum())
    rows = np.arange(total_rows, dtype=np.int64)  # == repeat(row_off)+layer
    flat = np.concatenate(flat_l) if flat_l else np.zeros(0, dtype=np.int64)
    pos_flat = _positions_of(ids.astype(np.int64), flat)
    col = np.arange(lens.sum(), dtype=np.int64) - np.repeat(
        np.cumsum(lens) - lens, lens
    )
    g.nbr[np.repeat(rows, lens), col] = pos_flat
    g.deg[rows] = lens
    top = int(g.levels.max())
    entries = np.flatnonzero(g.levels == top)
    g.entry = int(entries[np.argmin(ids[entries])])  # deterministic tie
    return ids, g


def _answer_queries(
    ids: np.ndarray, g: _ShardGraph, mask, q_pdf: pd.DataFrame, k: int, ef: int
) -> pd.DataFrame:
    """One shard's (query_id, id, dist) candidates for every query row of
    ``q_pdf`` — the per-shard step of both batch tiers (in-memory cogroup
    and worker-resident snapshot): ONE lockstep _ShardGraph.search_batch
    over all of the task's queries, and output columns cut from its result
    arrays (rows per query in ascending distance). ``mask`` (bool over node
    positions or None) selects the filtered search."""
    dim = g.x.shape[1]
    Q = np.stack(q_pdf["query_embedding"].to_numpy()) if len(q_pdf) else np.zeros((0, dim))
    pos, dist = g.search_batch(Q, k, ef, mask)
    hit = pos >= 0
    return pd.DataFrame(
        {
            "query_id": np.repeat(q_pdf["query_id"].to_numpy(dtype=np.int64), hit.sum(axis=1)),
            "id": ids[pos[hit]].astype(np.int64),
            "dist": dist[hit],
        }
    )


def hnsw_search_batch(
    graph_df: DataFrame,
    queries,
    k: int,
    ef: int | None = None,
    probe_shards: int | None = None,
    routing: DataFrame | None = None,
    allowed_col: str | None = None,
    trust_routing: bool = False,
) -> DataFrame:
    """Batch form: every shard answers ALL queries in one task (the graph
    is rehydrated once per shard, not once per query, and the task's
    queries advance through ONE lockstep beam, _ShardGraph.search_batch,
    not one heapq loop each), emitting
    (query_id, id, dist) candidates; per-query top-k is then taken over the
    shard candidates — a row_number over at most shards x k rows per query,
    bounded by the shard count, never by data size.

    ``queries`` is a (query_id, query_embedding) DataFrame (round-6
    VERDICT 1 — the 100 TB serving shape is a large query TABLE joined
    against the prebuilt graph; the reference's server serves unbounded
    query streams, API.gRPC/Services/VectorService.cs:73-85) or a
    [(query_id, vector), ...] list, which becomes a JVM LocalRelation
    (session.local_relation_queries) and takes the same path. The query
    side never touches the driver: with ``probe_shards`` it routes through
    hnsw_route_queries; exhaustively it fans out via a broadcast crossJoin
    against the shard-count part_id list, and either way one cogroup
    delivers each shard its graph rows AND its queries in one task.

    ``probe_shards=p`` routes each query to its own top-p shards (centroid+
    radius lower bound, _route's ordering) with no per-query driver work
    (round-5 VERDICT 3): the (query, shard)
    assignments come from hnsw_route_queries (one vectorized mapInPandas
    over the queries against the shard-count routing table), shards no
    query probes are semi-joined out of the scan, and the cogroup delivers
    each probed shard its graph rows AND its routed queries in one task —
    total beam work drops from |Q| x shards to |Q| x p.

    A caller-supplied ``routing`` table may be STALE (contain a shard the
    graph no longer has — e.g. built before a remove): assignments to such
    shards are semi-joined out against the graph's live part_ids, because
    a cogroup group with an empty graph side crashes the Arrow decode on
    the nested neighbors column (see hnsw_add's sentinel note). Callers
    that refresh routing on every mutation (SearchService) pass
    ``trust_routing=True`` to skip that guard's extra part_id scan."""
    from pyspark.sql import Window

    ef = EF_DEFAULT if ef is None else int(ef)
    if not isinstance(queries, DataFrame):
        queries = local_relation_queries(
            graph_df.sparkSession, queries, elem_type="double"
        )
    qdf = queries.select("query_id", "query_embedding")

    if probe_shards is not None:
        rt = routing if routing is not None else hnsw_routing_table(graph_df)
        assigned = hnsw_route_queries(rt, qdf, probe_shards)
        if routing is not None and not trust_routing:
            # stale-routing guard (docstring): drop assignments to shards
            # the graph no longer carries — one shard-count-bounded distinct
            assigned = assigned.join(
                F.broadcast(graph_df.select("part_id").distinct()), "part_id", "semi"
            )
        # every surviving assignment part_id exists in the graph (fresh
        # routing derives from it; stale routing is guarded above) and every
        # probed shard has >= 1 assignment (the semi join), so no cogroup
        # side is ever empty — the nested-array empty-side segfault (see
        # hnsw_add) cannot trigger here.
        shards = graph_df.join(
            F.broadcast(assigned.select("part_id").distinct()), "part_id", "semi"
        )
    else:
        # exhaustive: every shard answers every query — the query table
        # replicates once per shard (broadcast crossJoin against the
        # shard-count part_id list; the graph side of every cogroup group
        # is non-empty since the part_ids come FROM the graph). part_id is
        # aliased through a fresh attribute: cogrouping assigned against
        # graph_df would otherwise be an ambiguous self-join (both sides
        # carry graph_df's part_id expression id)
        pids = graph_df.select(F.col("part_id").alias("_pid")).distinct()
        assigned = qdf.crossJoin(F.broadcast(pids)).withColumnRenamed("_pid", "part_id")
        shards = graph_df

    def merge(key: tuple, graph_pdf: pd.DataFrame, q_pdf: pd.DataFrame) -> pd.DataFrame:
        ids, g = _rehydrate_cached(graph_pdf)
        mask = (
            np.asarray(graph_pdf[allowed_col].fillna(False), dtype=bool)
            if allowed_col is not None else None
        )
        return _answer_queries(ids, g, mask, q_pdf, k, ef)

    # NO explicit group-key repartition here, unlike the snapshot tier:
    # this cogroup ships the GRAPH bytes (~20 MB/shard), which keep AQE's
    # byte-count coalescing honest, and an A/B showed the forced
    # repartition costs ~33% at small batches for a ~12% gain at 100k
    # queries. Large query fan-ins against a durable index should use the
    # snapshot tier (worker-resident loads + query_salt), which is both
    # faster (no graph re-shipping) and repartition-protected.
    local = (
        shards.groupBy("part_id")
        .cogroup(assigned.groupBy("part_id"))
        .applyInPandas(merge, "query_id long, id long, dist double")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dist").asc(), F.col("id").asc())
    return local.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= k).drop("_rn")


#: SNAPSHOT shard graphs cache keyed ("hnsw", path, part_id, version) in
#: the SHARED byte-budgeted worker cache — the version string changes on
#: every save, so a stale entry cannot be served.
#: Per-worker hit/miss counters (test observability; reset freely).
_SNAPSHOT_CACHE_STATS = {"hits": 0, "misses": 0}


def _positions_of(ids: np.ndarray, flat: np.ndarray) -> np.ndarray:
    """Map neighbor IDS to node POSITIONS, vectorized. Dense ids (range
    within 32x the count — the common case for sequential keys) take an
    O(1)-per-lookup table; otherwise argsort + searchsorted. The mapping
    is ~all of rehydration cost at 50k-row shards (1.7M lookups)."""
    if len(flat) == 0:
        return flat.astype(np.int64)
    lo, hi = int(ids.min()), int(ids.max())
    rng = hi - lo + 1
    if rng <= 32 * len(ids):
        table = np.empty(rng, dtype=np.int64)
        table[ids - lo] = np.arange(len(ids), dtype=np.int64)
        return table[flat - lo]
    order = np.argsort(ids, kind="stable")
    return order[np.searchsorted(ids[order], flat)]


def _dequantize_sq8_arrow(col, n: int, sq8: dict) -> np.ndarray:
    """Unpack an ``embedding_sq8`` packed-words column (array<long>, byte
    j of word w = dim 8w+j — quantization.sq_encode_expr's layout) into the
    float32 vector matrix the beam kernel runs on. Fully vectorized:
    reshape -> one broadcasted shift/mask -> one fma. The arithmetic >>
    sign-extends the top byte; & 255 erases the extension (the numpy twin
    of sq_byte_expr)."""
    from neighborly_spark.operators.quantization import SQ_BYTES_PER_WORD

    vmin = np.asarray(sq8["vmin"], dtype=np.float64)
    vmax = np.asarray(sq8["vmax"], dtype=np.float64)
    dim = len(vmin)
    scale = (vmax - vmin) / 255.0
    n_words = (dim + SQ_BYTES_PER_WORD - 1) // SQ_BYTES_PER_WORD
    combined = col.combine_chunks()
    if combined.null_count:
        # a row whose ENTIRE list is null would be silently dropped by
        # flatten() and surface later as an opaque reshape ValueError
        # (round-10 ADVICE) — raise the same diagnostic as the
        # null-element path below
        raise ValueError(
            "sq8 snapshot shard contains null packed words (non-finite "
            "source vectors); hnsw graph artifacts are finite by "
            "construction — rebuild the graph through hnsw_build before "
            "hnsw_snapshot_write(sq8=True)"
        )
    raw = combined.flatten().to_numpy(zero_copy_only=False)
    if raw.dtype.kind == "f" and np.isnan(raw).any():
        # null packed words mark a non-finite source vector
        # (sq_encode_expr's null gate). Graph artifacts are finite by
        # construction (hnsw_build filters finite_vector_pred), so a null
        # here means a hand-built artifact — astype would silently turn
        # NaN into INT64_MIN and fabricate a finite-but-bogus vector that
        # could be RETURNED as a neighbor (round-10 review). Fail loudly.
        raise ValueError(
            "sq8 snapshot shard contains null packed words (non-finite "
            "source vectors); hnsw graph artifacts are finite by "
            "construction — rebuild the graph through hnsw_build before "
            "hnsw_snapshot_write(sq8=True)"
        )
    flat = raw.astype(np.int64)
    words = flat.reshape(n, n_words) if n else flat.reshape(0, n_words)
    shifts = 8 * np.arange(SQ_BYTES_PER_WORD, dtype=np.int64)
    b = ((words[:, :, None] >> shifts) & 255).reshape(n, n_words * SQ_BYTES_PER_WORD)[:, :dim]
    return np.ascontiguousarray(vmin + b * scale, dtype=np.float32)


def _rehydrate_arrow(tbl, sq8: dict | None = None) -> tuple[np.ndarray, _ShardGraph]:
    """Arrow-native twin of _rehydrate for the snapshot tier: the nested
    neighbors column flattens through its LIST OFFSETS (two flatten calls
    + one np.diff) instead of a per-row python loop — measured ~10x on a
    50k-row shard, which is the cold-load cost the per-worker LRU can't
    hide when traffic rotates across workers.

    ``sq8`` (round 10, VERDICT 5): an SQ8-quantized artifact
    (hnsw_snapshot_write(sq8=True)) stores the vector payload as packed
    8-bit codes — ~4x fewer artifact bytes, so cold shard loads read ~4x
    less and 4x more shards fit a remote-storage byte budget. The params
    dict ({"vmin","vmax"}, from the snapshot manifest) dequantizes here at
    load time; the RESIDENT graph is the same float32 matrix either way,
    so the beam kernel and the worker-cache charge are unchanged."""
    ids = tbl["id"].to_numpy().astype(np.int64)
    g = _ShardGraph.__new__(_ShardGraph)
    if sq8 is not None and "embedding_sq8" in tbl.column_names:
        g.x = _dequantize_sq8_arrow(tbl["embedding_sq8"], len(ids), sq8)
    else:
        if "embedding" not in tbl.column_names:
            raise ValueError(
                "snapshot shard has no 'embedding' column but carries "
                "'embedding_sq8' — this is an SQ8-quantized artifact; pass "
                "its sq8 params (the manifest's {'vmin','vmax'}) to the "
                "snapshot search"
                if "embedding_sq8" in tbl.column_names
                else "snapshot shard has no vector payload column"
            )
        emb = tbl["embedding"].combine_chunks()
        flat_emb = emb.flatten().to_numpy(zero_copy_only=False)
        g.x = np.ascontiguousarray(
            flat_emb.reshape(len(ids), -1) if len(ids) else flat_emb.reshape(0, 0),
            dtype=np.float32,
        )
    g.levels = tbl["level"].to_numpy().astype(np.int64)
    g.m, g.max_m0, g.efc = M_DEFAULT, MAX_M0_DEFAULT, EF_CONSTRUCTION_DEFAULT
    outer = tbl["neighbors"].combine_chunks()
    layer_lists = outer.flatten()  # one row per (node, layer), row order
    off = layer_lists.offsets.to_numpy()
    lens = np.diff(off).astype(np.int64)
    flat = layer_lists.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
    g.max_m0 = max(g.max_m0, int(lens.max()) if len(lens) else 0)
    g._alloc()
    rows = np.arange(len(lens), dtype=np.int64)  # == row_off[i] + layer
    pos_flat = _positions_of(ids, flat)
    col = np.arange(lens.sum(), dtype=np.int64) - np.repeat(
        np.cumsum(lens) - lens, lens
    )
    g.nbr[np.repeat(rows, lens), col] = pos_flat
    g.deg[rows] = lens
    top = int(g.levels.max())
    entries = np.flatnonzero(g.levels == top)
    g.entry = int(entries[np.argmin(ids[entries])])
    return ids, g


#: Graph-artifact columns that are never tag passthroughs (embedding_sq8
#: is the packed array<long> payload of an SQ8 artifact — list-typed, so
#: the tag parser must know to skip it).
_GRAPH_COLS = frozenset(
    {"part_id", "id", "level", "embedding", "embedding_sq8", "neighbors"}
)


def _parse_tag_columns(tbl, core_cols) -> dict:
    """Parse every list-typed non-core column of an Arrow artifact table
    into {name: (row-aligned list of frozensets, element kind)} — the
    worker-side tag representation both snapshot tiers cache (hnsw shards
    and, since round 9, ivfpq cells). Null tags parse to the empty set
    (both predicates reject it, matching the plan path's null-predicate
    filter). O(rows) python sets — cheap next to the Arrow rehydration."""
    import pyarrow as pa

    tags_by_col: dict = {}
    for name in tbl.column_names:
        if name in core_cols:
            continue
        typ = tbl.schema.field(name).type
        if not (pa.types.is_list(typ) or pa.types.is_large_list(typ)):
            continue  # tag predicates are array predicates
        tags = [
            frozenset(t) if t is not None else frozenset()
            for t in tbl[name].to_pylist()
        ]
        vt = typ.value_type
        tag_kind = (
            int if pa.types.is_integer(vt)
            else float if pa.types.is_floating(vt)
            else str if pa.types.is_string(vt) or pa.types.is_large_string(vt)
            else None
        )
        tags_by_col[name] = (tags, tag_kind)
    return tags_by_col


def _load_snapshot_shard(
    path: str, part_id: int, version: str, tags_col: str = "tags",
    sq8: dict | None = None,
):
    """Worker-side load of one shard graph from its parquet partition
    directory (pyarrow, no Spark plan involved), LRU-cached per worker.
    Returns (ids, graph, tags, kind) where ``tags`` is a row-aligned list
    of frozensets parsed from the snapshot's ``tags_col`` (tags ride the
    graph artifact when it was built with tags_col — round-6 VERDICT 2:
    durable + filtered is the common production pairing, so the snapshot
    tier must evaluate the tag mask worker-side), or None when the
    snapshot has no such column.

    ONE cache entry per (path, part_id, version) — round-7 VERDICT 8: the
    key used to include ``tags_col``, so an unfiltered search and a
    filtered one on the same shard rehydrated the graph twice. Every
    list-typed passthrough column is parsed unconditionally at load time
    (tag parse is O(rows) python sets — cheap next to the Arrow->adjacency
    rehydration), so filtered-after-unfiltered serves warm regardless of
    which column the filter names."""
    from neighborly_spark.operators.worker_cache import WORKER_CACHE

    key = ("hnsw", path, part_id, version)
    hit = WORKER_CACHE.get(key)
    if hit is None:
        import pyarrow.parquet as pq

        tbl = pq.read_table(f"{path}/part_id={part_id}")
        ids, g = _rehydrate_arrow(tbl, sq8=sq8)
        tags_by_col = _parse_tag_columns(tbl, _GRAPH_COLS)
        hit = (ids, g, tags_by_col)
        WORKER_CACHE.put(
            key, hit, _graph_nbytes(ids, g) + _tags_nbytes(tags_by_col)
        )
        _SNAPSHOT_CACHE_STATS["misses"] += 1
    else:
        _SNAPSHOT_CACHE_STATS["hits"] += 1
    ids, g, tags_by_col = hit
    tags, tag_kind = tags_by_col.get(tags_col, (None, None))
    return ids, g, tags, tag_kind


def _coerce_tag_literals(values, kind) -> tuple[frozenset, bool]:
    """Replicate the plan path's literal cast (_tag_predicate casts the
    filter literals to the TABLE's tags element type, so tag_any=[1] on a
    string-tags table matches "1"): coerce each value with the snapshot's
    element kind, dropping uncastable ones the way Spark's cast yields
    null (a null literal element can never match). Returns (coerced set,
    whether anything was dropped)."""
    if kind is None:
        return frozenset(values), False
    out, dropped = set(), False
    for v in values:
        try:
            out.add(kind(v))
        except (TypeError, ValueError):
            dropped = True
    return frozenset(out), dropped


def _tags_allowed_mask(tags: list, tag_any, tag_all, kind=None) -> np.ndarray:
    """Row-aligned bool mask replicating SearchService._tag_predicate's
    semantics over python sets: `any` = non-empty intersection
    (arrays_overlap), `all` = superset (intersect-covers), with the filter
    literals coerced to the tags element ``kind`` exactly like the plan
    path's cast. Null tags parse to the empty set, which both predicates
    reject — matching the plan form, where a null array yields a null
    predicate and filters out. An uncastable tag_all value can never be
    contained (the plan's intersect-with-null-literal is always short),
    so it zeroes the mask."""
    any_s, _ = _coerce_tag_literals(tag_any, kind) if tag_any else (None, False)
    all_s, all_dropped = _coerce_tag_literals(tag_all, kind) if tag_all else (None, False)
    if tag_all and all_dropped:
        return np.zeros(len(tags), dtype=bool)
    return np.fromiter(
        (
            (any_s is None or bool(ts & any_s)) and (all_s is None or all_s <= ts)
            for ts in tags
        ),
        dtype=bool,
        count=len(tags),
    )


def hnsw_snapshot_write(
    graph_df: DataFrame,
    path: str,
    dim: int | None = None,
    sq8: bool = False,
    sq_model=None,
) -> dict | None:
    """Write the graph artifact (partitionBy('part_id') parquet — the
    layout every snapshot consumer reads).

    ``sq8=True`` (round 10, VERDICT 5) stores the vector payload as packed
    8-bit scalar-quantized codes (quantization.sq_encode_expr — a pure
    codegen expression, no Python in the write) instead of array<float>:
    ~4x fewer artifact bytes, so cold shard loads read ~4x less from
    remote storage and 4x more shards fit a storage byte budget. The
    RESIDENT graph is unchanged — _rehydrate_arrow dequantizes to float32
    at load, so the beam kernel and the worker-cache charge are identical;
    only search results move (8-bit rounding perturbs distances), which is
    recall-gated in tests (>= 0.8 vs exact, no-harm vs float artifacts).

    Returns the params dict ({"vmin","vmax"}) the caller must persist in
    its manifest and pass back as the ``sq8`` arg of
    hnsw_search_batch_snapshot, or None for float artifacts. ``sq_model``
    reuses an already-trained quantization.SQModel; otherwise one min/max
    aggregate over the graph trains it (``dim`` required)."""
    if not sq8:
        graph_df.write.mode("overwrite").partitionBy("part_id").parquet(path)
        return None
    from neighborly_spark.operators.quantization import sq_encode_expr, sq_train

    if sq_model is None:
        if dim is None:
            raise ValueError("sq8=True needs dim (or a pre-trained sq_model)")
        sq_model = sq_train(graph_df, dim, vec_col="embedding")
    enc = graph_df.withColumn(
        "embedding_sq8", sq_encode_expr("embedding", sq_model)
    ).drop("embedding")
    enc.write.mode("overwrite").partitionBy("part_id").parquet(path)
    return {"vmin": sq_model.vmin, "vmax": sq_model.vmax}


def hnsw_search_batch_snapshot(
    spark,
    graph_path: str,
    part_ids: list[int],
    queries,
    k: int,
    version: str,
    ef: int | None = None,
    probe_shards: int | None = None,
    routing: DataFrame | None = None,
    tag_any: list | None = None,
    tag_all: list | None = None,
    tags_col: str = "tags",
    query_salt: int = 1,
    sq8: dict | None = None,
) -> DataFrame:
    """Serve a SAVED graph (SearchService.save layout:
    partitionBy('part_id') parquet) with ZERO graph bytes in the plan —
    the Lucene segment-reader shape, and the serving tier that matters at
    100 TB: the applyInPandas input is only the (query_id, embedding,
    part_id) assignment rows (query-sized), each worker reads its shard's
    immutable parquet files directly and keeps the rehydrated graph hot in
    a per-worker LRU keyed by the snapshot ``version``. The DataFrame
    serving path (hnsw_search_batch) re-ships every shard's embeddings +
    adjacency through Arrow on EVERY query — fine for freshly-built cached
    graphs, a ~20 MB/shard/query tax when serving a durable index.

    ``part_ids`` is the saved shard list (the snapshot manifest carries
    it); ``probe_shards`` + ``routing`` route per query in-plan exactly
    like hnsw_search_batch. ``queries`` is a list or a (query_id,
    query_embedding) DataFrame (round-6 VERDICT 1 — same contract as
    hnsw_search_batch; a DataFrame query side never touches the driver).
    Results equal the DataFrame path up to distance TIES (shard-local
    candidate positions follow file row order).

    ``tag_any`` / ``tag_all`` (round-6 VERDICT 2) run the FILTERED descent
    worker-resident: the tags ride the snapshot shards (they're columns of
    the saved graph artifact), each worker parses them once per (shard,
    version) into its LRU entry, and the allowed mask is evaluated
    worker-side — filtered + durable serving still ships zero graph bytes
    per query. Raises in the task if the snapshot lacks ``tags_col``
    (SearchService validates the column driver-side before calling).

    ``query_salt=s`` splits each shard's query set across ``s`` tasks
    (group key (part_id, salt-of-query_id)) — round 8: with worker-
    resident graph loads the per-shard task is pure query work, so a
    shard probed by a large query fan-in otherwise becomes a straggler
    bounded by PROBED-SHARD COUNT, not cores (measured: 100k queries x
    p=2 over 16 shards = 16 tasks on 32 cores). Salting multiplies
    shard loads per worker (the LRU absorbs repeats), so keep s modest
    (2-8); results are identical for any s — the per-query descent does
    not depend on which task runs it, nor on which other queries share
    the task's lockstep beam (_answer_queries: one _ShardGraph.search_batch
    per task, each query's beam state its own row).

    ``sq8`` serves an SQ8-quantized artifact (hnsw_snapshot_write(
    sq8=True) / SearchService.save(hnsw_sq8=True)): pass the manifest's
    {"vmin","vmax"} params — workers dequantize to float32 at shard-load
    time, so resident memory and the beam kernel are unchanged; only the
    cold-load bytes shrink ~4x. Results are recall-gated rather than
    bit-equal vs the float artifact (8-bit rounding perturbs distances)."""
    ef = EF_DEFAULT if ef is None else int(ef)
    # JVM LocalRelations end to end: a python-list createDataFrame would
    # put a python-RDD scan (one worker round trip per scan — measured
    # ~4 s/query) in front of every search, and a bare crossJoin of two
    # such frames compiles to a 32x32-task CartesianProduct (measured 11 s
    # for 1x3 rows). VALUES + explicit broadcast keeps the whole
    # assignment plan JVM-side at task-count ~ shards.
    qdf = (
        queries.select("query_id", "query_embedding")
        if isinstance(queries, DataFrame)
        else local_relation_queries(spark, queries, elem_type="double")
    )
    if probe_shards is not None:
        if routing is None:
            raise ValueError("probe_shards needs the routing table")
        assigned = hnsw_route_queries(routing, qdf, probe_shards)
    else:
        pid_df = spark.sql(
            "SELECT cast(col1 as int) part_id FROM VALUES "
            + ", ".join(f"({int(p)})" for p in part_ids)
        )
        assigned = qdf.crossJoin(F.broadcast(pid_df))
    filtered = bool(tag_any) or bool(tag_all)
    any_t = sorted(set(tag_any)) if tag_any else None
    all_t = sorted(set(tag_all)) if tag_all else None

    def per_shard(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ids, g, tags, kind = _load_snapshot_shard(
            graph_path, int(key[0]), version, tags_col, sq8=sq8
        )
        mask = None
        if filtered:
            if tags is None:
                raise ValueError(
                    f"snapshot shard {int(key[0])} has no {tags_col!r} column "
                    "— the graph was built without tags_col"
                )
            mask = _tags_allowed_mask(tags, any_t, all_t, kind)
        return _answer_queries(ids, g, mask, pdf, k, ef)

    from pyspark.sql import Window

    if query_salt > 1:
        assigned = assigned.withColumn(
            "_qsalt", F.pmod(F.xxhash64(F.col("query_id")), F.lit(int(query_salt)))
        )
        keys = ["part_id", "_qsalt"]
    else:
        keys = ["part_id"]
    # EXPLICIT repartition on the group key (round 8): the assignment frame
    # is query-sized and BYTE-small (the graph stays on disk — that is the
    # tier's whole point), so AQE's shuffle coalescing folds the cogroup
    # exchange into 1-2 partitions by byte count and SERIALIZES the beam
    # work (measured: 100k queries x p=2 over 16 shards ran in ONE python
    # worker — ~250 s for ~55 s of search CPU). Bytes are the wrong cost
    # model for a python-compute-bound stage; a user repartition with an
    # explicit count is exempt from AQE coalescing and satisfies the
    # ClusteredDistribution the grouped applyInPandas needs (no second
    # exchange). Group count caps the useful width.
    # HASH repartition, not repartitionByRange: range placement would be
    # contiguous (no balls-in-bins collisions among the ~shards x salt
    # groups), but it was MEASURED 25-30% slower at the 100k-query shape
    # (docs/SCALE.md round-8 partitioner A/B: hash 28.5/29.8 s vs range
    # 36.2/38.2 s) — the range-boundary sampling pass re-scans the
    # embedding-carrying assignment rows, and boundaries sampled over so
    # few distinct keys can collapse neighboring groups into one
    # partition. query_salt is the straggler lever instead.
    n_groups = max(1, len(part_ids) * max(1, int(query_salt)))
    n_parts = min(n_groups, spark.sparkContext.defaultParallelism)
    local = assigned.repartition(n_parts, *keys).groupBy(*keys).applyInPandas(
        per_shard, "query_id long, id long, dist double"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dist").asc(), F.col("id").asc())
    return local.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= k).drop("_rn")


def hnsw_add(
    graph_df: DataFrame,
    new_df: DataFrame,
    num_shards: int,
    id_col: str = "id",
    vec_col: str = "embedding",
    m: int = M_DEFAULT,
    max_m0: int = MAX_M0_DEFAULT,
    ef_construction: int = EF_CONSTRUCTION_DEFAULT,
    seed: int = SEED_DEFAULT,
    ml: float = ML_DEFAULT,
    routing: DataFrame | None = None,
) -> DataFrame:
    """Incremental index maintenance (Q13 semantics on the real graph):
    insert new vectors into an EXISTING shard-graph artifact, touching only
    the shards that receive rows.

    For SPATIAL graphs (hnsw_build(spatial=True)) pass the ``routing``
    table: new rows then route to the nearest-centroid shard instead of the
    hash shard, preserving the spatial layout probe_shards search depends
    on.

    New rows route to their shard with the same expression
    `pmod(hash(id), num_shards)` that `repartition(n, id)` uses physically
    (HashPartitioning's partition id is pmod(murmur3, n), and F.hash is the
    same murmur3-seed-42), so adds land in the graph their id would have
    been built into. A cogrouped applyInPandas rehydrates each AFFECTED
    shard once, runs the standard HNSW insert per new node (HNSW.cs:97-146
    semantics; levels drawn from the shard's seeded RNG advanced past the
    rows already inserted), and re-serializes; untouched shards pass
    through unchanged, and a shard with no prior graph is built fresh.

    The result equals a graph where the new nodes were inserted after the
    originals — NOT bit-identical to rebuilding from scratch on the union
    (HNSW is insertion-order-sensitive; recall bars, not hashes, gate it —
    same as the reference's incremental Add).

    ``num_shards`` must be the builder's partition count (SearchService
    tracks it; standalone callers pass what they built with).
    """
    from neighborly_spark.operators.quantization import finite_vector_pred

    # passthrough columns the artifact carries beyond the graph fields
    # (e.g. tags from hnsw_build(tags_col=...)): new rows must supply them
    extra_cols = [c for c in graph_df.columns if c not in _GRAPH_BASE_COLS]
    missing = [c for c in extra_cols if c not in new_df.columns]
    if missing:
        raise ValueError(
            f"the graph artifact carries column(s) {missing} that the new "
            "rows lack — adds to a tagged graph must supply the same columns"
        )
    new_base = new_df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).alias("embedding"),
        *[F.col(c) for c in extra_cols],
        # same finite-only contract as hnsw_build (NaN heap comparisons
        # would silently corrupt the receiving shard's neighbor lists)
    ).filter(finite_vector_pred(F.col("embedding")))
    if routing is not None:
        # spatial routing stays IN-PLAN (round-6 VERDICT 5): the routing
        # table joins in as a broadcast relation, never a collected literal
        new_tagged = nearest_centroid_assign(
            new_base, routing.select("part_id", "centroid"), "embedding"
        ).select("part_id", "id", "embedding", *extra_cols)
    else:
        # Hash the id AFTER the cast to long: hnsw_build shards on
        # pmod(murmur3(long id), n), and murmur3 of int32/string input
        # differs from murmur3 of the long value — hashing the raw column
        # would route non-bigint ids (e.g. string ids from streaming
        # ingest) to a different shard than the one their id was built into.
        part = F.pmod(F.hash(F.col("id")), F.lit(num_shards)).cast("int")
        new_tagged = new_base.select(
            part.alias("part_id"), "id", "embedding", *extra_cols
        )
    # One sentinel row per shard (level = -1) unioned into the graph side:
    # a cogroup group whose graph side is EMPTY segfaults PySpark's
    # arrow_to_pandas on the nested array<array<bigint>> column (worker
    # crash, no traceback — reproduced on a bare cogroup), so shards being
    # built fresh must still deliver at least one graph row. merge() strips
    # them before doing anything.
    spark = graph_df.sparkSession
    sentinels = spark.range(num_shards).select(
        F.col("id").cast("int").alias("part_id"),
        F.lit(-1).cast("long").alias("id"),
        F.lit(-1).cast("int").alias("level"),
        F.array().cast("array<float>").alias("embedding"),
        F.array().cast("array<array<bigint>>").alias("neighbors"),
        *[
            F.lit(None).cast(graph_df.schema[c].dataType).alias(c)
            for c in extra_cols
        ],
    )
    graph_with_sentinels = graph_df.unionByName(sentinels)

    def merge(key: tuple, graph_pdf: pd.DataFrame, new_pdf: pd.DataFrame) -> pd.DataFrame:
        part_id = int(key[0])
        graph_pdf = graph_pdf[graph_pdf["level"] >= 0]
        if len(new_pdf) == 0:
            return graph_pdf  # untouched shard passes through
        rng = np.random.RandomState((seed * 1_000_003 + part_id) % (2**31 - 1))
        new_ids = new_pdf["id"].to_numpy()
        new_x = np.asarray([np.asarray(v, dtype=np.float64) for v in new_pdf["embedding"]])
        if len(graph_pdf) == 0:
            extra = {c: new_pdf[c].to_numpy() for c in extra_cols} or None
            return _build_shard(
                new_ids, new_x, part_id, m, max_m0, ef_construction, ml, seed, extra
            )
        ids, g = _rehydrate(graph_pdf)
        # advance the shard RNG past the levels already drawn at build time
        # so incremental levels continue the same deterministic stream
        rng.uniform(size=len(ids))
        n0 = len(ids)
        g.m, g.max_m0, g.efc = m, max_m0, ef_construction
        g.extend(
            new_x,
            np.minimum(
                (-np.log(rng.uniform(size=len(new_x)) + 1e-300) * ml).astype(np.int64), 63
            ),
        )
        all_ids = np.concatenate([ids, new_ids])
        for i in np.argsort(new_ids, kind="stable"):
            g.insert(n0 + int(i))
        g.finalize()  # trim slack rows before re-serializing
        out = {
            "part_id": np.full(len(all_ids), part_id, dtype=np.int32),
            "id": all_ids.astype(np.int64),
            "level": g.levels.astype(np.int32),
            "embedding": [row for row in g.x.astype(np.float32)],
            "neighbors": [
                [all_ids[np.asarray(layer, dtype=np.int64)].astype(np.int64).tolist() for layer in node]
                for node in g.adj_lists()
            ],
        }
        for c in extra_cols:
            out[c] = pd.concat(
                [graph_pdf[c], new_pdf[c]], ignore_index=True
            ).to_numpy()
        return pd.DataFrame(out)

    return (
        graph_with_sentinels.groupBy("part_id")
        .cogroup(new_tagged.groupBy("part_id"))
        .applyInPandas(merge, graph_df.schema)
    )


def hnsw_remove(
    graph_df: DataFrame,
    remove_ids: list[int],
    m: int = M_DEFAULT,
    max_m0: int = MAX_M0_DEFAULT,
    ef_construction: int = EF_CONSTRUCTION_DEFAULT,
    seed: int = SEED_DEFAULT,
    ml: float = ML_DEFAULT,
) -> DataFrame:
    """Remove vectors from the shard-graph artifact (RemoveById parity).

    Graph deletions are the one HNSW operation with no good in-place form
    (dangling edges degrade recall; the literature tombstones and rebuilds).
    Here the batch shape makes the clean answer cheap: shards CONTAINING a
    removed id rebuild from their surviving rows (deterministic — same
    seeded level stream over the survivors), every other shard passes
    through untouched. Cost is proportional to the affected shards, not
    the index; removal lists are by-contract small (CRUD, not ETL — bulk
    rebuilds should use hnsw_build).
    """
    gone = F.lit([int(i) for i in remove_ids]).cast("array<bigint>")
    drop = set(int(i) for i in remove_ids)
    extra_cols = [c for c in graph_df.columns if c not in _GRAPH_BASE_COLS]

    def rebuild(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        keep = pdf[~pdf["id"].astype("int64").isin(drop)]
        if not len(keep):
            empty = {
                "part_id": pd.Series(dtype="int32"),
                "id": pd.Series(dtype="int64"),
                "level": pd.Series(dtype="int32"),
                "embedding": pd.Series(dtype="object"),
                "neighbors": pd.Series(dtype="object"),
            }
            for c in extra_cols:
                empty[c] = pd.Series(dtype="object")
            return pd.DataFrame(empty)
        ids = keep["id"].to_numpy()
        x = np.asarray([np.asarray(v, dtype=np.float64) for v in keep["embedding"]])
        extra = {c: keep[c].to_numpy() for c in extra_cols} or None
        return _build_shard(ids, x, int(key[0]), m, max_m0, ef_construction, ml, seed, extra)

    hit = (
        graph_df.groupBy("part_id")
        .agg(F.max(F.array_contains(gone, F.col("id")).cast("int")).alias("_hit"))
        .filter(F.col("_hit") == 1)
        .select("part_id")
    )
    untouched = graph_df.join(F.broadcast(hit), "part_id", "left_anti")
    rebuilt = (
        graph_df.join(F.broadcast(hit), "part_id")
        .groupBy("part_id")
        .applyInPandas(rebuild, graph_df.schema)
    )
    return untouched.unionByName(rebuilt)
