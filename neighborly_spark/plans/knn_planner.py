"""Cardinality-based k-NN-join strategy planner.

SURVEY §4.2: the reference needs no Catalyst rules; the one planning
decision worth owning is WHICH k-NN-join formulation to run. This is a plain
Python planner over the three physical strategies (no Catalyst extension):

| strategy     | when                                   | cost shape |
|--------------|----------------------------------------|-----------|
| `exact`      | tiny work (|D|x|Q| small) or exactness | |D|x|Q| interpreted folds, oracle-grade floats |
| `vectorized` | |Q| collectible, result must be exact  | |D|x|Q| BLAS flops, one scan, tiny shuffle |
| `blocked`    | |Q| beyond collect budget but approx   | BLAS per driver-streamed query chunk; |
|              | not allowed (exact results required)   | ceil(|Q|/chunk) scans of (cached) data |
| `lsh`        | |Q| too big to collect/broadcast, or   | bucket join; approximate (recall-gated) |
|              | |D|x|Q| beyond the flop budget          |            |
| `hnsw`       | a prebuilt shard-graph index exists,   | |Q| beam searches per shard — |
|              | |Q| collectible, approx allowed, work  | independent of |D| scans |
|              | beyond the exact BLAS budget           |            |
| `ivfpq`      | a prebuilt IVF+PQ index exists, same   | ADC over nprobe/nlist of the CODE rows |
|              | band as hnsw (hnsw preferred: its      | (m bytes each) + shortlist rerank |
|              | measured recall is higher)             |            |
| `sq`         | a prebuilt SQ8 code table exists, same | one dequantized scan of 1/4 the float |
|              | band, after hnsw/ivfpq (reads ALL code | bytes + shortlist rerank (near-lossless) |
|              | rows, but near-losslessly)             |            |

Index-tier preference within the beyond-exact-budget, |Q|-collectible,
approx-allowed band is by bytes-read per query batch:
hnsw (no |D| scan) > ivfpq (nprobe/nlist of rows x m bytes) > sq (all rows
x dim bytes / 4) > lsh (fresh hashing of both sides).

Thresholds are deliberately coarse — at these break-evens the strategies
differ by orders of magnitude, so the exact constants don't matter.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: |D| x |Q| above which interpreted-fold exact is hopeless (~10^7 folds/s).
EXACT_WORK_LIMIT = 50_000_000
#: queries we are willing to collect to the driver / broadcast.
MAX_COLLECTED_QUERIES = 100_000
#: |D| x |Q| above which even BLAS should yield to candidate pruning.
VECTORIZED_WORK_LIMIT = 5_000_000_000_000  # ~5e12 flops/dim unit
#: shards each query descends on a SPATIAL hnsw layout (recall 1.00 at
#: p=1 on the measured separated/overlapping mixtures, docs/RECALL.md —
#: 2 buys slack for queries on cell boundaries at one extra shard's beam).
DEFAULT_PROBE_SHARDS = 2


@dataclass
class KnnJoinPlan:
    strategy: str  # 'exact' | 'vectorized' | 'blocked' | 'lsh' | 'hnsw' | 'ivfpq' | 'sq'
    reason: str


def plan_knn_join(
    data_count: int,
    query_count: int,
    dim: int,
    require_exact_floats: bool = False,
    allow_approx: bool = True,
    has_hnsw_index: bool = False,
    has_ivfpq_index: bool = False,
    has_sq_index: bool = False,
) -> KnnJoinPlan:
    work = data_count * query_count
    if require_exact_floats:
        return KnnJoinPlan("exact", "caller requires sequential-fold float semantics (oracle parity)")
    if query_count > MAX_COLLECTED_QUERIES:
        # the index tiers are DataFrame-native on the query side (round 7),
        # so a beyond-collect-budget |Q| no longer forces the LSH bucket
        # join when a better prebuilt artifact exists — the query table
        # flows into the tier as a table
        if allow_approx and has_hnsw_index:
            return KnnJoinPlan(
                "hnsw", f"prebuilt shard graphs serve |Q|={query_count} as a DataFrame — no |D| scan, no collect"
            )
        if allow_approx and has_ivfpq_index:
            return KnnJoinPlan(
                "ivfpq", f"prebuilt IVF+PQ codes serve |Q|={query_count} as a DataFrame from probed cells only"
            )
        # NOT sq here: the sq batch join scans ALL code rows per query (|D|x|Q|
        # work) and force-broadcasts the query side — both are wrong
        # beyond the budget. hnsw/ivfpq prune the data side per query.
        if allow_approx:
            return KnnJoinPlan("lsh", f"|Q|={query_count} exceeds collect/broadcast budget")
        return KnnJoinPlan(
            "blocked", f"|Q|={query_count} exceeds collect budget and exact results required"
        )
    if work <= EXACT_WORK_LIMIT and query_count <= 64:
        return KnnJoinPlan("exact", f"|D|x|Q|={work} small enough for declarative folds")
    if work * dim <= VECTORIZED_WORK_LIMIT or not allow_approx:
        # inside the exact-BLAS budget the join stays EXACT even when an
        # hnsw index exists: supplying a graph must not silently degrade
        # mid-size joins to approximate results
        return KnnJoinPlan("vectorized", f"BLAS matmul over |D|x|Q|={work} at dim {dim}")
    if has_hnsw_index:
        # beyond the exact budget an already-built graph answers |Q| beam
        # searches per shard without rescanning |D| — beats a fresh LSH join
        return KnnJoinPlan("hnsw", f"prebuilt shard graphs serve |Q|={query_count} without a |D| scan")
    if has_ivfpq_index:
        # next cheapest: ADC reads only probed-cell CODE rows (m bytes each)
        return KnnJoinPlan(
            "ivfpq", f"prebuilt IVF+PQ codes serve |Q|={query_count} from probed cells only"
        )
    if has_sq_index:
        # one near-lossless scan of 1/4 the float bytes, all queries at once
        return KnnJoinPlan(
            "sq", f"prebuilt SQ8 codes serve |Q|={query_count} at 1/4 the scan bytes"
        )
    return KnnJoinPlan("lsh", f"|D|x|Q|x dim={work * dim} beyond exact budget — prune candidates")


def knn_join_auto(
    data: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    radius_for_lsh: float = 2.5,
    id_col: str = "id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_embedding",
    data_count: int | None = None,
    query_count: int | None = None,
    allow_approx: bool = True,
    indexes: dict | None = None,
) -> tuple[DataFrame, KnnJoinPlan]:
    """Plan and execute; returns (result, plan). Counts may be passed from
    table stats to avoid the count() jobs.

    ``indexes`` enables the index tiers: ``{tier: fn}`` for tiers among
    'hnsw', 'ivfpq' and 'sq', where ``fn(query_df)`` serves a
    (query_id, query_embedding) DataFrame against the prebuilt index and
    returns (query_id, id, dist). The planner only picks the tier and
    renames the query columns in and out; the serving itself (operator,
    durable vs in-memory artifact, probe routing, knobs) belongs to the
    caller — SearchService.knn_join passes its one per-tier batch code,
    the same code search_batch serves."""
    from neighborly_spark.operators.knn import knn_join, knn_join_blocked, knn_join_vectorized
    from neighborly_spark.operators.lsh import approx_knn_join

    indexes = indexes or {}
    nd = data_count if data_count is not None else data.count()
    nq = query_count if query_count is not None else queries.count()
    plan = plan_knn_join(
        nd, nq, dim, allow_approx=allow_approx,
        has_hnsw_index="hnsw" in indexes,
        has_ivfpq_index="ivfpq" in indexes,
        has_sq_index="sq" in indexes,
    )
    cols = dict(id_col=id_col, vec_col=vec_col, query_id_col=query_id_col, query_vec_col=query_vec_col)
    if plan.strategy in indexes:
        # DataFrame query side end-to-end (round 7): no collect at any |Q|
        qdf = queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vec_col).alias("query_embedding"),
        )
        out = indexes[plan.strategy](qdf).withColumnsRenamed(
            {"query_id": query_id_col, "id": id_col}
        )
    elif plan.strategy == "exact":
        out = knn_join(data, queries, k, **cols)
    elif plan.strategy == "vectorized":
        out = knn_join_vectorized(data, queries, k, **cols)
    elif plan.strategy == "blocked":
        out = knn_join_blocked(data, queries, k, **cols)
    else:
        out = approx_knn_join(data, queries, k, radius_for_lsh, dim=dim, **cols)
    return out, plan
