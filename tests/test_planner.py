"""kNN-join planner: strategy choice + end-to-end execution per strategy."""

from __future__ import annotations

from pyspark.sql import functions as F

from neighborly_spark.plans.knn_planner import KnnJoinPlan, knn_join_auto, plan_knn_join


def test_plan_thresholds():
    assert plan_knn_join(1000, 5, 64).strategy == "exact"
    assert plan_knn_join(10_000_000, 32, 64).strategy == "vectorized"
    assert plan_knn_join(1000, 500_000, 64).strategy == "lsh"
    assert plan_knn_join(10_000_000_000, 50_000, 768).strategy == "lsh"
    p = plan_knn_join(10_000_000, 32, 64, require_exact_floats=True)
    assert p.strategy == "exact" and "oracle" in p.reason
    # exactness required: big |Q| -> blocked, big work -> vectorized
    assert plan_knn_join(1000, 500_000, 64, allow_approx=False).strategy == "blocked"
    assert plan_knn_join(10_000_000_000, 50_000, 768, allow_approx=False).strategy == "vectorized"


def test_knn_join_blocked_matches_exact(spark):
    from neighborly_spark.operators.knn import knn_join, knn_join_blocked

    emb = (
        spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        .withColumnRenamed("vec_id", "id")
    )
    queries = emb.limit(25).select(
        F.col("id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    exact = {
        (r.query_id, r.id): r.dist for r in knn_join(emb, queries, k=3).collect()
    }
    # chunk_size 10 -> 3 chunks exercises the block loop + union
    blocked = {
        (r.query_id, r.id): r.dist
        for r in knn_join_blocked(emb, queries, k=3, chunk_size=10).collect()
    }
    assert blocked.keys() == exact.keys()
    # BLAS expands d^2 = |x|^2 - 2xq + |q|^2 (cancellation ~1e-8 on float32
    # inputs); the fold subtracts first. Same ids, distances to ~1e-7.
    for key, d in blocked.items():
        assert abs(d - exact[key]) < 1e-6

    empty = knn_join_blocked(emb, queries.limit(0), k=3, chunk_size=10)
    assert empty.count() == 0 and empty.columns == ["query_id", "id", "dist"]


def test_knn_join_vectorized_cosine_zero_norm_guard(spark):
    """Zero-magnitude vectors must not poison the BLAS cosine path with NaN:
    they rank deterministically worst (similarity 0 / -inf rerank), matching
    the declarative path's NaN-is-worst contract."""
    from neighborly_spark.operators.knn import knn_join_vectorized

    rows = [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.9, 0.1]), (4, [-1.0, 0.0])]
    data = spark.createDataFrame(rows, "id long, embedding array<float>")
    queries = spark.createDataFrame(
        [(0, [1.0, 0.0]), (9, [0.0, 0.0])], "query_id long, query_embedding array<float>"
    )
    out = knn_join_vectorized(data, queries, k=4, metric="cosine")
    rows_out = out.collect()
    assert all(r.dist == r.dist for r in rows_out)  # no NaN anywhere
    per_q = {}
    for r in rows_out:
        per_q.setdefault(r.query_id, []).append((r.dist, r.id))
    # best-first for the real query; the zero data vector ranks last
    ids_q0 = [i for _, i in sorted(per_q[0], key=lambda t: (-t[0], t[1]))]
    assert ids_q0[0] == 1 and ids_q0[-1] in (2, 4)  # 2 (zero) or 4 (opposite) last
    assert {i for _, i in per_q[9]} == {1, 2, 3, 4}  # zero query: all similarity 0


def test_knn_join_auto_executes_chosen_strategy(spark):
    emb = (
        spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        .withColumnRenamed("vec_id", "id")
    )
    queries = emb.limit(3).select(
        F.col("id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    out, plan = knn_join_auto(emb, queries, k=2, dim=64)
    assert isinstance(plan, KnnJoinPlan) and plan.strategy == "exact"
    rows = out.collect()
    assert len(rows) == 6
    # forced vectorized path agrees on the ids
    out2, plan2 = knn_join_auto(
        emb, queries, k=2, dim=64, data_count=10_000_000, query_count=32
    )
    assert plan2.strategy == "vectorized"
    assert {(r.query_id, r.id) for r in out2.collect()} == {
        (r.query_id, r.id) for r in rows
    }


def test_search_service_knn_join_routes_through_planner(spark):
    """SearchService.knn_join is the planner-routed default entry: the
    chosen strategy lands in last_join_plan and every tier agrees with the
    exact path on this fixture."""
    from neighborly_spark.search_service import SearchService

    emb = (
        spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        .withColumnRenamed("vec_id", "id")
    )
    svc = SearchService(emb, dim=64)
    queries = emb.limit(20).select(
        F.col("id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    exact = {
        (r.query_id, r.id)
        for r in svc.knn_join(queries, k=3, require_exact_floats=True).collect()
    }
    assert svc.last_join_plan.strategy == "exact"
    routed = {(r.query_id, r.id) for r in svc.knn_join(queries, k=3).collect()}
    # 500x20 work with |Q|=20<=64 -> planner picks the declarative tier here;
    # force the counts upward to exercise vectorized + blocked routing too
    assert svc.last_join_plan.strategy == "exact"
    assert routed == exact
    vec = {
        (r.query_id, r.id)
        for r in svc.knn_join(queries, k=3, query_count=100).collect()
    }
    assert svc.last_join_plan.strategy == "vectorized"
    assert vec == exact
    blocked = {
        (r.query_id, r.id)
        for r in svc.knn_join(
            queries, k=3, query_count=200_000, allow_approx=False
        ).collect()
    }
    assert svc.last_join_plan.strategy == "blocked"
    assert blocked == exact
    svc.knn_join(queries, k=3, query_count=200_000)
    assert svc.last_join_plan.strategy == "lsh"


def test_salted_agg_matches_direct(spark):
    from neighborly_spark.plans.skew import salted_agg, salted_count

    df = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    direct = {
        (r.l_returnflag, r.l_linestatus): (r.n, round(r.total, 4))
        for r in df.groupBy("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 4).alias("total"))
        .collect()
    }
    salted = {
        (r.l_returnflag, r.l_linestatus): (r.n, round(r.total, 4))
        for r in salted_agg(
            df,
            ["l_returnflag", "l_linestatus"],
            [F.count(F.lit(1)).alias("_c"), F.sum("l_quantity").alias("_s")],
            [F.sum("_c").alias("n"), F.round(F.sum("_s"), 4).alias("total")],
        ).collect()
    }
    assert direct == salted

    counts = {r.l_returnflag: r.n for r in salted_count(df, ["l_returnflag"]).collect()}
    assert sum(counts.values()) == df.count()


def test_planner_hnsw_tier(spark):
    """With a prebuilt shard-graph index, the planner prefers the graph
    over BLAS/LSH for non-exact joins with a collectible query side, and
    the executed join's neighbors match exact kNN at the recall bar."""
    from neighborly_spark.operators.knn import knn_join
    from neighborly_spark.parity import load
    from neighborly_spark.plans.knn_planner import plan_knn_join
    from neighborly_spark.search_service import SearchService

    assert plan_knn_join(1_000_000_000, 1_000, 64, has_hnsw_index=True).strategy == "hnsw"
    # exact still wins tiny work; huge |Q| rides the graph too since round 7
    # (the batch tier consumes the query DataFrame — no collect constraint)
    assert plan_knn_join(1_000, 10, 64, has_hnsw_index=True).strategy == "exact"
    assert plan_knn_join(10_000_000, 200_000, 64, has_hnsw_index=True).strategy == "hnsw"
    # inside the BLAS budget the join stays EXACT even with a graph on hand:
    # supplying hnsw_graph must not silently degrade mid-size joins (r3 ADVICE)
    assert plan_knn_join(10_000_000, 1_000, 64, has_hnsw_index=True).strategy == "vectorized"

    emb = load(spark, "/root/testdata/sf0.01", "embeddings").select(
        F.col("vec_id").alias("id"), "embedding"
    )
    svc = SearchService(emb, dim=64)
    svc.build_index("hnsw")
    queries = emb.limit(100).select(
        F.col("id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    # stats-forced counts put the work beyond the BLAS budget so the planner
    # picks the graph tier; execution still runs on the real small table
    got = svc.knn_join(queries, k=5, data_count=1_000_000_000, query_count=100)
    assert svc.last_join_plan.strategy == "hnsw"
    got_pairs = {(r.query_id, r.id) for r in got.collect()}
    exact_pairs = {
        (r.query_id, r.id) for r in knn_join(emb, queries, k=5).select("query_id", "id").collect()
    }
    assert len(got_pairs) == 500
    assert len(got_pairs & exact_pairs) / len(exact_pairs) >= 0.8


def test_planner_quantized_tiers(spark):
    """Beyond the exact-BLAS budget with a collectible query side, the
    planner prefers prebuilt indexes by bytes-read per query: hnsw >
    ivfpq > sq > lsh; executed joins clear the recall bar vs exact and
    equal search_batch(method=tier) row for row on the same service."""
    from neighborly_spark.operators.knn import knn_join
    from neighborly_spark.parity import load
    from neighborly_spark.plans.knn_planner import DEFAULT_PROBE_SHARDS, plan_knn_join
    from neighborly_spark.search_service import SearchService

    big, q = 1_000_000_000, 1_000
    assert plan_knn_join(big, q, 64, has_ivfpq_index=True).strategy == "ivfpq"
    assert plan_knn_join(big, q, 64, has_sq_index=True).strategy == "sq"
    # preference order when several exist
    assert plan_knn_join(
        big, q, 64, has_hnsw_index=True, has_ivfpq_index=True, has_sq_index=True
    ).strategy == "hnsw"
    assert plan_knn_join(big, q, 64, has_ivfpq_index=True, has_sq_index=True).strategy == "ivfpq"
    # indexes never degrade exact-required or within-budget joins
    assert plan_knn_join(big, q, 64, allow_approx=False, has_sq_index=True).strategy == "vectorized"
    assert plan_knn_join(10_000_000, q, 64, has_ivfpq_index=True).strategy == "vectorized"
    # huge |Q| rides the graph/probed-cells tiers since round 7, but NOT
    # sq: sq_knn_join broadcasts the query side and scans all codes per
    # query (|D|x|Q|) — beyond the budget that's the failure the budget
    # exists to prevent, so sq-only joins fall back to the bucket join
    assert plan_knn_join(big, 200_000, 64, has_sq_index=True).strategy == "lsh"
    assert plan_knn_join(big, 200_000, 64).strategy == "lsh"

    emb = load(spark, "/root/testdata/sf0.01", "embeddings").select(
        F.col("vec_id").alias("id"), "embedding"
    )
    queries = emb.limit(20).select(
        F.col("id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    exact_pairs = {
        (r.query_id, r.id) for r in knn_join(emb, queries, k=5).select("query_id", "id").collect()
    }
    for method, spatial in (("sq", False), ("ivfpq", False), ("hnsw", False), ("hnsw", True)):
        svc = SearchService(emb, dim=64)
        svc.build_index(method, spatial=spatial)
        # stats-forced counts beyond the BLAS budget (1e9 x 1000 x 64 >
        # VECTORIZED_WORK_LIMIT); execution still runs on the real 20 queries
        got = svc.knn_join(queries, k=5, data_count=1_000_000_000, query_count=1_000)
        assert svc.last_join_plan.strategy == method
        got_rows = sorted((r.query_id, r.id, r.dist) for r in got.collect())
        got_pairs = {(q, i) for q, i, _ in got_rows}
        assert len(got_pairs & exact_pairs) / len(exact_pairs) >= 0.8, method
        # one dispatch: the planner's tier IS search_batch's tier code —
        # same rows, same distances (a spatial graph probes the planner's
        # default shard count)
        batch = svc.search_batch(
            queries, k=5, method=method,
            hnsw_probe_shards=DEFAULT_PROBE_SHARDS if spatial else None,
        )
        assert sorted((r.query_id, r.id, r.dist) for r in batch.collect()) == got_rows, method


def test_big_query_table_prefers_index_tiers(spark):
    """Round 7: beyond the collect budget, a prebuilt index beats the LSH
    bucket join — the DataFrame-native tiers serve the query TABLE without
    a collect, so the planner routes hnsw > ivfpq before lsh; and the
    planner-routed join executes the hnsw tier end-to-end on a DataFrame
    query side with zero jobs before the action."""
    from neighborly_spark.search_service import SearchService

    assert plan_knn_join(10_000_000, 500_000, 64).strategy == "lsh"
    assert plan_knn_join(10_000_000, 500_000, 64, has_hnsw_index=True).strategy == "hnsw"
    assert plan_knn_join(10_000_000, 500_000, 64, has_ivfpq_index=True).strategy == "ivfpq"
    # sq stays OUT of the beyond-budget branch: its batch join broadcasts
    # the query side and does |D|x|Q| scan work
    assert plan_knn_join(10_000_000, 500_000, 64, has_sq_index=True).strategy == "lsh"
    # exactness still wins over any index
    assert (
        plan_knn_join(10_000_000, 500_000, 64, allow_approx=False, has_hnsw_index=True).strategy
        == "blocked"
    )

    emb = (
        spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        .withColumnRenamed("vec_id", "id")
    )
    svc = SearchService(emb, dim=64)
    svc.build_index("hnsw")
    queries = emb.limit(10).select(
        F.col("id").alias("qid"), F.col("embedding").alias("qvec")
    )
    sc = spark.sparkContext
    sc.setJobGroup("planner-hnsw-lazy", "")
    out = svc.knn_join(
        queries, k=3,
        # force the beyond-collect route (counts passed as table stats)
        data_count=10_000_000, query_count=500_000,
        query_id_col="qid", query_vec_col="qvec",
    )
    plan = svc.last_join_plan
    assert plan.strategy == "hnsw" and "DataFrame" in plan.reason
    assert list(sc.statusTracker().getJobIdsForGroup("planner-hnsw-lazy")) == []
    sc.setJobGroup("planner-hnsw-lazy-done", "")
    rows = out.collect()
    assert {r.qid for r in rows} == {r.qid for r in queries.collect()}
    assert out.columns == ["qid", "id", "dist"]


def test_planner_hnsw_tier_probe_routes_spatial_graphs(spark):
    """Round-7 VERDICT 1: the planner's hnsw tier probe-routes SPATIAL
    layouts — the shard assignment is |Q| x p rows (not |Q| x shards),
    the routed results clear the recall bar vs the exhaustive fan-out,
    and hash layouts stay exhaustive (routing cannot discriminate uniform
    shards — docs/RECALL.md round-4 table)."""
    from unittest import mock

    from neighborly_spark.operators import hnsw as H
    from neighborly_spark.plans import knn_planner as P
    from neighborly_spark.search_service import SearchService

    # deterministic 8-component mixture (test_hnsw._clustered recipe)
    import numpy as np

    dim, nclust = 16, 8
    centers = np.random.RandomState(7).standard_normal((nclust, dim))
    centers_lit = F.lit([[float(v) for v in row] for row in centers]).cast(
        "array<array<double>>"
    )
    comp = (F.col("id") % nclust).cast("int")
    center = F.element_at(centers_lit, comp + 1)
    embc = F.transform(
        center,
        lambda x, j: (
            x + (F.pmod(F.xxhash64(F.col("id"), j), 1_000_000) / 1_000_000.0 - 0.5) * 0.5
        ).cast("float"),
    )
    vec = spark.range(3000).select("id", embc.alias("embedding")).cache()
    vec.count()

    def service(spatial):
        svc = SearchService(vec, dim=dim)
        # 4 shards (the auto-sizer gives 1 at this row count)
        with mock.patch.object(H, "hnsw_shard_count", return_value=4):
            svc.build_index("hnsw", spatial=spatial)
        return svc

    svc = service(spatial=True)
    queries = vec.orderBy(F.xxhash64("id")).limit(25).select(
        F.col("id").alias("query_id"), F.col("embedding").alias("query_embedding")
    ).cache()
    nq = queries.count()
    force = dict(k=10, data_count=10_000_000, query_count=500_000)

    seen = {}
    real_batch = H.hnsw_search_batch

    def spy(graph_df, qdf, k, **kw):
        seen.update(kw)
        return real_batch(graph_df, qdf, k, **kw)

    with mock.patch.object(H, "hnsw_search_batch", side_effect=spy):
        routed = svc.knn_join(queries, **force)
        routed_pairs = {(r.query_id, r.id) for r in routed.collect()}
    # the tier received a routing table + the default probe count
    assert seen["probe_shards"] == P.DEFAULT_PROBE_SHARDS
    assert seen["routing"] is not None and seen["trust_routing"] is True
    # the in-plan assignment is exactly |Q| x p rows
    assigned = H.hnsw_route_queries(seen["routing"], queries, seen["probe_shards"])
    assert assigned.count() == nq * P.DEFAULT_PROBE_SHARDS
    # and its plan is the round-11 vectorized routing pass: one
    # MapInPandas over the queries — no per-query window, no crossJoin
    # against graph rows (the routing table is driver-collected,
    # shard-count-bounded state)
    aplan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in aplan
    assert "Window" not in aplan and "CartesianProduct" not in aplan

    # recall gate vs the exhaustive fan-out over the same graph
    exhaustive = svc.search_batch(queries, k=10, method="hnsw")
    ex_pairs = {(r.query_id, r.id) for r in exhaustive.collect()}
    assert svc.last_join_plan.strategy == "hnsw"
    assert len(routed_pairs) == len(ex_pairs) == nq * 10
    assert len(routed_pairs & ex_pairs) / len(ex_pairs) >= 0.9

    # hash layouts stay exhaustive: no routing/probing reaches the tier
    svc_h = service(spatial=False)
    seen.clear()
    with mock.patch.object(H, "hnsw_search_batch", side_effect=spy):
        svc_h.knn_join(queries, **force).collect()
    assert svc_h.last_join_plan.strategy == "hnsw"
    assert seen["probe_shards"] is None and seen["routing"] is None
    queries.unpersist()
    vec.unpersist()


def test_service_knn_join_probe_routes_spatial_index(spark):
    """SearchService.knn_join forwards its spatial layout + routing table
    to the planner's hnsw tier (with trust — the service refreshes routing
    on every mutation), and the routed join clears the recall bar."""
    from unittest import mock

    from neighborly_spark.operators import hnsw as H
    from neighborly_spark.parity import load
    from neighborly_spark.search_service import SearchService

    emb = load(spark, "/root/testdata/sf0.01", "embeddings").select(
        F.col("vec_id").alias("id"), "embedding"
    ).cache()
    emb.count()
    svc = SearchService(emb, dim=64)
    svc.build_index("hnsw", spatial=True)
    queries = emb.limit(20).select(
        F.col("id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    seen = {}
    real_batch = H.hnsw_search_batch

    def spy(graph_df, qdf, k, **kw):
        seen.update(kw)
        return real_batch(graph_df, qdf, k, **kw)

    with mock.patch.object(H, "hnsw_search_batch", side_effect=spy):
        got = svc.knn_join(queries, k=5, data_count=1_000_000_000, query_count=1_000)
        got_pairs = {(r.query_id, r.id) for r in got.collect()}
    assert svc.last_join_plan.strategy == "hnsw"
    assert seen["probe_shards"] is not None and seen["trust_routing"] is True
    from neighborly_spark.operators.knn import knn_join

    exact_pairs = {
        (r.query_id, r.id)
        for r in knn_join(emb, queries, k=5).select("query_id", "id").collect()
    }
    assert len(got_pairs & exact_pairs) / len(exact_pairs) >= 0.8
    emb.unpersist()


def test_planner_ivfpq_tier_serves_snapshot_worker_resident(spark, tmp_path):
    """Round 8: a durable (saved) ivfpq index makes the planner's ivfpq
    tier serve worker-resident (ivfpq_knn_join_snapshot) — the static
    code table never re-ships through the cogroup — with results equal
    to the in-memory route."""
    from unittest import mock

    from neighborly_spark.operators import ivfpq as IVFPQ_mod
    from neighborly_spark.search_service import SearchService

    vec = (
        spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        .withColumnRenamed("vec_id", "id")
        .cache()
    )
    vec.count()
    svc = SearchService(vec, dim=64)
    svc.build_index("ivfpq")
    queries = vec.limit(6).select(
        F.col("id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    # beyond-budget counts force the index tier; no hnsw -> ivfpq wins
    kw = dict(k=5, data_count=10_000_000, query_count=500_000)
    mem = svc.knn_join(queries, **kw)
    assert svc.last_join_plan.strategy == "ivfpq"
    want = sorted((r.query_id, r.id, r.dist) for r in mem.collect())
    path = str(tmp_path / "svc")
    svc.save(path)
    loaded = SearchService.load(spark, path)
    assert loaded._indexes["ivfpq"].snapshot is not None
    with mock.patch.object(
        IVFPQ_mod, "ivfpq_knn_join_snapshot", wraps=IVFPQ_mod.ivfpq_knn_join_snapshot
    ) as spy:
        snap = loaded.knn_join(queries, **kw)
        got = sorted((r.query_id, r.id, r.dist) for r in snap.collect())
    assert loaded.last_join_plan.strategy == "ivfpq"
    assert spy.call_count == 1
    assert got == want and len(got) == 30
    vec.unpersist()


def test_planner_hnsw_tier_serves_snapshot_worker_resident(spark, tmp_path):
    """Round 8: a durable (saved) hnsw graph makes the planner's hnsw tier
    serve worker-resident (hnsw_search_batch_snapshot) — graph bytes never
    enter the plan — with results equal to the in-memory route."""
    from unittest import mock

    from neighborly_spark.operators import hnsw as H
    from neighborly_spark.search_service import SearchService

    emb = (
        spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        .withColumnRenamed("vec_id", "id")
        .cache()
    )
    emb.count()
    svc = SearchService(emb, dim=64)
    with mock.patch.object(H, "hnsw_shard_count", return_value=3):
        svc.build_index("hnsw")
    queries = emb.limit(5).select(
        F.col("id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    kw = dict(k=5, data_count=10_000_000, query_count=500_000)
    mem = svc.knn_join(queries, **kw)
    assert svc.last_join_plan.strategy == "hnsw"
    want = sorted((r.query_id, r.id, round(r.dist, 9)) for r in mem.collect())
    path = str(tmp_path / "svc")
    svc.save(path)
    loaded = SearchService.load(spark, path)
    assert loaded._indexes["hnsw"].snapshot is not None
    with mock.patch.object(
        H, "hnsw_search_batch_snapshot", wraps=H.hnsw_search_batch_snapshot
    ) as spy:
        snap = loaded.knn_join(queries, **kw)
        got = sorted((r.query_id, r.id, round(r.dist, 9)) for r in snap.collect())
    assert loaded.last_join_plan.strategy == "hnsw"
    assert spy.call_count == 1
    assert got == want and len(got) == 25
    emb.unpersist()


def test_planner_index_tier_knobs_reach_operators(spark):
    """Round 9 (r8 VERDICT 5): ivfpq_nprobe / hnsw_ef flow through the
    planner-routed join into the tier operators — clusterable corpora can
    probe fewer cells without abandoning the planner."""
    from unittest import mock

    import numpy as np

    from neighborly_spark.operators import hnsw as H
    from neighborly_spark.operators import ivfpq as IVFPQ_mod
    from neighborly_spark.search_service import SearchService

    vec = (
        spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        .withColumnRenamed("vec_id", "id")
        .cache()
    )
    vec.count()
    queries = vec.limit(4).select(
        F.col("id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    force_index = dict(k=3, data_count=10_000_000, query_count=500_000)

    svc = SearchService(vec, dim=64)
    svc.build_index("ivfpq")
    with mock.patch.object(
        IVFPQ_mod, "ivfpq_knn_join", wraps=IVFPQ_mod.ivfpq_knn_join
    ) as spy:
        rows = svc.knn_join(queries, ivfpq_nprobe=3, **force_index).collect()
    assert svc.last_join_plan.strategy == "ivfpq" and spy.call_args.kwargs["nprobe"] == 3
    assert len(rows) == 12
    # nprobe=3 of the model's cells really is 3 probe assignments per query
    centroids = np.asarray(svc._indexes["ivfpq"].model.ivf.centroids, dtype=float)
    assert IVFPQ_mod._probe_assign(queries, centroids, 3).count() == 4 * 3

    svc = SearchService(vec, dim=64)
    svc.build_index("hnsw")
    with mock.patch.object(H, "hnsw_search_batch", wraps=H.hnsw_search_batch) as spy:
        svc.knn_join(queries, hnsw_ef=77, **force_index).collect()
    assert svc.last_join_plan.strategy == "hnsw" and spy.call_args.kwargs["ef"] == 77
    vec.unpersist()


def test_service_knn_join_threads_index_knobs(spark):
    """SearchService.knn_join passes ivfpq_nprobe through to the planner's
    ivfpq tier (r8 VERDICT 5: the service entry point could not reach the
    knob before)."""
    from unittest import mock

    from neighborly_spark.operators import ivfpq as IVFPQ_mod
    from neighborly_spark.search_service import SearchService

    vec = (
        spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        .withColumnRenamed("vec_id", "id")
    )
    svc = SearchService(vec, dim=64)
    svc.build_index("ivfpq")
    queries = vec.limit(3).select(
        F.col("id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    with mock.patch.object(
        IVFPQ_mod, "ivfpq_knn_join", wraps=IVFPQ_mod.ivfpq_knn_join
    ) as spy:
        out = svc.knn_join(
            queries, k=3, data_count=10_000_000, query_count=500_000,
            ivfpq_nprobe=2,
        )
        out.collect()
    assert svc.last_join_plan.strategy == "ivfpq"
    assert spy.call_args.kwargs["nprobe"] == 2
