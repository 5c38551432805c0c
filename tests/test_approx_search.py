"""Approximate search acceptance: recall >= 0.8 vs exact k-NN — the
reference's own bar (Tests/HNSWBenchmarkTests.cs:169) — plus BQ/PQ
structural invariants (Tests/BinaryQuantizationTests.cs,
Tests/ProductQuantizationTests.cs analogues)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from neighborly_spark.operators import ivf as IVF
from neighborly_spark.operators import lsh as LSH
from neighborly_spark.operators import quantization as QZ
from neighborly_spark.operators.knn import knn as exact_knn
from neighborly_spark.search_service import SearchService

SF = "/root/testdata/sf0.01"
K = 10


@pytest.fixture(scope="module")
def emb(spark):
    df = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .withColumnRenamed("vec_id", "id")
        .cache()
    )
    df.count()
    return df


@pytest.fixture(scope="module")
def query(emb):
    return emb.filter(F.col("id") == 7).select("embedding").collect()[0].embedding


def _recall(approx_ids, exact_ids):
    return len(set(approx_ids) & set(exact_ids)) / len(exact_ids)


def test_lsh_recall(emb, query):
    exact = [r.id for r in exact_knn(emb, query, K).collect()]
    approx = [r.id for r in LSH.lsh_knn(emb, query, K, num_hash_tables=10).collect()]
    assert _recall(approx, exact) >= 0.8


def test_hnsw_equivalent_recall(emb, query):
    exact = [r.id for r in exact_knn(emb, query, K).collect()]
    approx = [r.id for r in LSH.hnsw_equivalent_knn(emb, query, K).collect()]
    assert _recall(approx, exact) >= 0.8


def test_approx_knn_join_recall(spark, emb):
    queries = emb.filter(F.col("id") < 5).select(
        F.col("id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    out = LSH.approx_knn_join(emb, queries, k=5, radius=2.5, dim=64)
    got = {(r.query_id, r.id) for r in out.collect()}
    # every query finds itself at distance 0
    assert all((q, q) in got for q in range(5))


def test_ivf_recall(emb, query):
    model = IVF.ivf_train(emb, nlist=8)
    assigned = IVF.ivf_assign(emb, model)
    exact = [r.id for r in exact_knn(emb, query, K).collect()]
    approx = [r.id for r in IVF.ivf_search(assigned, model, query, K, nprobe=4).collect()]
    assert _recall(approx, exact) >= 0.8


def test_ivf_partition_pruning_layout(spark, emb, tmp_path):
    model = IVF.ivf_train(emb, nlist=4)
    IVF.ivf_write(IVF.ivf_assign(emb, model), str(tmp_path / "ivf"))
    back = IVF.ivf_read(spark, str(tmp_path / "ivf"))
    assert IVF.CLUSTER_COL in back.columns
    # partition pruning visible in the plan: cluster filter -> PartitionFilters
    pruned = back.filter(F.col(IVF.CLUSTER_COL) == 0)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and IVF.CLUSTER_COL in plan


def test_bq_search_semantics_and_compression(emb, query):
    thr = QZ.bq_global_threshold(emb)
    # Default cutoff min(dim/4, 64)=16: near-random sign codes sit at ~dim/2
    # hamming, so only near-identical vectors pass — the query finds itself
    # (the reference behaves identically; fallback fires only on EMPTY).
    strict = QZ.bq_search(emb, query, K, 64, thr).collect()
    assert strict[0].id == 7 and strict[0].dist == 0.0
    # Wide-open prefilter degenerates to exact k-NN — rerank correctness.
    exact = [r.id for r in exact_knn(emb, query, K).collect()]
    wide = [r.id for r in QZ.bq_search(emb, query, K, 64, thr, max_hamming=64).collect()]
    assert wide == exact
    assert QZ.bq_compression_ratio(64) == 32.0  # BinaryQuantization.cs:7


def test_bq_precoded_matches_inline(emb, query):
    """The build-then-search split (materialized code table) returns exactly
    what the inline path returns — same prefilter, fallback, and rerank —
    across strict, wide-open, and fallback-firing cutoffs."""
    thr = QZ.bq_global_threshold(emb)
    codes = QZ.bq_encode_table(emb, dim=64, threshold=thr)
    for mh in (None, 64, -1):
        inline = [
            (r.id, r.dist)
            for r in QZ.bq_search(emb, query, K, 64, thr, max_hamming=mh, round_to=6).collect()
        ]
        pre = [
            (r.id, r.dist)
            for r in QZ.bq_search_precoded(
                emb, codes, query, K, 64, thr, max_hamming=mh, round_to=6
            ).collect()
        ]
        assert pre == inline, f"max_hamming={mh}"
    codes.unpersist()


def test_bq_precoded_plan_reads_codes_not_floats(spark, query):
    """Scale contract: the prefilter leg of the precoded plan scans the code
    table; the float column appears only behind the candidate join."""
    # distinct parquet copy — Spark's CacheManager substitutes any cached
    # plan that matches, so reading the fixture's path would silently serve
    # the emb fixture's cache and mask the operator's own plan shape
    import tempfile

    d = tempfile.mkdtemp(prefix="bq_plan_")
    (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .withColumnRenamed("vec_id", "id")
        .write.mode("overwrite")
        .parquet(f"{d}/emb")
    )
    raw = spark.read.parquet(f"{d}/emb")
    thr = 0.0
    codes = QZ.bq_encode_table(raw, dim=64, threshold=thr)
    out = QZ.bq_search_precoded(raw, codes, query, K, 64, thr, max_hamming=28)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the Hamming prefilter scans the cached codes table (InMemoryTableScan
    # with the hamming predicate pushed onto it), NOT a fresh float encode
    assert "InMemoryTableScan [code" in plan
    # the float table is scanned live only as the rerank join's probe side,
    # with the id-join null filter pushed down; encode-time scans appear only
    # inside InMemoryTableScan's cached-plan printout (not re-executed)
    live_scans = [
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln and "label" in ln
    ]
    assert len(live_scans) == 1 and "IsNotNull" in live_scans[0]
    codes.unpersist()


def test_bq_fallback_on_empty(emb, query):
    # max_hamming=-1 guarantees zero pass -> fallback keeps 3k hamming-closest
    out = QZ.bq_search(emb, query, k=4, dim=64, threshold=0.0, max_hamming=-1)
    rows = out.collect()
    assert len(rows) == 4 and rows[0].id == 7  # rerank still finds the query


def test_bq_encode_roundtrip_bits(spark):
    df = spark.createDataFrame([("a", [1.0, -1.0, 2.0, -2.0])], "id string, embedding array<float>")
    code = df.select(QZ.bq_encode_expr(F.col("embedding"), 4, 0.0).alias("c")).collect()[0].c
    assert code == [0b0101]  # bits 0 and 2 set (values >= 0)


def test_pq_recall(emb, query):
    model = QZ.pq_train(emb, dim=64, num_centroids=64)
    encoded = QZ.pq_encode(emb, model)
    exact = [r.id for r in exact_knn(emb, query, 20).collect()]
    approx = [r.id for r in QZ.pq_search(encoded, model, query, 20).collect()]
    assert _recall(approx, exact) >= 0.5  # ADC over 8 subspaces, recall@20
    assert model.compression_ratio(64) == pytest.approx(64 * 4 / model.m)


def test_pq_encode_vectorized_matches_hof(emb):
    """The Arrow-batched matmul encoder (the serving tier — the interpreted-HOF
    pq_encode costs O(k*sub_dim) lambda evals per row per sub-space, measured
    72 s vs ~3 s at the 150k bench tier) produces the SAME codes as the HOF
    oracle tier on real data. Near-ties could flip at last-ulp in principle
    (documented, same contract as ivf_assign_vectorized); on non-degenerate
    embeddings the code tables are identical."""
    model = QZ.pq_train_sampled(emb, dim=64, num_centroids=64)
    hof = {r.id: list(r.pq_code) for r in QZ.pq_encode(emb, model).select("id", "pq_code").collect()}
    vec = {r.id: list(r.pq_code) for r in QZ.pq_encode_vectorized(emb, model).select("id", "pq_code").collect()}
    assert hof == vec


def test_search_service_dispatch(emb, query):
    svc = SearchService(emb, dim=64)
    exact = {r.id for r in svc.search(query_vec=query, k=5, method="linear").collect()}
    kd = {r.id for r in svc.search(query_vec=query, k=5, method="kdtree").collect()}
    bt = {r.id for r in svc.search(query_vec=query, k=5, method="balltree").collect()}
    assert exact == kd == bt  # trees alias the exact path (SURVEY Q4/Q6)
    rs = svc.range_search(query, radius=1.0)
    assert rs.count() >= 1
    with pytest.raises(ValueError):
        svc.range_search(query, radius=0.0)
    with pytest.raises(ValueError):
        svc.search(query_vec=query, method="nope")


def test_pq_train_sampled_matches_mllib_recall(emb, query):
    """Scale-path trainer (one pass + driver Lloyd) reaches the same recall
    band as the m-MLlib-fits trainer, deterministically."""
    exact = [r.id for r in exact_knn(emb, query, 20).collect()]
    model = QZ.pq_train_sampled(emb, dim=64, num_centroids=64)
    encoded = QZ.pq_encode(emb, model)
    approx = [r.id for r in QZ.pq_search(encoded, model, query, 20).collect()]
    assert _recall(approx, exact) >= 0.5
    # deterministic: same data -> bit-identical codebooks (hash-ordered
    # sample + seeded kmeans++/Lloyd, no RNG from Spark partitioning)
    model2 = QZ.pq_train_sampled(emb, dim=64, num_centroids=64)
    assert model.centroids == model2.centroids
    assert model.m == model2.m and model.sub_dim == model2.sub_dim


def test_search_service_blas_exact_path(emb, query):
    """exact_path='blas' returns the same rows/schema as the declarative
    path; 'auto' picks HOF below the dim cutoff and BLAS at/above it."""
    svc = SearchService(emb, dim=64)
    hof = svc.search(query_vec=query, k=5, method="linear", exact_path="hof")
    blas = svc.search(query_vec=query, k=5, method="linear", exact_path="blas")
    assert hof.columns == blas.columns
    h = [(r.id, round(r.dist, 6), r.label) for r in hof.collect()]
    b = [(r.id, round(r.dist, 6), r.label) for r in blas.collect()]
    assert h == b
    # auto: dim 64 < cutoff -> declarative plan (no mapInPandas node)
    auto_plan = svc.search(query_vec=query, k=5, method="linear")._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in auto_plan
    svc_big = SearchService(emb, dim=128)  # pretend-dim: only dispatch looks at it
    auto_big = svc_big.search(query_vec=query, k=5, method="linear")._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in auto_big


def test_ivf_train_sampled_recall_and_determinism(emb, query):
    """One-pass sampled coarse quantizer hits the recall bar (one more probe
    than the MLlib fit needs on this data) and is bit-deterministic."""
    model = IVF.ivf_train_sampled(emb, nlist=8)
    assigned = IVF.ivf_assign(emb, model)
    exact = [r.id for r in exact_knn(emb, query, K).collect()]
    approx = [r.id for r in IVF.ivf_search(assigned, model, query, K, nprobe=5).collect()]
    assert _recall(approx, exact) >= 0.8
    assert model.centroids == IVF.ivf_train_sampled(emb, nlist=8).centroids
    # expression-path assignment stays JVM-side (no Python in the scan)
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "MapInPandas" not in plan


def test_cosine_ann_via_normalization(spark, emb, query):
    """The cosine bridge: euclidean ANN (IVF and LSH) over L2-normalized
    vectors ranks by cosine — recall measured against brute-force cosine."""
    from neighborly_spark.functions.distance import normalize
    from neighborly_spark.operators.knn import knn

    normed = emb.select("id", normalize(F.col("embedding")).alias("embedding")).cache()
    normed.count()
    qrow = normed.filter(F.col("id") == 7).collect()[0]
    qn = list(qrow.embedding)
    exact_cos = [r.id for r in knn(emb, query, K, metric="cosine").collect()]

    ivf_model = IVF.ivf_train(normed, nlist=4)
    assigned = IVF.ivf_assign(normed, ivf_model)
    ivf_ids = [r.id for r in IVF.ivf_search(assigned, ivf_model, qn, K, nprobe=2).collect()]
    assert _recall(ivf_ids, exact_cos) >= 0.8

    lsh_ids = [r.id for r in LSH.lsh_knn(normed, qn, K, num_hash_tables=10).collect()]
    assert _recall(lsh_ids, exact_cos) >= 0.8
    normed.unpersist()


def test_search_service_save_load_roundtrip(spark, emb, query, tmp_path):
    """Snapshot story: build every index, save, load — the restored
    service serves every method with the SAME results and no re-training
    (the artifacts, not the data, answer), reports the same index_stats,
    and keeps serving identically through an append + remove."""
    methods = ("linear", "lsh", "bq", "pq", "ivf", "sq", "ivfpq", "hnsw")

    def results(s):
        return {
            m: [(r.id, round(r.dist, 6)) for r in s.search(query_vec=query, k=5, method=m).collect()]
            for m in methods
        }

    def stats(s):
        return [{k: v for k, v in d.items() if k != "snapshot_backed"} for d in s.index_stats()]

    svc = SearchService(emb, dim=64)
    svc.build_all_indexes()
    before = results(svc)
    svc.save(str(tmp_path / "db"))

    loaded = SearchService.load(spark, str(tmp_path / "db"))
    after = results(loaded)
    assert after == before
    assert stats(loaded) == stats(svc)
    # the loaded service answers from artifacts: models restored, not refit
    assert loaded._indexes["bq"].model == svc._indexes["bq"].model
    assert loaded._indexes["pq"].model.centroids == svc._indexes["pq"].model.centroids
    assert loaded._indexes["ivf"].model.centroids == svc._indexes["ivf"].model.centroids
    assert loaded._indexes["sq"].model.vmin == svc._indexes["sq"].model.vmin
    assert loaded._indexes["sq"].model.vmax == svc._indexes["sq"].model.vmax
    assert loaded._indexes["ivfpq"].model.ivf.centroids == svc._indexes["ivfpq"].model.ivf.centroids
    assert loaded._indexes["ivfpq"].model.pq.centroids == svc._indexes["ivfpq"].model.pq.centroids

    # the same mutations on both: appended rows encode against the same
    # restored models, so every method keeps answering identically
    new = emb.filter(F.col("id") < 5).withColumn("id", F.col("id") + 700000)
    for s in (svc, loaded):
        s.add_vectors(new)
        s.remove_vectors([7, 700001])
    assert results(loaded) == results(svc)
    assert stats(loaded) == stats(svc)


def test_incremental_quantizer_append(spark, emb, query):
    """Round-3 VERDICT item 7: add_vectors APPENDS new rows encoded against
    the EXISTING trained artifacts (no dirty->full-retrain), and the served
    results equal a one-shot encode of the union with those same artifacts;
    remove_vectors filters the code tables in place. The LSH model (data-
    independent hyperplanes) keeps serving untouched."""
    old = emb.filter(F.col("id") % 2 == 0)
    new = emb.filter(F.col("id") % 2 == 1)
    svc = SearchService(old, dim=64)
    for m in ("lsh", "bq", "pq", "ivf", "sq", "ivfpq"):
        svc.build_index(m)
    thr, ivf_model, pq_model, lsh_model, sq_model, ivfpq_model = (
        svc._indexes[m].model for m in ("bq", "ivf", "pq", "lsh", "sq", "ivfpq")
    )
    svc.add_vectors(new)
    # models untouched (append path, not retrain)
    assert svc._indexes["bq"].model == thr
    assert svc._indexes["ivf"].model is ivf_model
    assert svc._indexes["pq"].model is pq_model
    assert svc._indexes["lsh"].model is lsh_model
    assert svc._indexes["sq"].model is sq_model
    assert svc._indexes["ivfpq"].model is ivfpq_model
    # code/assignment tables cover the union
    assert svc._indexes["bq"].artifact.count() == emb.count()
    assert svc._indexes["ivf"].artifact.count() == emb.count()
    assert svc._indexes["pq"].artifact.count() == emb.count()
    assert svc._indexes["sq"].artifact.count() == emb.count()
    assert svc._indexes["ivfpq"].artifact.count() == emb.count()

    # served results == one-shot encode of the union with the SAME models
    union = old.unionByName(new)
    bq_got = [(r.id, round(r.dist, 9)) for r in svc.search(query_vec=query, k=5, method="bq").collect()]
    bq_codes = QZ.bq_encode_table(union, 64, thr)
    bq_want = [
        (r.id, round(r.dist, 9))
        for r in QZ.bq_search_precoded(union, bq_codes, query, 5, 64, thr).collect()
    ]
    assert bq_got == bq_want

    ivf_got = [(r.id, round(r.dist, 9)) for r in svc.search(query_vec=query, k=5, method="ivf").collect()]
    ivf_want = [
        (r.id, round(r.dist, 9))
        for r in IVF.ivf_search(IVF.ivf_assign(union, ivf_model), ivf_model, query, 5).collect()
    ]
    assert ivf_got == ivf_want

    pq_got = [(r.id, round(r.dist, 9)) for r in svc.search(query_vec=query, k=5, method="pq").collect()]
    pq_want = [
        (r.id, round(r.dist, 9))
        for r in QZ.pq_search_rerank(
            union, QZ.pq_encode(union, pq_model), pq_model, query, 5, shortlist=50
        ).collect()
    ]
    assert pq_got == pq_want

    # default = the pure dequantized tier (round-5 VERDICT: its recall is
    # 1.00 without rerank, and the rerank join dominated the old default)
    sq_got = [(r.id, round(r.dist, 9)) for r in svc.search(query_vec=query, k=5, method="sq").collect()]
    sq_codes = QZ.sq_encode_table(union, sq_model)
    sq_want = [
        (r.id, round(r.dist, 9))
        for r in QZ.sq_search_precoded(union, sq_codes, sq_model, query, 5, rerank=False).collect()
    ]
    assert sq_got == sq_want
    # rerank stays available opt-in
    sq_rr = [(r.id, round(r.dist, 9)) for r in svc.search(
        query_vec=query, k=5, method="sq", sq_rerank=True).collect()]
    sq_rr_want = [
        (r.id, round(r.dist, 9))
        for r in QZ.sq_search_precoded(union, sq_codes, sq_model, query, 5, rerank=True).collect()
    ]
    assert sq_rr == sq_rr_want
    sq_codes.unpersist()

    from neighborly_spark.operators import ivfpq as IVFPQ

    ip_got = [(r.id, round(r.dist, 9)) for r in svc.search(query_vec=query, k=5, method="ivfpq").collect()]
    ip_want = [
        (r.id, round(r.dist, 9))
        for r in IVFPQ.ivfpq_search_rerank(
            union, IVFPQ.ivfpq_encode(union, ivfpq_model), ivfpq_model, query, 5, nprobe=10
        ).collect()
    ]
    assert ip_got == ip_want

    # removal filters the artifact tables, models stay
    victim = int(new.first().id)
    svc.remove_vectors([victim])
    assert svc._indexes["bq"].artifact.filter(F.col("id") == victim).count() == 0
    assert svc._indexes["ivf"].artifact.filter(F.col("id") == victim).count() == 0
    assert svc._indexes["pq"].artifact.filter(F.col("id") == victim).count() == 0
    assert svc._indexes["sq"].artifact.filter(F.col("id") == victim).count() == 0
    assert svc._indexes["ivfpq"].artifact.filter(F.col("id") == victim).count() == 0
    assert svc._indexes["bq"].model == thr and svc._indexes["ivf"].model is ivf_model


def test_cosine_neardup_approx_vs_exact(spark):
    """The embedding near-dup SCALE path: LSH-bucketed candidates at the
    exact geometric radius sqrt(2-2t), verified with true cosine — no
    false positives by construction, recall measured vs the brute-force
    exact operator."""
    from neighborly_spark.operators.dedup import (
        cosine_neardup_pairs, cosine_neardup_pairs_approx,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    exact = {
        (r.id_a, r.id_b): r.cos_sim
        for r in cosine_neardup_pairs(emb, threshold=0.4).collect()
    }
    approx = {
        (r.id_a, r.id_b): r.cos_sim
        for r in cosine_neardup_pairs_approx(emb, threshold=0.4, num_hash_tables=10, dim=64).collect()
    }
    assert set(approx) <= set(exact)          # verification kills false positives
    for pair, sim in approx.items():
        assert sim == exact[pair]             # scores identical (same contract)
    assert len(approx) / len(exact) >= 0.8    # recall bar


def test_vectorized_tiers_null_embedding_safe(spark):
    """A null embedding must not crash the Arrow tiers: pq_encode_vectorized
    emits a null code and ivf_assign_vectorized a null cluster — matching
    the HOF tiers, which both yield null for null input."""
    import neighborly_spark.operators.ivf as IVF

    rows = [(1, [1.0, 2.0, 3.0, 4.0]), (2, None), (3, [4.0, 3.0, 2.0, 1.0])]
    df = spark.createDataFrame(rows, "id long, embedding array<float>")
    model = QZ.pq_train_sampled(df.filter("embedding is not null"), dim=4, m=2, num_centroids=2)
    out = {r.id: r.pq_code for r in QZ.pq_encode_vectorized(df, model).collect()}
    hof = {r.id: r.pq_code for r in QZ.pq_encode(df, model).collect()}
    # null embedding -> [null, null] codes in BOTH tiers (F.array of null
    # argmins), and valid rows encode identically
    assert list(out[2]) == [None, None] and out[2] == hof[2]
    assert out[1] == hof[1] and out[3] == hof[3]

    ivf_model = IVF.ivf_train_sampled(df.filter("embedding is not null"), nlist=2)
    va = {r.id: r[IVF.CLUSTER_COL] for r in IVF.ivf_assign_vectorized(df, ivf_model).collect()}
    ha = {r.id: r[IVF.CLUSTER_COL] for r in IVF.ivf_assign(df, ivf_model).collect()}
    assert va[2] is None and ha[2] is None and va[1] == ha[1] and va[3] == ha[3]


def test_semantic_dedup_zero_vector_no_false_positives(spark):
    """Zero-magnitude vectors cosine to NaN; without the NaN guard the
    exact tier would emit every (zero_vec, member) same-cluster pair as a
    'duplicate'. Both engines must emit nothing for the zero vector."""
    from neighborly_spark.operators.dedup import semantic_dedup_pairs

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),  # zero vector, same cluster as 1
        (3, [0.99, 0.1, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = [[1.0, 0.0, 0.0, 0.0], [-1.0, 0.0, 0.0, 0.0]]
    for eng in ("exact", "blas"):
        pairs = {
            (r.id_a, r.id_b)
            for r in semantic_dedup_pairs(
                df, threshold=0.9, centroids=cents, engine=eng
            ).collect()
        }
        assert (1, 3) in pairs, eng
        assert all(2 not in p for p in pairs), eng


def test_search_service_batch_dispatch(spark, emb, query):
    """search_batch answers every method's batch tier from one facade and
    agrees with the per-query search() loop (rounded float equality)."""
    svc = SearchService(emb, dim=64)
    qrows = emb.filter(F.col("id") < 3).orderBy("id").collect()
    qlist = [(int(r.id), list(r.embedding)) for r in qrows]
    qdf = emb.filter(F.col("id") < 3).select(
        F.col("id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    for method, qs in (
        ("linear", qdf), ("lsh", qdf), ("bq", qdf), ("sq", qdf),
        # round 7: ivfpq/hnsw consume DataFrames natively too
        ("ivfpq", qdf), ("hnsw", qdf), ("ivfpq", qlist), ("hnsw", qlist),
    ):
        out = svc.search_batch(qs, k=5, method=method)
        assert set(out.columns) >= {"query_id", "id", "dist"}
        got = {}
        for r in out.collect():
            got.setdefault(r.query_id, set()).add(r.id)
        assert set(got) == {0, 1, 2}, method
        if method in ("bq", "lsh"):
            # faithful BQ semantics: the strict Hamming prefilter passes
            # only near-identical codes, so fewer than k rows can survive
            # (same as the single-query path / the reference); LSH's
            # radius-bounded bucket join can likewise surface < k rows
            assert all(1 <= len(v) <= 5 for v in got.values()), method
        else:
            assert all(len(v) == 5 for v in got.values()), method
        # every query finds itself (its own vector is in the table)
        assert all(qid in got[qid] for qid in got), method
    # list/DataFrame normalization: same rows either way
    a = sorted((r.query_id, r.id) for r in svc.search_batch(qdf, k=5, method="sq").collect())
    b = sorted((r.query_id, r.id) for r in svc.search_batch(qlist, k=5, method="sq").collect())
    assert a == b
    with pytest.raises(ValueError):
        svc.search_batch(qlist, k=5, method="nope")
    # lsh serves cosine in batch like search() does (_COSINE_SERVE): the
    # hyperplanes are data-independent, only query+table normalize, and
    # the reported column is the similarity
    out = svc.search_batch(qdf, k=5, method="lsh", metric="cosine")
    rows = out.collect()
    assert rows and all(-1.0 - 1e-9 <= r.dist <= 1.0 + 1e-9 for r in rows)
    got_cos = {}
    for r in rows:
        got_cos.setdefault(r.query_id, set()).add(r.id)
    assert all(qid in got_cos[qid] for qid in got_cos)  # self-find at sim 1


def test_tag_filtered_search_across_index_methods(spark, emb, query):
    """P9 x the index family: tag predicates prune BEFORE ranking on every
    index method — artifacts built with a tags column embed it, so the
    filter is a pushdown on the code scan (no query-time join). The
    lossless tiers (linear/sq) must return exactly the filtered exact
    top-k; the quantized tiers must return only allowed rows and find the
    query row when it is allowed."""
    tagged = emb.withColumn(
        "tags",
        F.array(
            (F.col("id") % 3).cast("smallint"),
            (F.lit(3) + F.col("id") % 2).cast("smallint"),
        ),
    ).cache()
    tagged.count()
    svc = SearchService(tagged, dim=64)
    assert svc.tags_col == "tags"
    # row 7: tags [1, 4] — filter to tag_any=[1] (ids with id%3==1)
    allowed = {r.id for r in tagged.filter(F.array_contains("tags", 1)).collect()}
    assert 7 in allowed and len(allowed) < tagged.count()

    exact_filtered = [
        r.id
        for r in exact_knn(tagged.filter(F.array_contains("tags", 1)), query, 5).collect()
    ]
    lin = [r.id for r in svc.search(query_vec=query, k=5, method="linear", tag_any=[1]).collect()]
    assert lin == exact_filtered
    sq = [r.id for r in svc.search(
        query_vec=query, k=5, method="sq", tag_any=[1], sq_rerank=True).collect()]
    assert sq == exact_filtered  # SQ shortlist is lossless here + exact rerank
    # default (no-rerank) tier: same id SET (dequantized ordering may flip
    # exact near-ties, so ordered equality is only contracted with rerank)
    sq_nr = [r.id for r in svc.search(query_vec=query, k=5, method="sq", tag_any=[1]).collect()]
    assert set(sq_nr) == set(exact_filtered)

    for method in ("bq", "pq", "ivf", "ivfpq", "lsh"):
        got = [r.id for r in svc.search(query_vec=query, k=5, method=method, tag_any=[1]).collect()]
        assert set(got) <= allowed, method
        assert 7 in got, method  # the query row itself is allowed

    # tag_all: rows carrying BOTH 1 and 4 (id%3==1 AND id%2==1)
    both = {r.id for r in tagged.filter(
        F.array_contains("tags", 1) & F.array_contains("tags", 4)).collect()}
    got = {r.id for r in svc.search(query_vec=query, k=5, method="sq", tag_all=[1, 4]).collect()}
    assert got <= both and 7 in got

    # artifacts embed the tags column -> filtered plans carry no extra join
    assert "tags" in svc._indexes["sq"].artifact.columns
    assert "tags" in svc._indexes["bq"].artifact.columns
    assert "tags" in svc._indexes["ivfpq"].artifact.columns

    # hnsw graph path (round-6): tags are embedded in the graph artifact
    # and the filtered descent returns only allowed rows, finding the
    # allowed query row itself
    svc.build_index("hnsw")
    assert "tags" in svc._indexes["hnsw"].artifact.columns
    got = [r.id for r in svc.search(query_vec=query, k=5, method="hnsw", tag_any=[1]).collect()]
    assert set(got) <= allowed and 7 in got

    # incremental adds stay filterable: appended codes carry tags, and a
    # k >= |allowed| filtered search returns every allowed row incl. the
    # new one (new id 900001 copies ORIGINAL id 1's tags [1, 4])
    new = tagged.filter(F.col("id") < 3).withColumn("id", F.col("id") + 900000)
    svc.add_vectors(new)
    assert svc._indexes["sq"].artifact.filter(
        (F.col("id") == 900001) & F.array_contains("tags", 1)
    ).count() == 1
    got = {r.id for r in svc.search(
        query_vec=query, k=len(allowed) + 3, method="sq", tag_any=[1]
    ).collect()}
    assert 900001 in got and got <= allowed | {900001}
    tagged.unpersist()


def test_tag_filter_requires_tags_column(emb, query):
    svc = SearchService(emb, dim=64)  # no tags column
    with pytest.raises(ValueError, match="tags column"):
        svc.search(query_vec=query, k=5, method="linear", tag_any=[1])


def test_tag_filtered_search_batch(spark, emb):
    """search_batch honors tag filters: sq (lossless + rerank) equals the
    filtered exact knn_join per query; ivfpq returns only allowed ids."""
    from neighborly_spark.operators.knn import knn_join as exact_knn_join

    tagged = emb.withColumn(
        "tags", F.array((F.col("id") % 3).cast("smallint"))
    ).cache()
    tagged.count()
    svc = SearchService(tagged, dim=64)
    qdf = tagged.filter(F.col("id") < 3).select(
        F.col("id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    allowed = {r.id for r in tagged.filter(F.array_contains("tags", 1)).collect()}
    want = {}
    for r in exact_knn_join(
        tagged.filter(F.array_contains("tags", 1)), qdf, 5
    ).collect():
        want.setdefault(r.query_id, set()).add(r.id)
    got = {}
    for r in svc.search_batch(qdf, k=5, method="sq", tag_any=[1]).collect():
        got.setdefault(r.query_id, set()).add(r.id)
    assert got == want
    ip = {}
    qlist = [(int(r.query_id), list(r.query_embedding)) for r in qdf.collect()]
    for r in svc.search_batch(qlist, k=5, method="ivfpq", tag_any=[1]).collect():
        ip.setdefault(r.query_id, set()).add(r.id)
    assert all(v <= allowed for v in ip.values())
    # hnsw batch path honors the filter too (round-6 filtered descent)
    hn = {}
    for r in svc.search_batch(qlist, k=5, method="hnsw", tag_any=[1]).collect():
        hn.setdefault(r.query_id, set()).add(r.id)
    assert hn and all(v <= allowed for v in hn.values())
    tagged.unpersist()


def test_query_validation_and_index_stats(emb, query):
    svc = SearchService(emb, dim=64)
    with pytest.raises(ValueError, match="NaN/Inf"):
        svc.search(query_vec=[float("nan")] * 64, k=5, method="linear")
    with pytest.raises(ValueError, match="NaN/Inf"):
        svc.search(query_vec=[float("inf")] + [0.0] * 63, k=5, method="sq")
    assert svc.index_stats() == []  # validation rejected before any build
    svc.build_index("bq")
    svc.build_index("sq")
    stats = {s["index"]: s for s in svc.index_stats()}
    assert stats["bq"]["rows"] == emb.count() and stats["bq"]["compression"] == 32.0
    assert stats["sq"]["compression"] == 4.0


def test_shared_coarse_quantizer(spark, emb, tmp_path):
    """Round-5 VERDICT 6: one coarse-cell model per (table version, nlist)
    serves ivf, ivfpq and spatial-hnsw builds; add/remove invalidates the
    memo so the next build retrains; a snapshot round-trip restores the
    sharing."""
    svc = SearchService(emb, dim=64)
    svc.build_index("ivf")
    svc.build_index("ivfpq")
    # literally the same object — one fit, consistent probe semantics
    assert svc._indexes["ivfpq"].model.ivf is svc._indexes["ivf"].model
    svc.build_index("hnsw", spatial=True)
    assert svc._indexes["hnsw"].shards in svc._coarse_models  # spatial layout reused it

    # a new table version invalidates the memo; rebuild trains fresh
    old = svc._indexes["ivf"].model
    svc.add_vectors(emb.limit(3).withColumn("id", F.col("id") + 500000))
    assert svc._coarse_models == {}
    assert svc._indexes["ivf"].model is old  # built index keeps serving (Q13)
    svc.build_index("ivf")
    assert svc._indexes["ivf"].model is not old

    # snapshot round-trip: loaded service shares the restored coarse model
    svc2 = SearchService(emb, dim=64)
    svc2.build_index("ivf")
    svc2.build_index("ivfpq")
    path = str(tmp_path / "snap_coarse")
    svc2.save(path)
    loaded = SearchService.load(spark, path)
    assert loaded._indexes["ivfpq"].model.ivf is loaded._indexes["ivf"].model
    assert loaded._coarse_models[16] is loaded._indexes["ivf"].model
    q = list(emb.first().embedding)
    assert loaded.search(query_vec=q, k=3, method="ivfpq").count() == 3


def test_range_search_sq_tier_and_lossless_gating(spark, emb, tmp_path):
    """range_search(method='sq'): identical rows to the exact scan while
    the lossless precondition holds; an out-of-range append voids the
    bound and the service silently serves the exact scan instead (still
    correct — including the appended rows), also after a save/load."""
    svc = SearchService(emb, dim=64)
    q = list(emb.first().embedding)
    exact = [(r.id, round(r.dist, 9)) for r in svc.range_search(query_vec=q, radius=2.0).collect()]
    got = [(r.id, round(r.dist, 9)) for r in svc.range_search(query_vec=q, radius=2.0, method="sq").collect()]
    assert got == exact and len(got) > 0

    # out-of-range append -> sq_lossless False -> exact fallback, which
    # still returns the appended row inside the radius
    shifted = emb.limit(1).withColumn("id", F.col("id") + 910000).withColumn(
        "embedding",
        F.transform("embedding", lambda x: x + F.lit(50.0)).cast("array<float>"),
    )
    svc.add_vectors(shifted)
    stats = {s["index"]: s for s in svc.index_stats()}
    assert stats["sq"]["sq_lossless"] is False
    probe = list(shifted.select("embedding").collect()[0].embedding)
    got = {r.id for r in svc.range_search(query_vec=probe, radius=0.5, method="sq").collect()}
    assert 910000 in got  # the quantized prefilter would have lost it

    # the voided bound is index state: it survives save/load
    svc.save(str(tmp_path / "sq"))
    loaded = SearchService.load(spark, str(tmp_path / "sq"))
    stats = {s["index"]: s for s in loaded.index_stats()}
    assert stats["sq"]["sq_lossless"] is False
    assert stats["sq"]["appended_rows"] == 1
    got = {r.id for r in loaded.range_search(query_vec=probe, radius=0.5, method="sq").collect()}
    assert 910000 in got


def test_search_batch_nonfinite_df_raises(spark, emb):
    """DataFrame query inputs hit the SAME non-finite guard as list inputs
    (round-5 ADVICE: silent filtering left unexplained gaps in results)."""
    svc = SearchService(emb, dim=64)
    bad = spark.createDataFrame(
        [(0, [float("nan")] * 64), (1, [0.0] * 64)],
        "query_id bigint, query_embedding array<float>",
    )
    with pytest.raises(ValueError, match="null/NaN/Inf"):
        svc.search_batch(bad, k=5, method="linear")
    with pytest.raises(ValueError, match="NaN/Inf"):
        svc.search_batch([(0, [float("nan")] * 64)], k=5, method="linear")


def test_index_stats_drift_flags(spark, emb):
    """Q13 drift signal (round-5 VERDICT 7): a matched-distribution append
    keeps needs_retrain off; a shifted-distribution append flips it (and
    voids sq_lossless — the sq_range_search precondition); bulk appends
    past the fraction threshold flag every stale-encode index."""
    svc = SearchService(emb, dim=64)
    svc.build_index("sq")
    svc.build_index("bq")
    n = emb.count()

    # matched append: rows drawn from the trained table (in-range by
    # construction) under fresh ids
    matched = emb.filter(F.col("id") < 10).withColumn("id", F.col("id") + 800000)
    svc.add_vectors(matched)
    stats = {s["index"]: s for s in svc.index_stats()}
    assert stats["sq"]["appended_rows"] == 10
    assert stats["sq"]["sq_lossless"] is True
    assert stats["sq"]["append_err_ratio"] <= 1.0
    assert stats["sq"]["needs_retrain"] is False
    assert stats["bq"]["needs_retrain"] is False

    # shifted append: values far outside the trained [vmin, vmax] box clip,
    # so the decode error blows past the in-range bound
    shifted = (
        emb.filter(F.col("id") < 5)
        .withColumn("id", F.col("id") + 900000)
        .withColumn(
            "embedding",
            F.transform("embedding", lambda x: x + F.lit(1000.0)).cast("array<float>"),
        )
    )
    svc.add_vectors(shifted)
    stats = {s["index"]: s for s in svc.index_stats()}
    assert stats["sq"]["sq_lossless"] is False
    assert stats["sq"]["append_err_ratio"] > 1.0
    assert stats["sq"]["needs_retrain"] is True

    # a rebuild retrains on the current table and clears the flags
    svc.build_index("sq")
    stats = {s["index"]: s for s in svc.index_stats()}
    assert stats["sq"]["sq_lossless"] is True and stats["sq"]["needs_retrain"] is False

    # volume threshold: appending > 25% of the base flags bq too
    bulk = emb.limit(int(n * 0.3)).withColumn("id", F.col("id") + 700000)
    svc.add_vectors(bulk)
    stats = {s["index"]: s for s in svc.index_stats()}
    assert stats["bq"]["appended_frac"] > 0.25
    assert stats["bq"]["needs_retrain"] is True


def test_search_service_save_load_file_scheme_uri(spark, emb, query, tmp_path):
    """Round-11 (r10 VERDICT item 2): SearchService.save/load route
    service.json through the Hadoop FileSystem API — a `file:`-scheme URI
    (which driver-local open() cannot handle) round-trips end to end,
    exercising the same code path as s3a:// / hdfs:// store paths."""
    svc = SearchService(emb, dim=64)
    svc.build_index("bq")
    before = [
        (r.id, round(r.dist, 6))
        for r in svc.search(query_vec=query, k=5, method="bq").collect()
    ]
    path = f"file://{tmp_path}/db_uri"
    svc.save(path)
    loaded = SearchService.load(spark, path)
    after = [
        (r.id, round(r.dist, 6))
        for r in loaded.search(query_vec=query, k=5, method="bq").collect()
    ]
    assert after == before
