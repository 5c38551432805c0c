"""Observability surface (§2.10): counters/spans mirror the reference's
OTEL instruments; sql_metrics reads Spark-native executed-plan numbers."""

from __future__ import annotations

from pyspark.sql import functions as F

from neighborly_spark.observability import Metrics, sql_metrics
from neighborly_spark.search_service import SearchService

SF = "/root/testdata/sf0.001"


def test_metrics_counters_spans_and_instrumentation(spark):
    emb = (
        spark.read.parquet(f"{SF}/embeddings.parquet").withColumnRenamed("vec_id", "id")
    )
    q = emb.filter(F.col("id") == 0).select("embedding").collect()[0].embedding
    m = Metrics()
    svc = SearchService(emb, dim=64)
    m.instrument(svc)
    svc.search(query_vec=list(q), k=5).collect()
    svc.search(query_vec=list(q), k=5, method="linear").collect()
    svc.range_search(list(q), radius=1.0).collect()
    snap = m.snapshot()
    assert snap["counters"]["search.count"] == 2
    assert snap["counters"]["range_search.count"] == 1
    assert snap["latency"]["search.latency"]["count"] == 2
    assert snap["latency"]["search.latency"]["max_sec"] > 0


def test_sql_metrics_reads_executed_plan(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    df = emb.filter(F.col("vec_id") < 100).select("vec_id")
    df.collect()
    metrics = sql_metrics(df)
    # some node reports output rows for the 100-row result
    rows = [
        v.get("numOutputRows") or v.get("number of output rows")
        for v in metrics.values()
    ]
    assert any(r is not None and int(r) >= 100 for r in rows)


def test_sql_metrics_descends_into_aqe_query_stages(spark):
    """A shuffle puts the executed plan behind AQE query stages
    (AdaptiveSparkPlanExec -> ResultQueryStageExec -> ...); the stage
    nodes report no metrics themselves, so the walk must enter the plan
    each stage wraps."""
    df = spark.range(20000).repartition(4).filter(F.col("id") % 3 == 0)
    df.collect()
    metrics = sql_metrics(df)
    rows = [v.get("numOutputRows") for v in metrics.values()]
    assert any(r is not None and int(r) > 0 for r in rows)


def test_worker_cache_stats_probe(spark):
    """The ops probe reaches the python workers and reports the shared
    cache's shape (round 9 — the sizing dashboard for NB_WORKER_CACHE_MB)."""
    from neighborly_spark.observability import worker_cache_stats

    rows = worker_cache_stats(spark)
    assert rows
    for r in rows:
        assert {"pid", "entries", "bytes", "budget", "evictions",
                "hnsw_snapshot", "ivfpq_cells"} <= set(r)
        assert r["budget"] > 0 and r["bytes"] >= 0


def test_worker_cache_stats_sees_snapshot_traffic(spark, tmp_path):
    """After real snapshot serving, at least one python worker reports
    resident cache entries — the probe reaches the processes the tasks
    actually ran in (local mode: workers are reused)."""
    from pyspark.sql import functions as F

    from neighborly_spark.observability import worker_cache_stats
    from neighborly_spark.operators import ivfpq as IVFPQ
    from neighborly_spark.operators.ivf import CLUSTER_COL

    df = spark.createDataFrame(
        [(i, [float(i % 5), float(i % 3), 1.0, 0.0]) for i in range(300)],
        "id long, embedding array<float>",
    )
    model = IVFPQ.ivfpq_train(df, 4, nlist=2, m=2, num_centroids=8)
    enc = IVFPQ.ivfpq_encode(df, model)
    path = str(tmp_path / "codes")
    enc.write.partitionBy(CLUSTER_COL).parquet(path)
    qrows = df.limit(3).select(
        F.col("id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("query_embedding"),
    )
    IVFPQ.ivfpq_knn_join_snapshot(
        spark, path, model, qrows, 3, version="vprobe", nprobe=2, rerank=False
    ).collect()
    rows = worker_cache_stats(spark, probes_per_core=4)
    assert any(r["entries"] > 0 and r["bytes"] > 0 for r in rows)
