"""Streaming query serving (streaming/search.py): a readStream of query
rows served against a prebuilt index equals the batch search_batch run on
the same queries — the streaming twin of the DataFrame-native serving
tiers (SURVEY §2.8 x Q8; the reference's unbounded-query-stream server,
API.gRPC/Services/VectorService.cs:73-85)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from neighborly_spark.parity import load

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def emb(spark):
    df = load(spark, SF, "embeddings").select(
        F.col("vec_id").alias("id"), "embedding"
    ).cache()
    df.count()
    return df


def test_query_stream_equals_batch(spark, emb, tmp_path):
    from neighborly_spark.search_service import SearchService
    from neighborly_spark.streaming.search import start_query_stream

    svc = SearchService(emb, dim=64)
    svc.build_index("hnsw")

    qdir = str(tmp_path / "queries_in")
    # two "arriving" query files of 3 + 2 rows
    q_all = emb.limit(5).select(
        F.col("id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("query_embedding"),
    ).collect()
    spark.createDataFrame(q_all[:3], "query_id long, query_embedding array<double>") \
        .write.mode("overwrite").parquet(qdir)
    spark.createDataFrame(q_all[3:], "query_id long, query_embedding array<double>") \
        .write.mode("append").parquet(qdir)

    stream = spark.readStream.schema(
        "query_id long, query_embedding array<double>"
    ).parquet(qdir)
    out_path = str(tmp_path / "results_out")
    q = start_query_stream(
        stream, svc, checkpoint_dir=str(tmp_path / "ckpt"),
        k=5, method="hnsw", sink_path=out_path,
    )
    q.awaitTermination(120)

    got = sorted(
        (r.query_id, r.id, round(r.dist, 9))
        for r in spark.read.parquet(out_path).collect()
    )
    qdf = spark.createDataFrame(
        q_all, "query_id long, query_embedding array<double>"
    )
    want = sorted(
        (r.query_id, r.id, round(r.dist, 9))
        for r in svc.search_batch(qdf, k=5, method="hnsw").collect()
    )
    assert got == want and len(got) == 25
    # batch-id stamp rides for exactly-once replay dedup
    assert "_batch_id" in spark.read.parquet(out_path).columns


def test_query_stream_composes_with_tags_and_sq(spark, emb, tmp_path):
    """The foreachBatch hand-off keeps the whole search_batch surface:
    tag filters and the sq tier serve streaming micro-batches unchanged."""
    from neighborly_spark.search_service import SearchService
    from neighborly_spark.streaming.search import start_query_stream

    tagged = emb.withColumn(
        "tags", F.array(F.pmod(F.col("id"), F.lit(3)).cast("int"))
    ).cache()
    tagged.count()
    svc = SearchService(tagged, dim=64)
    svc.build_index("sq")

    qdir = str(tmp_path / "q_in")
    emb.limit(3).select(
        F.col("id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("query_embedding"),
    ).write.mode("overwrite").parquet(qdir)
    stream = spark.readStream.schema(
        "query_id long, query_embedding array<double>"
    ).parquet(qdir)

    results: list = []
    q = start_query_stream(
        stream, svc, checkpoint_dir=str(tmp_path / "ckpt2"),
        k=5, method="sq", tag_any=[1],
        on_results=lambda df: results.append(df),
    )
    q.awaitTermination(120)
    rows = [r for df in results for r in df.collect()]
    assert rows and all(r.id % 3 == 1 for r in rows)
    tagged.unpersist()


def test_query_stream_replay_is_idempotent_in_read_view(spark, emb, tmp_path):
    """Round-7 VERDICT 5: a micro-batch that fails AFTER its sink write
    (but before the offset commit) replays on restart with the same
    _batch_id; dynamic partition overwrite replaces that partition, so
    the read view carries exactly one copy of every (query_id, id,
    _batch_id) row."""
    from neighborly_spark.search_service import SearchService
    from neighborly_spark.streaming.search import start_query_stream

    svc = SearchService(emb, dim=64)
    svc.build_index("hnsw")

    qdir = str(tmp_path / "replay_q_in")
    emb.limit(4).select(
        F.col("id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("query_embedding"),
    ).write.mode("overwrite").parquet(qdir)

    def make_stream():
        return spark.readStream.schema(
            "query_id long, query_embedding array<double>"
        ).parquet(qdir)

    out_path = str(tmp_path / "replay_out")
    ckpt = str(tmp_path / "replay_ckpt")
    boom = {"armed": True}

    def explode_once(df):
        if boom["armed"]:
            boom["armed"] = False
            raise RuntimeError("injected post-write failure")

    # first run: the sink WRITES batch 0, then the injected failure stops
    # the stream before the batch commits
    q = start_query_stream(
        make_stream(), svc, checkpoint_dir=ckpt, k=5, method="hnsw",
        sink_path=out_path, on_results=explode_once,
    )
    with pytest.raises(Exception, match="injected post-write failure"):
        q.awaitTermination(120)
        q.processAllAvailable()  # surface the foreachBatch error
    # the write happened before the failure: rows exist for batch 0
    first = spark.read.parquet(out_path)
    assert first.count() == 20 and {r._batch_id for r in first.collect()} == {0}

    # restart: Structured Streaming REPLAYS batch 0 (it never committed);
    # the partition is overwritten, not appended
    q2 = start_query_stream(
        make_stream(), svc, checkpoint_dir=ckpt, k=5, method="hnsw",
        sink_path=out_path,
    )
    q2.awaitTermination(120)
    final = spark.read.parquet(out_path)
    rows = final.collect()
    assert len(rows) == 20  # 4 queries x k=5, once
    keys = [(r.query_id, r.id, r._batch_id) for r in rows]
    assert len(keys) == len(set(keys))  # no duplicate rows survive replay
    assert {b for _, _, b in keys} == {0}
    # and the replayed results equal the batch oracle
    qdf = emb.limit(4).select(
        F.col("id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("query_embedding"),
    )
    want = sorted(
        (r.query_id, r.id, round(r.dist, 9))
        for r in svc.search_batch(qdf, k=5, method="hnsw").collect()
    )
    got = sorted((r.query_id, r.id, round(r.dist, 9)) for r in rows)
    assert got == want


def test_query_stream_serves_ivfpq_snapshot_tier(spark, emb, tmp_path):
    """Round 8: a snapshot-backed service serves streaming ivfpq batches
    worker-resident (code bytes move executor<-storage once per worker
    per version, never per micro-batch) — results equal the batch run."""
    from neighborly_spark.search_service import SearchService
    from neighborly_spark.streaming.search import start_query_stream

    svc = SearchService(emb, dim=64)
    svc.build_index("ivfpq")
    svc.save(str(tmp_path / "snap"))
    assert svc._indexes["ivfpq"].snapshot is not None

    qdir = str(tmp_path / "q_in")
    emb.limit(4).select(
        F.col("id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("query_embedding"),
    ).write.mode("overwrite").parquet(qdir)
    stream = spark.readStream.schema(
        "query_id long, query_embedding array<double>"
    ).parquet(qdir)
    out_path = str(tmp_path / "res_out")
    q = start_query_stream(
        stream, svc, checkpoint_dir=str(tmp_path / "ck"),
        k=5, method="ivfpq", sink_path=out_path,
    )
    q.awaitTermination(180)
    got = sorted(
        (r.query_id, r.id, round(r.dist, 9))
        for r in spark.read.parquet(out_path).collect()
    )
    qdf = emb.limit(4).select(
        F.col("id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("query_embedding"),
    )
    want = sorted(
        (r.query_id, r.id, round(r.dist, 9))
        for r in svc.search_batch(qdf, k=5, method="ivfpq").collect()
    )
    assert got == want and len(got) == 20
