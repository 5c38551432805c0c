"""The three closed-loop workloads. One client drives one ``local[nproc]``
Spark driver and submits its next call only after the previous one has
completed. A run builds and publishes once, then either serves a cold pass
and warm passes until its measuring time is spent (ANN workloads) or
ingests its two batches in order (corpus). A metric with several samples
in a run reports their median.

Each occurrence of a phase (``build``, ``serve_cold``, ``serve_warm``,
``ingest``) runs under a Spark job group of its own, so the traced run
attributes each stage to exactly one occurrence.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import sys
import time
import uuid

import numpy as np

from perfbench import checks, inputs
from perfbench.metrics import PYTHON_WORKER

K = 10
#: workload sizes: a run with its set-up takes 35-53 s on 4 cores, which
#: the gate's total time allows for three workloads (README.md)
SIZES = {
    # min_warm: warm passes a run makes at the least; more follow while the
    # measuring time lasts. An hnsw pass takes ~2 s and two of them in one
    # run can differ by a fifth, so its median takes three.
    "ivfpq_serve": {"rows": 2000, "queries": 1000, "min_warm": 2},
    "hnsw_serve": {"rows": 1600, "queries": 1000, "shards": 8, "probe_shards": 2, "ef": 64,
                   "min_warm": 3},
    # half of the incoming docs are planted near-duplicates, so the pooled
    # near-dup recall rests on 250 of them
    "corpus_ingest": {"history": 1000, "batches": 2, "batch_size": 250, "exact_share": 0.1,
                      "near_share": 0.5},
}
#: workloads whose engine code runs Python workers; their set-up starts
#: the worker pool, once per deployment
PYTHON_WORKLOADS = ("ivfpq_serve", "hnsw_serve")
#: near-duplicate threshold of the read gate (DedupStore.neardup_matches default)
NEARDUP_THRESHOLD = 0.5


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class Run:
    """State of one benchmark run: the session, the optional tracer and
    status-store reader, and the samples the workload records."""

    def __init__(self, spark, workdir: str, seed: int, seconds: float, sampler, tracer=None,
                 stats=None):
        self.spark = spark
        self.workdir = workdir
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.stats = stats
        self.sampler = sampler
        self.samples: dict = {}
        self.layers: dict = {}
        self.attempted = 0
        self.failed = 0
        self.problems: list = []
        self.stamp: dict = {}
        self.phase_counts: dict = {}

    def add(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(float(value))

    def median(self, name: str) -> float:
        return statistics.median(self.samples[name])

    @contextlib.contextmanager
    def phase(self, name: str):
        """Job group + tracer phase + RSS window around a timed phase;
        yields a dict whose 'seconds' is set on exit."""
        out: dict = {}
        n = self.phase_counts[name] = self.phase_counts.get(name, 0) + 1
        group = f"{name}#{n}"
        self.spark.sparkContext.setJobGroup(group, group)
        if self.tracer is not None:
            self.tracer.phase = name
        self.sampler.active = True
        t0 = time.perf_counter()
        try:
            yield out
        finally:
            out["seconds"] = time.perf_counter() - t0
            self.sampler.active = False
            self.spark.sparkContext.setJobGroup("bench", "bench")
            print(f"perfbench: {name} {out['seconds']:.2f} s", file=sys.stderr)
        if self.stats is not None:
            for key, val in self.stats.phase_stats(group).items():
                layer = "python_worker" if key in _PY_KEYS else "spark"
                self.layer_add(f"{layer}.{name}.{key}", val)

    def span(self, name: str):
        """A tracer span around a call and the action that forces it."""
        return self.tracer.span(name) if self.tracer is not None else contextlib.nullcontext()

    def layer_add(self, name: str, value: float) -> None:
        self.layers.setdefault(name, []).append(float(value))

    def check(self, problems: list) -> None:
        """Count one operation; it fails if any check found a problem."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(problems[:5])

    def start(self) -> None:
        """Start the measuring clock (after set-up)."""
        self._t0 = time.perf_counter()

    def elapsed(self) -> float:
        return time.perf_counter() - self._t0

    def cache_probe(self, phase: str, before: dict | None) -> dict:
        """Summed worker-cache counters now; with ``before`` also records
        the phase's deltas as per-layer metrics."""
        if self.stats is None:
            return {}
        from neighborly_spark.observability import worker_cache_stats

        self.spark.sparkContext.setJobGroup("trace_probe", "trace_probe")
        rows = worker_cache_stats(self.spark)
        self.spark.sparkContext.setJobGroup("bench", "bench")
        self.stats.skip()
        now = {"hits": 0, "misses": 0, "evictions": 0, "resident_mb": 0.0}
        for r in rows:
            for tier in ("hnsw_snapshot", "ivfpq_cells"):
                now["hits"] += r[tier].get("hits", 0)
                now["misses"] += r[tier].get("misses", 0)
            now["evictions"] += r["evictions"]
            now["resident_mb"] += r["bytes"] / 2**20
        if before is not None:
            d = {k: now[k] - before[k] for k in ("hits", "misses", "evictions")}
            d["hit_ratio"] = d["hits"] / max(1, d["hits"] + d["misses"])
            d["resident_mb"] = now["resident_mb"]
            for k, v in d.items():
                self.layer_add(f"operators.worker_cache.{phase}.{k}", v)
        return now


_PY_KEYS = {name for name, _ in PYTHON_WORKER}


def _vector_frames(run: Run, vi: inputs.VectorInputs):
    """Write the generated vectors as parquet and cache them in Spark."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = os.path.join(run.workdir, "inputs")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)

    def write(name, id_name, vec_name, x):
        tbl = pa.table({
            id_name: pa.array(np.arange(len(x), dtype=np.int64)),
            vec_name: pa.FixedSizeListArray.from_arrays(pa.array(x.reshape(-1)), x.shape[1]).cast(
                pa.list_(pa.float32())
            ),
        })
        pq.write_table(tbl, os.path.join(d, f"{name}.parquet"))
        cpus = run.spark.sparkContext.defaultParallelism
        df = run.spark.read.parquet(os.path.join(d, f"{name}.parquet")).repartition(cpus).cache()
        df.count()
        return df

    return write("table", "id", "embedding", vi.table), write("queries", "query_id", "query_embedding", vi.queries)


def _serve_pass(run: Run, phase: str, vi, query) -> None:
    """One pass over the query table, then its checks (untimed)."""
    before = run.cache_probe(phase, None)
    try:
        with run.phase(phase) as p:
            rows = query()
    except Exception as e:  # a failed pass counts as a failed operation
        run.check([f"{phase}: {type(e).__name__}: {e}"])
        return
    run.cache_probe(phase, before)
    run.check(checks.knn_problems(rows, vi.table, vi.queries, K))
    qps = len(vi.queries) / p["seconds"]
    run.add("throughput_cold" if phase == "serve_cold" else "throughput_warm", qps)
    run.add("recall", checks.recall_at_k(rows, vi.table, vi.queries, K))


def _setup_vectors(run: Run, size: dict):
    vi = inputs.vectors(run.seed, size["rows"], size["queries"])
    return (vi, *_vector_frames(run, vi))


def _serve(run: Run, vi, query, min_warm: int) -> None:
    """A cold pass right after publishing (a snapshot version no worker
    cache has seen, and the process's first use of the serving code), then
    warm passes until the run's measuring time is spent, at least
    ``min_warm``."""
    _serve_pass(run, "serve_cold", vi, query)
    n = 0
    while n < min_warm or run.elapsed() < run.seconds:
        _serve_pass(run, "serve_warm", vi, query)
        n += 1


def ivfpq_serve(run: Run, setup) -> None:
    from neighborly_spark.search_service import SearchService

    size = SIZES["ivfpq_serve"]
    vi, table, queries = setup(lambda: _setup_vectors(run, size))
    path = os.path.join(run.workdir, "ivfpq")
    run.start()
    try:
        with run.phase("build") as p:
            svc = SearchService(table, inputs.DIM)
            svc.build_index("ivfpq")
            svc.save(path)
            served = SearchService.load(run.spark, path)
    except Exception as e:  # a failed build fails the passes it would serve
        run.check([f"build: {type(e).__name__}: {e}"])
        return
    run.add("build_s", p["seconds"])
    run.add("bytes_stored_ratio", dir_bytes(path) / (vi.table.nbytes + 8 * len(vi.table)))

    def query():
        with run.span("search_service.SearchService.search_batch"):
            return served.search_batch(queries, k=K, method="ivfpq").collect()

    _serve(run, vi, query, size["min_warm"])


def hnsw_serve(run: Run, setup) -> None:
    from neighborly_spark.operators import hnsw as HN

    size = SIZES["hnsw_serve"]
    vi, table, queries = setup(lambda: _setup_vectors(run, size))
    path = os.path.join(run.workdir, "hnsw")
    run.start()
    try:
        with run.phase("build") as p:
            graph = HN.hnsw_build(table, inputs.DIM, num_partitions=size["shards"], spatial=True).cache()
            graph.count()
            routing = HN.hnsw_routing_table(graph).cache()
            part_ids = sorted(r.part_id for r in routing.select("part_id").collect())
            HN.hnsw_snapshot_write(graph, path)
    except Exception as e:
        run.check([f"build: {type(e).__name__}: {e}"])
        return
    run.add("build_s", p["seconds"])
    run.add("bytes_stored_ratio", dir_bytes(path) / (vi.table.nbytes + 8 * len(vi.table)))
    version = uuid.uuid4().hex

    def query():
        with run.span("operators.hnsw.hnsw_search_batch_snapshot"):
            return HN.hnsw_search_batch_snapshot(
                run.spark, path, part_ids, queries, K, version=version,
                ef=size["ef"], probe_shards=size["probe_shards"], routing=routing,
            ).select("query_id", "id", "dist").collect()

    _serve(run, vi, query, size["min_warm"])


def corpus_ingest(run: Run, setup) -> None:
    from pyspark.sql import functions as F

    from neighborly_spark.operators.corpus import curation_pipeline
    from neighborly_spark.operators.dedup_store import DedupStore

    size = SIZES["corpus_ingest"]

    def make():
        ci = inputs.corpus(run.seed, size["history"], size["batches"], size["batch_size"],
                           size["exact_share"], size["near_share"])
        cpus = run.spark.sparkContext.defaultParallelism

        def frame(ids, texts):
            import pandas as pd

            df = run.spark.createDataFrame(
                pd.DataFrame({"doc_id": np.asarray(ids, dtype=np.int64), "text": list(texts)}),
                "doc_id long, text string",
            ).repartition(cpus).cache()
            df.count()
            return df

        hist = frame(ci.history_ids, ci.history_text)
        return ci, hist, [frame(ids, texts) for ids, texts in ci.batches]

    ci, hist, batch_dfs = setup(make)
    text_of = dict(zip(ci.history_ids.tolist(), ci.history_text))
    for ids, texts in ci.batches:
        text_of.update(zip(ids.tolist(), texts))
    run.stamp["planted"] = {"exact_copies": len(ci.exact_copies), "near_dups": len(ci.near_dups)}
    path = os.path.join(run.workdir, "store")
    run.start()
    try:
        with run.phase("build") as p:
            store = DedupStore.create(run.spark, path)
            store.add(hist, ingest_id="history")
    except Exception as e:  # a failed build fails the batches it would gate
        run.check([f"build: {type(e).__name__}: {e}"])
        return
    run.add("build_s", p["seconds"])
    added_bytes = sum(len(t.encode()) for t in ci.history_text)
    all_pairs, planted = [], {}
    # the first batch after the store build is the cold one
    for b, ((ids, texts), bdf) in enumerate(zip(ci.batches, batch_dfs)):
        out = os.path.join(run.workdir, f"curated_{b}")
        try:
            with run.phase("ingest") as p:
                with run.span("operators.dedup_store.DedupStore.filter_new"):
                    new = store.filter_new(bdf)
                    new_ids = [r.doc_id for r in new.select("doc_id").collect()]
                with run.span("operators.dedup_store.DedupStore.neardup_matches"):
                    pairs = [
                        (r.doc_id, r.store_doc_id)
                        for r in store.neardup_matches(new, threshold=NEARDUP_THRESHOLD)
                        .select("doc_id", "store_doc_id").collect()
                    ]
                # the store keeps one representative per near-dup family
                flagged = sorted({d for d, _ in pairs})
                survivors = new.filter(~F.col("doc_id").isin(flagged)) if flagged else new
                with run.span("operators.corpus.curation_pipeline"):
                    curation_pipeline(survivors).write.mode("overwrite").parquet(out)
                store.add(survivors, ingest_id=f"batch{b}")
        except Exception as e:
            run.check([f"ingest: {type(e).__name__}: {e}"])
            continue
        curated = [
            (r.doc_id, r.split)
            for r in run.spark.read.parquet(out).select("doc_id", "split").collect()
        ]
        run.check(
            checks.filter_new_problems(new_ids, ids, ci.exact_copies)
            + checks.neardup_problems(pairs, text_of, NEARDUP_THRESHOLD, inputs.SHINGLE_K)
            + checks.curation_problems(curated, ids, text_of)
        )
        added_bytes += sum(len(text_of[i].encode()) for i in set(new_ids) - set(flagged))
        all_pairs += pairs
        batch = set(ids.tolist())
        planted.update((d, s) for d, s in ci.near_dups.items() if d in batch)
        run.add("throughput_cold" if b == 0 else "throughput_warm", len(ids) / p["seconds"])
    # pooled over the ingested batches: one batch plants too few near-dups
    # for a steady share
    run.add("recall", checks.neardup_recall(all_pairs, planted))
    run.add("bytes_stored_ratio", dir_bytes(path) / added_bytes)


WORKLOADS = {
    "ivfpq_serve": ivfpq_serve,
    "hnsw_serve": hnsw_serve,
    "corpus_ingest": corpus_ingest,
}
