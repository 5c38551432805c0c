"""Metric names, units and directions — the single source the result
printer and ``BENCHMARK.json`` must agree on (tested).

End-to-end metrics are the same for every workload; the throughput and
recall metrics read per workload as documented in perfbench/README.md.
Per-layer names are ``<layer>.<phase>.<metric>``; every workload reports
every one of them, with 0 for a layer it does not touch. Layer/phase pairs
that no workload can produce are left out (no Python node runs in the
ingest phase, no JSON manifest is read or written in it, and a cold pass
serves a snapshot version no worker cache has seen).
"""

from __future__ import annotations

#: (name, unit, better, bound)
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("build_s", "s", "lower", 0.25),
    ("throughput_warm", "1/s", "higher", 0.25),
    ("recall", "ratio", "higher", 0.05),
    ("bytes_stored_ratio", "ratio", "lower", 0.05),
]

PHASES = ("build", "serve_cold", "serve_warm", "ingest")
SPARK = (
    ("stages", "count"), ("tasks", "count"), ("executor_run_s", "s"), ("executor_cpu_s", "s"),
    ("gc_s", "s"), ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"),
    ("task_max_s", "s"), ("task_median_s", "s"),
)
PYTHON_WORKER = (
    ("boot_s", "s"), ("init_s", "s"), ("run_s", "s"), ("sent_mb", "MB"), ("received_mb", "MB"),
)
#: (span name = <module>.<qualname>, phases it is reported in, forced).
#: A forced span is recorded by the workload around the call and the
#: action that forces its lazy result; the others wrap the function, so a
#: function returning a DataFrame counts its call time (planning plus the
#: jobs it runs eagerly) and its lazy work lands in the forced span above it.
SPANS = (
    ("search_service.SearchService.build_index", ("build",), False),
    ("search_service.SearchService.save", ("build",), False),
    ("search_service.SearchService.load", ("build",), False),
    ("search_service.SearchService.search_batch", ("serve_cold", "serve_warm"), True),
    ("operators.ivf.ivf_train_sampled", ("build",), False),
    ("operators.quantization.pq_train_sampled", ("build",), False),
    ("operators.quantization._lloyd", ("build",), False),
    ("operators.ivfpq.ivfpq_train", ("build",), False),
    ("operators.ivfpq.ivfpq_encode", ("build",), False),
    ("operators.ivfpq.ivfpq_knn_join_snapshot", ("serve_cold", "serve_warm"), False),
    ("operators.hnsw.hnsw_build", ("build",), False),
    ("operators.hnsw.hnsw_routing_table", ("build",), False),
    ("operators.hnsw.hnsw_snapshot_write", ("build",), False),
    ("operators.hnsw.hnsw_search_batch_snapshot", ("serve_cold", "serve_warm"), True),
    ("sources.etl.save_database", ("build",), False),
    ("sources.etl.load_database", ("build",), False),
    ("fsio.write_json", ("build",), False),
    ("fsio.read_json", ("build",), False),
    ("operators.dedup_store.DedupStore.add", ("build", "ingest"), False),
    ("operators.dedup_store.DedupStore.filter_new", ("ingest",), True),
    ("operators.dedup_store.DedupStore.neardup_matches", ("ingest",), True),
    ("operators.corpus.curation_pipeline", ("ingest",), True),
)
WORKER_CACHE = (
    ("hits", "count"), ("misses", "count"), ("hit_ratio", "ratio"), ("evictions", "count"),
    ("resident_mb", "MB"),
)
#: the end-to-end timings as measured with tracing on: minus an untraced
#: run of the same seed, the tracing overhead
TRACED = ("setup_s", "build_s", "throughput_warm")
KERNELS = (("lloyd", "build"), ("residual_luts", "serve_warm"), ("adc_dists", "serve_warm"),
           ("topk_stable", "serve_warm"), ("shard_search", "serve_warm"))


def split_span(span: str) -> tuple:
    """'operators.dedup_store.DedupStore.add' -> ('operators.dedup_store',
    'DedupStore.add'): module path under neighborly_spark, qualname."""
    parts = span.split(".")
    i = next((j for j, p in enumerate(parts) if p[0].isupper()), len(parts) - 1)
    return ".".join(parts[:i]), ".".join(parts[i:])


def span_metric(span: str, phase: str) -> str:
    """'operators.hnsw.hnsw_build' in 'build' -> 'operators.hnsw.build.hnsw_build_s'
    (the class name of a method stays out of the metric name)."""
    layer, qual = split_span(span)
    return f"{layer}.{phase}.{qual.split('.')[-1].lstrip('_')}_s"


def per_layer() -> list:
    """[(name, unit, better)] of every per-layer metric, in report order."""
    out = []
    for phase in PHASES:
        out += [(f"spark.{phase}.{m}", u) for m, u in SPARK]
        if phase != "ingest":
            out += [(f"python_worker.{phase}.{m}", u) for m, u in PYTHON_WORKER]
    for span, phases, _ in SPANS:
        out += [(span_metric(span, p), "s") for p in phases]
    for phase in ("serve_cold", "serve_warm"):
        out += [(f"operators.worker_cache.{phase}.{m}", u) for m, u in WORKER_CACHE
                if phase == "serve_warm" or m not in ("hits", "hit_ratio")]
    for k, phase in KERNELS:
        out += [(f"kernel.{phase}.{k}_ms", "ms"), (f"kernel.{phase}.{k}_mops", "Mop"),
                (f"kernel.{phase}.{k}_mb", "MB")]
    # summed RSS of driver, JVM and workers: it does not repeat within a
    # tenth across runs, so it is reported here rather than end to end
    out += [("host.run.steal_ratio", "ratio"), ("host.run.peak_rss_mb", "MB")]
    # cold-pass throughput: one sample per run, and its spread over seeds
    # exceeded the 0.25 bound, so it is not gated
    out.append(("traced.run.throughput_cold", "1/s"))
    units = {n: u for n, u, *_ in END_TO_END}
    out += [(f"traced.run.{n}", units[n]) for n in TRACED]
    higher = ("hits", "hit_ratio", "throughput_cold", "throughput_warm")
    return [(n, u, "higher" if n.endswith(higher) else "lower") for n, u in out]
