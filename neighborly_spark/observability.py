"""Observability: the engine's counters / spans surface (SURVEY §2.10).

The reference instruments VectorDatabase with OTEL metrics and activity
spans (VectorDatabase.cs:192-234 — counters for searches/adds/deletes,
histograms for latency — and :342-354 activity sources). A Spark engine
gets most execution telemetry for free (the Spark UI / event log / SQL
metrics), so this module provides the thin THIN layer that maps the
reference's surface onto that reality:

- ``Metrics``: process-local named counters + latency histograms with the
  same shape as the reference's instruments. On a cluster these would be
  exported by any OTLP-speaking agent; the object itself stays
  dependency-free (no otel packages in the container — the export slot is
  ``snapshot()``).
- ``span(name)``: timing context manager (the ActivitySource equivalent);
  nested spans record dotted names.
- ``sql_metrics(df)``: post-action read of the executed plan's SQL metrics
  (output rows, scan metrics) through py4j — the Spark-native numbers an
  operator dashboard actually wants, no listener registration needed.

SearchService wires nothing by default (zero overhead unless used):
``Metrics.instrument(service)`` wraps search/build_index with
counters+latency, mirroring how the reference meters its public API.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Metrics:
    """Named counters + latency recordings (seconds)."""

    counters: dict = field(default_factory=lambda: defaultdict(int))
    latencies: dict = field(default_factory=lambda: defaultdict(list))

    def inc(self, name: str, by: int = 1) -> None:
        self.counters[name] += by

    def record(self, name: str, seconds: float) -> None:
        self.latencies[name].append(seconds)

    @contextmanager
    def span(self, name: str):
        """Timed span; records into the latency histogram under `name`."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.record(name, time.perf_counter() - t0)

    def snapshot(self) -> dict:
        """Exportable view: counters plus per-name count/total/max latency —
        the OTLP-exporter slot (the reference pushes the same shape to its
        OTEL meter, VectorDatabase.cs:192-234)."""
        return {
            "counters": dict(self.counters),
            "latency": {
                n: {
                    "count": len(v),
                    "total_sec": round(sum(v), 6),
                    "max_sec": round(max(v), 6),
                }
                for n, v in self.latencies.items()
            },
        }

    def instrument(self, service) -> "Metrics":
        """Wrap a SearchService's public entry points with counters +
        latency spans (search.count / index.build.count etc. — the
        reference's instrument names, VectorDatabase.cs:192-234)."""

        def wrap(obj, attr, counter):
            orig = getattr(obj, attr)

            def wrapped(*a, **kw):
                self.inc(counter)
                with self.span(counter.rsplit(".count", 1)[0] + ".latency"):
                    return orig(*a, **kw)

            setattr(obj, attr, wrapped)

        wrap(service, "search", "search.count")
        wrap(service, "range_search", "range_search.count")
        wrap(service, "build_index", "index.build.count")
        wrap(service, "knn_join", "knn_join.count")
        wrap(service, "search_batch", "search_batch.count")
        return self


def sql_metrics(df) -> dict:
    """SQL metrics of the DataFrame's executed plan (run an action first):
    {node -> {metric -> value}}. The Spark-native observability surface —
    numOutputRows per operator, files/bytes read per scan — read through
    py4j by a recursive plan walk (descending into the AQE wrapper's
    current physical plan and into the plan each query stage wraps — a
    stage node reports no metrics and lists no children), no listener
    registration required."""
    out: dict = {}

    def visit(node) -> None:
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            return visit(node.executedPlan())
        if name.endswith("QueryStageExec"):
            return visit(node.plan())
        m = node.metrics()
        keys = m.keys().iterator()
        metrics = {}
        while keys.hasNext():
            k = keys.next()
            metrics[k] = m.get(k).get().value()
        if metrics:
            out.setdefault(node.nodeName(), {}).update(metrics)
        ch = node.children()
        for i in range(ch.size()):
            visit(ch.apply(i))

    visit(df._jdf.queryExecution().executedPlan())
    return out


def worker_cache_stats(spark, probes_per_core: int = 2) -> list[dict]:
    """Sample the shared byte-budgeted serving cache (operators.
    worker_cache) across the live python workers — the operational
    counterpart of the budget itself (round 9): a dashboard needs to SEE
    per-worker residency/evictions to size ``NB_WORKER_CACHE_MB`` or
    nlist/shard counts.

    One tiny mapInPandas probe job (probes_per_core tasks per core so
    the round-robin reaches every reusable worker with high probability;
    results deduped by (host, pid) — bare pids collide across executor
    hosts). mapInPandas rather than an RDD probe ON PURPOSE: Spark pools
    python workers per worker-factory key, and the serving tiers are all
    Arrow/pandas tasks — an RDD probe lands in a DIFFERENT pool and
    reports empty caches. Deliberately an ops tool, not a data path.
    Workers that served no snapshot traffic report zeros."""
    import json as _json

    n = max(1, spark.sparkContext.defaultParallelism * probes_per_core)

    def probe(batches):
        import json
        import os
        import socket

        import pandas as pd

        from neighborly_spark.operators import hnsw, ivfpq
        from neighborly_spark.operators.worker_cache import WORKER_CACHE

        for _ in batches:
            pass  # drain; the payload is worker state, not the rows
        yield pd.DataFrame(
            {
                "stats": [
                    json.dumps(
                        {
                            "host": socket.gethostname(),
                            "pid": os.getpid(),
                            "entries": len(WORKER_CACHE),
                            "bytes": WORKER_CACHE.bytes,
                            "budget": WORKER_CACHE.budget,
                            "evictions": WORKER_CACHE.evictions,
                            "hnsw_snapshot": dict(hnsw._SNAPSHOT_CACHE_STATS),
                            "ivfpq_cells": dict(ivfpq._SNAPSHOT_CELL_STATS),
                        }
                    )
                ]
            }
        )

    rows = (
        spark.range(n)
        .repartition(n)
        .mapInPandas(probe, "stats string")
        .collect()
    )
    by_worker: dict = {}
    for r in rows:
        d = _json.loads(r.stats)
        by_worker[(d["host"], d["pid"])] = d
    return list(by_worker.values())
