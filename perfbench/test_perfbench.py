"""Tests of the benchmark itself; only the phase-attribution test starts a
(small, local) Spark session:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

from perfbench import checks, inputs
from perfbench.metrics import END_TO_END, per_layer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_vectors_deterministic_per_seed_and_differ_across_seeds():
    a, b, c = (inputs.vectors(s, 400, 50) for s in (7, 7, 8))
    assert np.array_equal(a.table, b.table) and np.array_equal(a.queries, b.queries)
    assert not np.array_equal(a.table, c.table)
    assert np.allclose(np.linalg.norm(a.table, axis=1), 1.0, atol=1e-5)
    # held out: no query is itself a table row
    d = ((a.queries[:, None, :] - a.table[None, :, :]) ** 2).sum(-1)
    assert d.min() > 1e-6


def test_corpus_deterministic_and_plants_known_duplicates():
    a, b, c = (inputs.corpus(s, 200, 2, 50) for s in (3, 3, 4))
    assert a.history_text == b.history_text and a.batches[1][1] == b.batches[1][1]
    assert a.history_text != c.history_text
    assert len(a.exact_copies) == len(a.near_dups) == 10
    text_of = dict(zip(a.history_ids.tolist(), a.history_text))
    for ids, texts in a.batches:
        text_of.update(zip(ids.tolist(), texts))
    for d, s in a.exact_copies.items():
        assert text_of[d] == text_of[s]
    for d, s in a.near_dups.items():
        assert text_of[d] != text_of[s]
        assert checks.jaccard(text_of[d], text_of[s], inputs.SHINGLE_K) >= 0.8


def _exact_rows(table, queries, k):
    d = np.linalg.norm(queries[:, None, :].astype(np.float64) - table[None].astype(np.float64), axis=2)
    top = np.argsort(d, axis=1)[:, :k]
    return [(q, int(i), float(d[q, i])) for q in range(len(queries)) for i in top[q]]


@pytest.fixture(scope="module")
def knn_case():
    vi = inputs.vectors(1, 300, 20)
    return vi, _exact_rows(vi.table, vi.queries, 10)


def test_knn_check_accepts_exact_result(knn_case):
    vi, rows = knn_case
    assert checks.knn_problems(rows, vi.table, vi.queries, 10) == []
    assert checks.recall_at_k(rows, vi.table, vi.queries, 10) == 1.0


def test_knn_check_rejects_dropped_row(knn_case):
    vi, rows = knn_case
    assert checks.knn_problems(rows[1:], vi.table, vi.queries, 10)


def test_knn_check_rejects_wrong_distance(knn_case):
    vi, rows = knn_case
    q, i, d = rows[3]
    bad = rows[:3] + [(q, i, d * (1 + 1e-4))] + rows[4:]
    assert checks.knn_problems(bad, vi.table, vi.queries, 10)


def test_knn_check_rejects_invalid_and_repeated_ids(knn_case):
    vi, rows = knn_case
    assert checks.knn_problems([(0, 10**6, 0.0)] + rows[1:], vi.table, vi.queries, 10)
    assert checks.knn_problems([rows[1]] + rows[1:], vi.table, vi.queries, 10)


def test_recall_counts_missed_neighbors(knn_case):
    vi, rows = knn_case
    far = np.argsort(np.linalg.norm(vi.table - vi.queries[0], axis=1))[-1]
    bad = [(0, int(far), 0.0)] + rows[1:]
    assert checks.recall_at_k(bad, vi.table, vi.queries, 10) == pytest.approx(1 - 1 / 200)


@pytest.fixture(scope="module")
def corpus_case():
    ci = inputs.corpus(5, 200, 1, 100)
    ids, texts = ci.batches[0]
    text_of = dict(zip(ci.history_ids.tolist(), ci.history_text))
    text_of.update(zip(ids.tolist(), texts))
    return ci, ids, text_of


def test_filter_new_check_rejects_kept_exact_copy(corpus_case):
    ci, ids, _ = corpus_case
    good = [i for i in ids.tolist() if i not in ci.exact_copies]
    assert checks.filter_new_problems(good, ids, ci.exact_copies) == []
    assert checks.filter_new_problems(good + [next(iter(ci.exact_copies))], ids, ci.exact_copies)
    assert checks.filter_new_problems(good[1:], ids, ci.exact_copies)


def test_neardup_checks_reject_missed_and_false_pairs(corpus_case):
    ci, ids, text_of = corpus_case
    pairs = list(ci.near_dups.items())
    assert checks.neardup_problems(pairs, text_of, 0.5, inputs.SHINGLE_K) == []
    assert checks.neardup_recall(pairs, ci.near_dups) == 1.0
    assert checks.neardup_recall(pairs[1:], ci.near_dups) < 1.0
    unrelated = (int(ids[1]), int(ci.history_ids[0]))
    assert checks.neardup_problems([unrelated], text_of, 0.5, inputs.SHINGLE_K)


def test_curation_check_rejects_duplicates_and_foreign_ids(corpus_case):
    ci, ids, text_of = corpus_case
    rows = [(int(i), "train") for i in ids[:5]]
    assert checks.curation_problems(rows, ids, text_of) == []
    assert checks.curation_problems(rows + [(int(ci.history_ids[0]), "val")], ids, text_of)
    assert checks.curation_problems(rows + [rows[0]], ids, text_of)


def test_metric_names_match_benchmark_json():
    from perfbench.run import end_to_end, per_layer as layer_metrics
    from perfbench.trace import Tracer

    spec = _bench_json()

    class FakeRun:
        samples = {"build_s": [1.0], "recall": [0.9, 1.0]}
        layers = {"spark.build.stages": [3.0]}
        phase_counts = {"build": 1}

        def median(self, name):
            return float(np.median(self.samples[name]))

    e2e = end_to_end(FakeRun(), 2.0)
    assert list(e2e) == [m["name"] for m in spec["end_to_end"]]
    assert [v["unit"] for v in e2e.values()] == [m["unit"] for m in spec["end_to_end"]]
    layers = layer_metrics(FakeRun(), Tracer(), {}, e2e)
    assert list(layers) == [m["name"] for m in spec["per_layer"]]
    assert [(n, u, b) for n, u, b in per_layer()] == [
        (m["name"], m["unit"], m["better"]) for m in spec["per_layer"]
    ]
    assert [(n, u, b, bd) for n, u, b, bd in END_TO_END] == [
        (m["name"], m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]
    ]


def test_wrap_rebinds_from_imports_and_unwrap_restores():
    from neighborly_spark import fsio
    from neighborly_spark.operators import dedup_store
    from perfbench.trace import Tracer

    orig = fsio.read_json
    assert dedup_store._read_manifest is orig
    t = Tracer()
    t.wrap(fsio, "read_json", "fsio.read_json")
    assert fsio.read_json is not orig and dedup_store._read_manifest is fsio.read_json
    t.unwrap()
    assert fsio.read_json is orig and dedup_store._read_manifest is orig


def test_span_self_time_excludes_children():
    import time

    from perfbench.trace import Tracer

    t = Tracer()
    t.phase = "build"
    with t.span("outer"):
        with t.span("inner"):
            time.sleep(0.02)
    tot = t.totals()
    assert tot[("outer", "build")][0] >= tot[("inner", "build")][0] >= 0.02
    assert tot[("outer", "build")][1] < 0.01


def test_phase_stats_count_each_occurrence_once(tmp_path, monkeypatch):
    """Three occurrences of one phase running the same job report the same
    stage and task counts, not a growing sum of earlier occurrences."""
    from types import SimpleNamespace

    pytest.importorskip("pyspark")
    from pyspark.sql import functions as F

    from neighborly_spark.session import get_spark
    from perfbench.trace import SparkStats
    from perfbench.workloads import Run

    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "1g")
    spark = get_spark(app_name="perfbench-test", cpus=2)
    try:
        run = Run(spark, str(tmp_path), 0, 0.0, SimpleNamespace(active=False),
                  stats=SparkStats(spark))
        for _ in range(3):
            with run.phase("serve_warm"):
                # a shuffle: two stages per occurrence
                spark.range(0, 100, numPartitions=2).groupBy((F.col("id") % 3).alias("g")) \
                    .count().collect()
        stages = run.layers["spark.serve_warm.stages"]
        tasks = run.layers["spark.serve_warm.tasks"]
    finally:
        spark.stop()
    assert stages[0] > 0 and stages == [stages[0]] * 3
    assert tasks == [tasks[0]] * 3


def test_parse_sql_metric():
    from perfbench.trace import parse_sql_metric

    assert parse_sql_metric("total (min, med, max (stageId: taskId))\n13.8 s (3.4 s, 3.5 s)") == 13.8
    assert parse_sql_metric("887 ms") == pytest.approx(0.887)
    assert parse_sql_metric("total (min, med, max)\n1.5 KiB (1 B)") == 1536.0


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ivfpq_serve", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0 and p.stdout == ""
