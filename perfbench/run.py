"""Gating benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload ivfpq_serve --seed 1 --seconds 14 --trace 0

Run from the repository root. Builds nothing: the engine is imported from
the checkout's ``neighborly_spark/``. Everything the run writes (inputs,
index artifacts, Spark scratch, the full result record) lands under
``.perfbench_work/`` in the root. The last line of stdout is the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``); the line
before it is the run's stamp (versions, sizes, seed).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
#: input set-ups per run: setup_s is the session start plus their median
#: (the first pays the read and cache path's first-use costs, the second
#: does not)
SETUP_REPS = 2


def _env(work: str, workload: str) -> None:
    """Process environment for the JVM and the Python workers it forks;
    must be set before the session starts."""
    from perfbench.workloads import SIZES

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["TMPDIR"] = tmp
    # every JVM, the launcher included: temp files in the checkout and no
    # /tmp/hsperfdata_<user>. The driver JVM lives for one run, so it
    # compiles with C1 only (TieredStopAtLevel=1): C2 compiler threads would
    # compete with the task threads for the few cores during the timed
    # phases, and their first-use cost varies from run to run.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -XX:TieredStopAtLevel=1 -Djava.io.tmpdir={tmp}"
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "pyspark-shell",
    ])
    os.environ.pop("NB_WORKER_CACHE_MB", None)
    if workload == "hnsw_serve":
        # a deployment setting: about one shard (~2 KB per resident row),
        # below each worker's share of the shards, so passes evict and reload
        s = SIZES["hnsw_serve"]
        os.environ["NB_WORKER_CACHE_MB"] = str(round(s["rows"] / s["shards"] * 2048 / 2**20, 3))


def _blas_max_threads() -> int | None:
    import re

    import numpy as np

    try:
        cfg = np.show_config(mode="dicts")["Build Dependencies"]["blas"]
    except (TypeError, KeyError):
        return None
    m = re.search(r"MAX_THREADS=(\d+)", str(cfg.get("openblas configuration", "")))
    return int(m.group(1)) if m else None


def _git_commit() -> str | None:
    # the ceiling keeps git from reporting an enclosing repository's commit
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10, env=env)
    except OSError:
        return None
    return out.stdout.strip() or None


def _stop_spark(spark, timeout: float = 30.0) -> None:
    """Stop the session and wait until every process the run started (the
    JVM, the Python daemon and workers) has ended; kill stragglers."""
    from perfbench.trace import descendants

    procs = descendants(os.getpid())
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        jvm.wait(timeout)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()
    deadline = time.monotonic() + timeout
    while procs:
        procs = [p for p in procs if os.path.exists(f"/proc/{p}")]
        if procs and time.monotonic() > deadline:
            for p in procs:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def end_to_end(run, setup_s: float) -> dict:
    from perfbench.metrics import END_TO_END

    values = {"setup_s": setup_s}
    for name, *_ in END_TO_END:
        if name not in values:
            values[name] = run.median(name) if run.samples.get(name) else 0.0
    return {name: {"value": values[name], "unit": unit} for name, unit, *_ in END_TO_END}


def per_layer(run, tracer, kernels: dict, e2e: dict) -> dict:
    """Every per-layer metric: medians over phase occurrences for the
    status-store numbers, mean span time per phase occurrence."""
    from perfbench.metrics import SPANS, TRACED, per_layer as names, span_metric

    values = {k: statistics.median(v) for k, v in run.layers.items()}
    totals = tracer.totals()
    for span, phases, _ in SPANS:
        for phase in phases:
            tot = totals.get((span, phase))
            n = run.phase_counts.get(phase, 0)
            values[span_metric(span, phase)] = tot[0] / n if tot and n else 0.0
    values.update(kernels)
    values.update({f"traced.run.{k}": e2e[k]["value"] for k in TRACED})
    if run.samples.get("throughput_cold"):
        values["traced.run.throughput_cold"] = run.median("throughput_cold")
    return {name: {"value": float(values.get(name, 0.0)), "unit": unit}
            for name, unit, _ in names()}


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "neighborly_spark", "__init__.py")):
        print("perfbench: neighborly_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _env(work, args.workload)
    cpus = len(os.sched_getaffinity(0))

    from perfbench import trace
    from perfbench.workloads import PYTHON_WORKLOADS, SIZES, Run

    sampler = trace.RssSampler()
    t0 = time.perf_counter()
    import pyspark

    from neighborly_spark.session import get_spark

    spark = get_spark(app_name="perfbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    if args.workload in PYTHON_WORKLOADS:
        def ident(batches):
            yield from batches

        # start the Python worker pool: once per deployment, not per call
        spark.range(0, 2 * cpus, numPartitions=2 * cpus).mapInPandas(ident, "id long").collect()
    session_s = time.perf_counter() - t0
    print(f"perfbench: session {session_s:.2f} s", file=sys.stderr)

    try:
        tracer = stats = None
        if args.trace:
            import importlib

            from perfbench.metrics import SPANS, split_span

            tracer = trace.Tracer()
            # import every engine module first: wrap() rebinds names imported
            # with `from ... import` in the modules that hold them
            for span, _, _ in SPANS:
                importlib.import_module(f"neighborly_spark.{split_span(span)[0]}")
            for span, _, forced in SPANS:
                if not forced:
                    mod, qual = split_span(span)
                    tracer.wrap(importlib.import_module(f"neighborly_spark.{mod}"), qual, span)
            stats = trace.SparkStats(spark)
        run = Run(spark, work, args.seed, args.seconds, sampler, tracer, stats)
        setup_times = []

        def setup(make):
            """Input generation and caching, repeated; the last copy is used."""
            out = None
            for _ in range(SETUP_REPS):
                for prev in _frames(out):
                    prev.unpersist()
                t = time.perf_counter()
                out = make()
                setup_times.append(time.perf_counter() - t)
                print(f"perfbench: setup {setup_times[-1]:.2f} s", file=sys.stderr)
            if stats is not None:
                stats.skip()
            return out

        cpu0 = trace.cpu_times()
        WORKLOADS[args.workload](run, setup)
        run.layers["host.run.steal_ratio"] = [trace.steal_ratio(cpu0, trace.cpu_times())]
        run.layers["host.run.peak_rss_mb"] = [sampler.peak]
        e2e = end_to_end(run, session_s + statistics.median(setup_times))
        kernels = {}
        if args.trace:
            tracer.unwrap()
            env = dict(os.environ, OPENBLAS_NUM_THREADS="1", OMP_NUM_THREADS="1")
            out = subprocess.run([sys.executable, "-m", "perfbench.kernels", "--seed", str(args.seed)],
                                 cwd=ROOT, env=env, capture_output=True, text=True, timeout=150,
                                 check=True)
            kernels = json.loads(out.stdout.strip().splitlines()[-1])
        metrics = per_layer(run, tracer, kernels, e2e) if args.trace else e2e

        import numpy as np
        import pyarrow

        stamp = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": cpus, "spark": pyspark.__version__,
            "numpy": np.__version__, "pyarrow": pyarrow.__version__,
            "blas_max_threads": _blas_max_threads(), "git_commit": _git_commit(),
            "sizes": SIZES[args.workload], "phases": run.phase_counts,
            "worker_cache_mb": os.environ.get("NB_WORKER_CACHE_MB", "default"),
            "steal_ratio": run.layers["host.run.steal_ratio"][0], **run.stamp,
        }
        correct = run.failed == 0 and run.attempted > 0
        result = {"correct": correct, "attempted": run.attempted, "failed": run.failed,
                  "metrics": metrics}
        record = dict(result, stamp=stamp, problems=run.problems, samples=run.samples,
                      layers=run.layers, end_to_end=e2e)
        if tracer is not None:
            # (total s, self s, calls) per span and phase
            record["spans"] = {f"{n}@{ph}": v for (n, ph), v in tracer.totals().items()}
    finally:
        sampler.close()
        _stop_spark(spark)
    results = os.path.join(ROOT, ".perfbench_work", "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"stamp": stamp, "problems": run.problems[:10]}))
    print(json.dumps(result))
    return 0


def _frames(obj):
    """Cached DataFrames inside a setup result (nested tuples/lists)."""
    if obj is None:
        return []
    if hasattr(obj, "unpersist"):
        return [obj]
    if isinstance(obj, (tuple, list)):
        return [f for o in obj for f in _frames(o)]
    return []


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
