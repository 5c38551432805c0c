"""Dump explain('formatted') for registry queries and bench entries to plans/<round>/.

Usage: python scripts/dump_plans.py <round> <suffix> [sf_dir] [name ...]
  round:  plan directory name, e.g. 'r12' — files land under plans/<round>/
  suffix: 'before' or 'after' — files land as plans/<round>/<name>_<suffix>.txt
  sf_dir: input directory, default the sf0.01 test data (plan SHAPE is
          scale-invariant pre-AQE, and bench builders' untimed index fits
          are cheap there)
  name:   REGISTRY queries (neighborly_spark.parity) or bench entries
          (bench.BENCH_LOCAL / BENCH_STEADY / BENCH_SINGLE); default every
          REGISTRY query

Registry builds are lazy, so dumping them is plan-only and cheap. A bench
entry's builder runs its untimed index fits first. To capture 'before'
plans, run the script from a checkout of the older commit with cwd and
PYTHONPATH at that checkout's root (see scripts/bench_ab.py's module
docstring for why that matters).
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

USAGE = "usage: python scripts/dump_plans.py <round> <suffix> [sf_dir] [name ...]"


def formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def builder(name: str, sf: str):
    """The lazy DataFrame builder ``(spark, sf_dir) -> DataFrame`` for a
    registry query or bench entry, or None when neither knows the name."""
    from neighborly_spark.parity import REGISTRY

    if name in REGISTRY:
        return REGISTRY[name].build
    os.environ["SPARK_GRAFT_SF_DIR"] = sf
    os.environ.setdefault("SPARK_GRAFT_RELAYOUT", "0")
    import bench

    bench.SF_DIR = sf
    return bench.BENCH_LOCAL.get(name) or bench.BENCH_STEADY.get(name) or bench.BENCH_SINGLE.get(name)


def main() -> None:
    if len(sys.argv) < 3:
        print(USAGE, file=sys.stderr)
        sys.exit(2)
    rnd, suffix = sys.argv[1], sys.argv[2]
    sf = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.01"

    from neighborly_spark.parity import REGISTRY
    from neighborly_spark.session import get_spark

    names = sys.argv[4:] or list(REGISTRY)
    out_dir = os.path.join(ROOT, "plans", rnd)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name=f"plans_{rnd}_{suffix}", cpus=4)
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        build = builder(name, sf)
        if build is None:
            print(f"SKIP {name}: neither a registry query nor a bench entry", file=sys.stderr)
            continue
        try:
            text = formatted(build(spark, sf)).strip()
        except Exception as e:  # keep going; a failed plan is itself signal
            text = f"PLAN FAILED: {type(e).__name__}: {e}"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(text + "\n")
        print(name, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
