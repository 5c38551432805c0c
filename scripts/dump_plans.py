"""Dump explain('formatted') for every registry query to plans/<round>/.

Usage: python scripts/dump_plans.py <round> <suffix> [sf_dir]
  round:  plan directory name, e.g. 'r12' — files land under plans/<round>/
  suffix: 'before' or 'after' — files land as plans/<round>/<query>_<suffix>.txt

Plan-only (no execution): registry build() is lazy, so this is cheap and
safe to run alongside other work. Bench-local entries that need fitted
index state are dumped by scripts/dump_bench_plans_r11.py instead.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

USAGE = "usage: python scripts/dump_plans.py <round> <suffix> [sf_dir]"


def formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    if len(sys.argv) < 3:
        print(USAGE, file=sys.stderr)
        sys.exit(2)
    rnd, suffix = sys.argv[1], sys.argv[2]
    sf = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.01"

    from neighborly_spark.parity import REGISTRY
    from neighborly_spark.session import get_spark

    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", rnd
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name=f"plans_{rnd}_{suffix}", cpus=4)
    spark.sparkContext.setLogLevel("ERROR")
    for name, pq in REGISTRY.items():
        try:
            df = pq.build(spark, sf)
            text = formatted(df).strip()
        except Exception as e:  # keep going; a failed plan is itself signal
            text = f"PLAN FAILED: {type(e).__name__}: {e}"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(text + "\n")
        print(name, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
