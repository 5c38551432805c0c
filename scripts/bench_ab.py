"""Interleaved dedicated A/B of ONE bench entry between two repo roots
(e.g. HEAD vs a prior-round worktree), alternating legs A,B,A,B,... so
host drift hits both legs equally. Each leg runs
``<root>/bench.py --dedicated-entry <entry>`` (the bench's own per-entry
timing protocol) in a FRESH subprocess with cwd *and* PYTHONPATH pointing
at its root — python workers resolve `neighborly_spark` via
cwd/PYTHONPATH, not the driver's sys.path, so a naive sys.path A/B
silently times the wrong worker-side code (round-11 finding).

Usage:
  python scripts/bench_ab.py <entry> <rootA> <rootB> [pairs=2]

Prints one JSON line {entry, rootA, rootB, runsA, runsB, medA, medB}.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys


def run_leg(entry: str, root: str) -> dict:
    env = dict(os.environ)
    env["PYTHONPATH"] = root
    env.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out = subprocess.run(
        [sys.executable, os.path.join(root, "bench.py"), "--dedicated-entry", entry],
        cwd=root, env=env, capture_output=True, text=True, timeout=3600,
    )
    line = out.stdout.strip().splitlines()[-1]
    return json.loads(line)


def main() -> None:
    entry = sys.argv[1]
    root_a = os.path.abspath(sys.argv[2])
    root_b = os.path.abspath(sys.argv[3])
    pairs = int(sys.argv[4]) if len(sys.argv) > 4 else 2
    runs_a: list[float] = []
    runs_b: list[float] = []
    for _ in range(pairs):
        runs_a.extend(run_leg(entry, root_a)["runs"])
        runs_b.extend(run_leg(entry, root_b)["runs"])
    med = lambda xs: sorted(xs)[len(xs) // 2]  # noqa: E731
    print(json.dumps({
        "entry": entry, "rootA": root_a, "rootB": root_b,
        "runsA": runs_a, "runsB": runs_b,
        "medA": med(runs_a), "medB": med(runs_b),
        "minA": min(runs_a), "minB": min(runs_b),
    }))


if __name__ == "__main__":
    main()
