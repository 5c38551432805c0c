"""Correctness checks that do not use the engine: numpy brute force for
the ANN workloads, exact shingle Jaccard for the dedup workload. Each
check returns a list of problems; an empty list means the output passed.
"""

from __future__ import annotations

import numpy as np

#: |returned dist - numpy dist| allowed, relative to the distance: float32
#: inputs scored in float64 agree to ~1e-7; LUT precision drift is larger
DIST_RTOL = 1e-5
DIST_ATOL = 1e-6


def knn_problems(rows, table: np.ndarray, queries: np.ndarray, k: int) -> list:
    """``rows`` are (query_id, id, dist) triples. Every query must get
    exactly k rows of distinct valid ids in non-decreasing distance order,
    and each dist must match the numpy euclidean distance."""
    problems = []
    by_q: dict = {q: [] for q in range(len(queries))}
    for q, i, d in rows:
        if int(q) not in by_q:
            problems.append(f"unexpected query_id {q}")
            continue
        by_q[int(q)].append((int(i), float(d)))
    for q, got in by_q.items():
        if len(got) != k:
            problems.append(f"query {q}: {len(got)} rows, want {k}")
            continue
        ids = np.array([i for i, _ in got])
        if ids.min() < 0 or ids.max() >= len(table) or len(set(ids.tolist())) != k:
            problems.append(f"query {q}: invalid or repeated ids")
            continue
        # rank by the engine's dist; the numpy distances of that ranking
        # must be non-decreasing and match it
        got.sort(key=lambda t: (t[1], t[0]))
        d = np.array([x for _, x in got])
        ids = np.array([i for i, _ in got])
        ref = np.linalg.norm(
            table[ids].astype(np.float64) - queries[q].astype(np.float64), axis=1
        )
        if not np.allclose(d, ref, rtol=DIST_RTOL, atol=DIST_ATOL):
            problems.append(f"query {q}: dist off by {np.abs(d - ref).max():.3g}")
        elif (np.diff(ref) < -DIST_ATOL - DIST_RTOL * ref[1:]).any():
            problems.append(f"query {q}: rows out of distance order")
    return problems


def recall_at_k(rows, table: np.ndarray, queries: np.ndarray, k: int) -> float:
    """Share of the exact top-k (numpy brute force) the engine returned,
    over all queries."""
    got: dict = {}
    for q, i, _ in rows:
        got.setdefault(int(q), set()).add(int(i))
    t = table.astype(np.float64)
    t_sq = (t * t).sum(axis=1)
    hits = 0
    for lo in range(0, len(queries), 256):
        qs = np.arange(lo, min(lo + 256, len(queries)))
        qv = queries[qs].astype(np.float64)
        d = t_sq[None, :] - 2.0 * qv @ t.T
        top = np.argpartition(d, k - 1, axis=1)[:, :k]
        for q, ids in zip(qs, top):
            hits += len(got.get(int(q), set()) & set(ids.tolist()))
    return hits / (k * len(queries))


def shingles(text: str, k: int) -> set:
    """k-word shingles of the whitespace tokens of lowercased text — the
    definition the dedup store hashes, here as plain strings."""
    toks = text.strip().lower().split()
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a: str, b: str, k: int) -> float:
    sa, sb = shingles(a, k), shingles(b, k)
    return len(sa & sb) / len(sa | sb) if sa or sb else 0.0


def filter_new_problems(kept_ids, batch_ids, exact_copies: dict) -> list:
    """filter_new must drop every planted exact copy and nothing else."""
    kept = {int(i) for i in kept_ids}
    want = {int(i) for i in batch_ids} - set(exact_copies)
    problems = [f"exact copy {i} kept" for i in sorted(kept - want)]
    problems += [f"new doc {i} dropped" for i in sorted(want - kept)]
    return problems


def neardup_problems(pairs, text_of: dict, threshold: float, k: int) -> list:
    """Every flagged (doc_id, store_doc_id) pair must meet the threshold
    under exact shingle Jaccard."""
    problems = []
    for d, s in pairs:
        j = jaccard(text_of[int(d)], text_of[int(s)], k)
        if j < threshold:
            problems.append(f"pair ({d}, {s}) has jaccard {j:.3f} < {threshold}")
    return problems


def neardup_recall(pairs, near_dups: dict) -> float:
    """Share of planted near-duplicates flagged against their source."""
    flagged = {(int(d), int(s)) for d, s in pairs}
    return sum((d, s) in flagged for d, s in near_dups.items()) / max(1, len(near_dups))


def curation_problems(rows, batch_ids, text_of: dict) -> list:
    """Curation survivors must be batch docs, carry a valid split, and
    hold no two identical texts."""
    ids = [int(r[0]) for r in rows]
    problems = []
    if set(ids) - {int(i) for i in batch_ids}:
        problems.append("curation returned ids outside the batch")
        return problems
    if len(set(ids)) != len(ids):
        problems.append("curation returned a doc twice")
    if any(r[1] not in ("train", "val", "test") for r in rows):
        problems.append("curation returned an unknown split")
    texts = [text_of[i] for i in ids]
    if len(set(texts)) != len(texts):
        problems.append("curation kept exact duplicates")
    return problems
