"""Property-based invariants (hypothesis) — the reference approximates these
with parameterized NUnit cases (SURVEY §5); we state them as laws.

Driver-side evaluation through Spark: each property evaluates the SAME
Column expressions used by the operators over a DataFrame of its example
batch; the distance laws put every expression of an example in one
select, so each example is one Spark job.
"""

from __future__ import annotations


import pytest
from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from neighborly_spark.functions import distance as D
from neighborly_spark.functions.embedding import hash_embedding
from neighborly_spark.operators.dedup import minhash_params

DIM = 8
finite = st.floats(min_value=-100.0, max_value=100.0, allow_nan=False, width=32)
vec = st.lists(finite, min_size=DIM, max_size=DIM)


def _eval_pairs(spark, pairs, expr_fn):
    df = spark.createDataFrame(pairs, "a array<float>, b array<float>")
    return [r.v for r in df.select(expr_fn(F.col("a"), F.col("b")).alias("v")).collect()]


def _eval_orderings(spark, rows, schema, exprs):
    """Evaluate every named (metric, ordering) expression over ``rows`` in
    ONE select — one Spark job per example, not one per expression.
    Returns {name: [value per row]}."""
    df = spark.createDataFrame(rows, schema)
    out = df.select(*[e.alias(name) for name, e in exprs.items()]).collect()
    return {name: [r[name] for r in out] for name in exprs}


@settings(max_examples=8, deadline=None)
@given(st.lists(st.tuples(vec, vec), min_size=1, max_size=8))
def test_metric_symmetry_and_identity(spark, pairs):
    metrics = ["euclidean", "manhattan", "chebyshev", "minkowski"]
    a, b = F.col("a"), F.col("b")
    orderings = {"ab": (a, b), "ba": (b, a), "aa": (a, a)}
    vals = _eval_orderings(spark, pairs, "a array<float>, b array<float>", {
        f"{m}_{o}": D.metric_expr(m, x, y)
        for m in metrics for o, (x, y) in orderings.items()
    })
    for metric in metrics:
        ab, ba, aa = (vals[f"{metric}_{o}"] for o in ("ab", "ba", "aa"))
        assert all(x == pytest.approx(y, abs=1e-9) for x, y in zip(ab, ba)), metric
        assert all(x == pytest.approx(0.0, abs=1e-9) for x in aa), metric
        assert all(x >= 0 for x in ab), metric


@settings(max_examples=5, deadline=None)
@given(st.lists(st.tuples(vec, vec, vec), min_size=1, max_size=5))
def test_triangle_inequality_euclidean_manhattan(spark, triples):
    metrics = ["euclidean", "manhattan"]
    a, b, c = F.col("a"), F.col("b"), F.col("c")
    orderings = {"ac": (a, c), "ab": (a, b), "bc": (b, c)}
    vals = _eval_orderings(
        spark, triples, "a array<float>, b array<float>, c array<float>", {
            f"{m}_{o}": D.metric_expr(m, x, y)
            for m in metrics for o, (x, y) in orderings.items()
        },
    )
    for metric in metrics:
        ac, ab, bc = (vals[f"{metric}_{o}"] for o in ("ac", "ab", "bc"))
        for x, y, z in zip(ac, ab, bc):
            assert x <= y + z + 1e-6, metric


@settings(max_examples=5, deadline=None)
@given(st.lists(st.tuples(vec, vec), min_size=1, max_size=5))
def test_cosine_bounds_and_scale_invariance(spark, pairs):
    nonzero = [(a, b) for a, b in pairs if any(a) and any(b)]
    if not nonzero:
        return
    vals = _eval_pairs(spark, nonzero, D.cosine)
    assert all(-1.0 - 1e-9 <= v <= 1.0 + 1e-9 for v in vals)
    # scale invariance: cosine(2a, b) == cosine(a, b)
    scaled = _eval_pairs(spark, [([2 * x for x in a], b) for a, b in nonzero], D.cosine)
    assert all(u == pytest.approx(v, abs=1e-6) for u, v in zip(vals, scaled))


@settings(max_examples=8, deadline=None)
@given(st.lists(st.text(min_size=0, max_size=40), min_size=1, max_size=10, unique=True))
def test_hash_embedder_deterministic_and_bounded(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    out = df.select("t", hash_embedding(F.col("t"), 6).alias("e")).collect()
    again = {r.t: r.e for r in df.select("t", hash_embedding(F.col("t"), 6).alias("e")).collect()}
    for r in out:
        assert len(r.e) == 6
        assert all(-1.0 <= v < 1.0 for v in r.e)
        assert again[r.t] == r.e  # deterministic


def test_minhash_params_invariants():
    a, b = minhash_params(64)
    assert len(set(zip(a, b))) == 64  # distinct permutations
    assert all(x % 2 == 1 for x in a)  # odd multipliers
    assert all(0 < x < 2**20 for x in a)  # overflow-safe bound
    assert all(0 <= x < 2**32 for x in b)


def test_hamming_metric_axioms(spark):
    rows = [([0b1010, 0b1], [0b1010, 0b1]), ([0b1111, 0b0], [0b0000, 0b0]), ([5, 9], [3, 12])]
    df = spark.createDataFrame(rows, "a array<long>, b array<long>")
    ab = [r.v for r in df.select(D.hamming_packed(F.col("a"), F.col("b")).alias("v")).collect()]
    ba = [r.v for r in df.select(D.hamming_packed(F.col("b"), F.col("a")).alias("v")).collect()]
    assert ab == ba
    assert ab[0] == 0 and ab[1] == 4
    # popcount identity: d(a,b) == popcount(a xor b) summed
    assert ab[2] == bin((5 ^ 3)).count("1") + bin(9 ^ 12).count("1")


@given(
    st.lists(st.text(alphabet="ab ", min_size=0, max_size=40), min_size=1, max_size=8),
    st.integers(min_value=2, max_value=6),
    st.integers(min_value=0, max_value=1),
)
@settings(max_examples=15, deadline=None)
def test_chunking_covers_all_tokens(spark, texts, chunk_tokens, overlap):
    """Every token lands in >= 1 chunk; zero-overlap chunks reconstruct the
    token stream exactly; no chunk exceeds the window."""
    from neighborly_spark.operators.corpus import chunk_documents

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id int, text string")
    out = chunk_documents(df, chunk_tokens=chunk_tokens, overlap=overlap)
    rows = sorted(((r.doc_id, r.chunk_id, r.chunk_text, r.n_tokens) for r in out.collect()))
    by_doc = {}
    for doc_id, chunk_id, text, n in rows:
        assert n <= chunk_tokens
        assert n == len(text.split()) or text == ""  # n counts tokens in window
        by_doc.setdefault(doc_id, []).append((chunk_id, text))
    step = chunk_tokens - overlap
    for doc_id, text in enumerate(texts):
        toks = text.strip().lower().split()
        chunks = [t for _, t in sorted(by_doc.get(doc_id, []))]
        if not toks:
            # whitespace-only text still tokenizes to [''] per the engine's
            # (and DuckDB's) split semantics -> one chunk
            continue
        # windows tile the stream: dropping each non-first chunk's first
        # `overlap` tokens reconstructs the token sequence exactly
        rebuilt = []
        for ci, ctext in enumerate(chunks):
            ctoks = ctext.split() if ctext else []
            rebuilt.extend(ctoks[overlap:] if ci > 0 else ctoks)
        assert rebuilt == toks


@settings(max_examples=6, deadline=None)
@given(
    st.lists(st.tuples(st.integers(0, 3), st.integers(0, 50)), min_size=1, max_size=12),
    st.lists(st.tuples(st.integers(0, 3), st.integers(0, 50), st.integers(0, 99)),
             min_size=0, max_size=12),
)
def test_asof_join_matches_python_reference(spark, lefts, rights):
    """asof_join (both directions, inner) agrees with a brute-force Python
    reference on random keyed event sets. Right side deduped per (key, ts)
    by max payload — the documented tiebreak discipline."""
    import datetime as dt

    from neighborly_spark.operators.joins import asof_join

    t0 = dt.datetime(2024, 1, 1)
    ts = lambda s: t0 + dt.timedelta(seconds=s)  # noqa: E731
    dedup = {}
    for k, s, v in rights:
        dedup[(k, s)] = max(v, dedup.get((k, s), -1))
    rrows = [(k, ts(s), v) for (k, s), v in dedup.items()]
    lrows = [(k, ts(s), i) for i, (k, s) in enumerate(lefts)]
    left = spark.createDataFrame(lrows, "k int, ts timestamp, lid int")
    right = spark.createDataFrame(rrows or [(99, ts(0), 0)], "k int, ts timestamp, v int")

    for direction in ("backward", "forward"):
        got = {
            r.lid: (r.r_ts, r.r_v)
            for r in asof_join(left, right, on="k", right_cols=["v"],
                               direction=direction).collect()
        }
        want = {}
        for k, lts, lid in lrows:
            if direction == "backward":
                cands = [(rts, v) for rk, rts, v in rrows if rk == k and rts <= lts]
                best = max(cands) if cands else None
            else:
                cands = [(rts, v) for rk, rts, v in rrows if rk == k and rts >= lts]
                best = min(cands) if cands else None
            if best is not None:
                want[lid] = best
        assert got == want, direction


@settings(max_examples=6, deadline=None)
@given(
    st.lists(st.text(alphabet="ab ", min_size=0, max_size=30), min_size=1, max_size=10),
    st.integers(min_value=1, max_value=7),
)
def test_pack_sequences_invariants(spark, texts, budget):
    """Packing laws: per group, offsets tile the token stream contiguously
    in id order; first/last bins are exactly the integer-division of the
    span; n_bins is their difference + 1."""
    from neighborly_spark.operators.corpus import pack_sequences

    df = spark.createDataFrame(
        [(i, "g", t) for i, t in enumerate(texts)], "doc_id int, lang string, text string"
    )
    rows = sorted(
        pack_sequences(df, budget_tokens=budget).collect(), key=lambda r: r.doc_id
    )
    offset = 0
    for r in rows:
        assert r.start_offset == offset
        assert r.first_bin == r.start_offset // budget
        assert r.last_bin == (r.start_offset + r.n_tokens - 1) // budget
        assert r.n_bins == r.last_bin - r.first_bin + 1
        assert r.n_tokens >= 1
        offset += r.n_tokens


_word = st.text(alphabet="abcdefg", min_size=1, max_size=3)
_doc_words = st.lists(_word, min_size=0, max_size=30)


@settings(max_examples=12, deadline=None)
@given(
    shared=st.lists(_word, min_size=6, max_size=6),
    pre_a=st.lists(_word, min_size=0, max_size=6),
    post_b=st.lists(_word, min_size=0, max_size=6),
    other=_doc_words,
)
def test_exact_substr_guarantee(spark, shared, pre_a, post_b, other):
    """ExactSubstr law: two documents sharing a run of >= min_tokens tokens
    always produce spans COVERING that run in both documents (windows of
    the run collide by construction); and python/expr engines agree."""
    from neighborly_spark.operators.dedup import exact_substr_spans

    L = 6
    a_toks = pre_a + shared
    b_toks = shared + post_b
    rows = [(1, " ".join(a_toks)), (2, " ".join(b_toks)), (3, " ".join(other))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = [
        (r.doc_id, r.span_start, r.span_end)
        for r in exact_substr_spans(df, min_tokens=L).collect()
    ]
    spans_py = [
        (r.doc_id, r.span_start, r.span_end)
        for r in exact_substr_spans(df, min_tokens=L, engine="python").collect()
    ]
    assert sorted(spans) == sorted(spans_py)
    # the shared run is covered in doc 1 (positions len(pre_a)..+L-1)
    s1 = [s for s in spans if s[0] == 1]
    start1 = len(pre_a)
    assert any(st_ <= start1 and en >= start1 + L - 1 for _, st_, en in s1)
    s2 = [s for s in spans if s[0] == 2]
    assert any(st_ <= 0 and en >= L - 1 for _, st_, en in s2)


# --- HNSW shard-kernel laws (round 6 — pure NumPy, no Spark job) --------------

_hnsw_vec = st.lists(
    st.floats(min_value=-10.0, max_value=10.0, allow_nan=False, width=32),
    min_size=6, max_size=6,
)


@settings(max_examples=10, deadline=None)
@given(st.lists(_hnsw_vec, min_size=2, max_size=120, unique_by=tuple),
       st.integers(min_value=0, max_value=2**31 - 2))
def test_hnsw_kernel_small_n_is_exact(vecs, seed):
    """With n <= ef the beam explores the whole connected graph, and HNSW
    graphs are connected by construction (every insert links to >= 1
    prior node, edges added both ways) — so search(k) must equal the
    brute-force top-k ID SET on any input (float ties may reorder within
    equals; set equality is the law)."""
    import numpy as np

    from neighborly_spark.operators.hnsw import ML_DEFAULT, _ShardGraph

    x = np.asarray(vecs, dtype=np.float64)
    g = _ShardGraph(x, 16, 32, 200, ML_DEFAULT, __import__("numpy").random.RandomState(seed))
    for i in range(len(x)):
        g.insert(i)
    q = x[0] + 0.01
    k = min(5, len(x))
    got = [i for i, _ in g.search(q, k, 200)]
    assert len(set(got)) == len(got) == k
    d = np.sqrt(((x - q) ** 2).sum(axis=1))
    kth = np.sort(d)[k - 1]
    want_at_most = set(np.flatnonzero(d <= kth + 1e-12).tolist())
    assert set(got) <= want_at_most  # top-k up to distance ties


@settings(max_examples=10, deadline=None)
@given(st.lists(_hnsw_vec, min_size=3, max_size=120, unique_by=tuple),
       st.integers(min_value=0, max_value=2**31 - 2),
       st.integers(min_value=1, max_value=6))
def test_hnsw_kernel_filtered_laws(vecs, seed, modulus):
    """Filtered search returns ONLY allowed nodes; when the allowed set is
    small it equals the brute-force filtered top-k set; degree bounds hold
    at every layer after all inserts."""
    import numpy as np

    from neighborly_spark.operators.hnsw import ML_DEFAULT, _ShardGraph

    x = np.asarray(vecs, dtype=np.float64)
    g = _ShardGraph(x, 16, 32, 200, ML_DEFAULT, np.random.RandomState(seed))
    for i in range(len(x)):
        g.insert(i)
    g.finalize()  # degree caps are the POST-finalize (artifact) contract
    allowed = (np.arange(len(x)) % modulus) == 0
    q = x[-1]
    k = 3
    got = [i for i, _ in g.search_filtered(q, k, 200, allowed)]
    assert all(allowed[i] for i in got)
    assert len(got) == min(k, int(allowed.sum()))
    d = np.sqrt(((x - q) ** 2).sum(axis=1))
    d[~allowed] = np.inf
    kk = min(k, int(allowed.sum()))
    kth = np.sort(d)[kk - 1]
    assert set(got) <= set(np.flatnonzero(d <= kth + 1e-12).tolist())
    # degree bounds (HNSWConfig): layer 0 <= MaxM0, upper layers <= M
    for i in range(len(x)):
        base = int(g.row_off[i])
        for layer in range(int(g.levels[i]) + 1):
            deg = int(g.deg[base + layer])
            assert deg <= (32 if layer == 0 else 16), (i, layer, deg)


@settings(max_examples=200, deadline=None)
@given(st.lists(_hnsw_vec, min_size=2, max_size=60, unique_by=tuple),
       st.integers(min_value=0, max_value=2**31 - 2),
       st.integers(min_value=1, max_value=8))
def test_hnsw_filtered_subset_and_exact_scan_fallback(vecs, seed, modulus):
    """Round-6 VERDICT 8 law 1: search_filtered returns ONLY allowed nodes
    with their EXACT float64 distances, and whenever the selectivity tiers
    route to an exact scan (tiny allowed set, or ef_eff >= n_allowed) the
    result LIST equals the brute-force filtered top-k under the engine's
    (dist, id) tiebreak — not just the id set."""
    import numpy as np

    from neighborly_spark.operators.hnsw import ML_DEFAULT, _ShardGraph

    x = np.asarray(vecs, dtype=np.float64)
    g = _ShardGraph(x, 16, 32, 200, ML_DEFAULT, np.random.RandomState(seed))
    for i in range(len(x)):
        g.insert(i)
    g.finalize()
    allowed = (np.arange(len(x)) % modulus) == 0
    q = x[0] * 0.5 + x[-1] * 0.5
    k, ef = 3, 10
    got = g.search_filtered(q, k, ef, allowed)
    # the kernel's reported-distance contract is _dist (float64 over the
    # stored float32 vectors, einsum reduction) — use it as the oracle;
    # an independent (x-q)**2 sum can differ in the last ulp
    d = g._dist(q, np.arange(len(x)))
    # law: only allowed nodes, exact distances, (dist, id)-sorted output
    assert all(allowed[i] for i, _ in got)
    assert all(dv == float(d[i]) for i, dv in got)
    keys = [(dv, i) for i, dv in got]
    assert keys == sorted(keys)
    n_allowed = int(allowed.sum())
    eff = max(ef, k)
    sel = n_allowed / len(x)
    ef_eff = int(min(
        len(x),
        max(eff, -(-eff // sel) if sel else len(x)),
        g._FILTER_EF_CAP_MULT * eff,
        n_allowed,
    ))
    routes_exact = (
        n_allowed <= g._FILTER_BRUTE_MULT * eff or ef_eff >= n_allowed
    )
    if routes_exact and n_allowed:
        idx = np.flatnonzero(allowed)
        order = np.lexsort((idx, d[idx]))[:k]
        want = [(int(idx[j]), float(d[idx[j]])) for j in order]
        assert got == want


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=2, max_value=80),
       st.integers(min_value=0, max_value=2**31 - 2),
       st.integers(min_value=1, max_value=8))
def test_search_layer_all_true_mask_equals_unfiltered(n, seed, k):
    """Beam law: the one beam kernel (_search_layer) given an all-true
    ``allowed`` mask returns exactly the node order it returns with
    allowed=None — at ef=1 (greedy descent), ef=k, and ef larger than the
    shard, from layer-0 entry points and from upper-layer ones. Seeded
    gaussian shards (not hypothesis floats) so the beam sees varied
    geometry where its expansion order matters."""
    import numpy as np

    from neighborly_spark.operators.hnsw import _ShardGraph

    rng = np.random.RandomState(seed)
    x = rng.normal(0.0, 5.0, (n, 6))
    # small M keeps the beam walking; ml=1.0 lifts ~37% of nodes above
    # layer 0, so most shards have upper layers to search
    g = _ShardGraph(x, 4, 8, 32, 1.0, np.random.RandomState(seed))
    for i in range(len(x)):
        g.insert(i)
    g.finalize()
    q = rng.normal(0.0, 5.0, x.shape[1]).astype(np.float32)
    everyone = np.ones(len(x), dtype=bool)
    starts = [
        (0, rng.choice(len(x), size=min(3, len(x)), replace=False)),
        (int(g.levels[g.entry]), np.array([g.entry])),
    ]
    upper = np.flatnonzero(g.levels >= 1)
    if upper.size:
        starts.append((1, upper[:3]))
    for layer, eps in starts:
        eps = np.asarray(eps, dtype=np.int64)
        for ef in (1, k, len(x) + 5):
            want = g._search_layer(q, eps, ef, layer)
            got = g._search_layer(q, eps, ef, layer, everyone)
            assert np.array_equal(got, want), (layer, ef)


def _serial_search(g, q, k, ef, allowed=None):
    """The serial search the lockstep kernel replaces, composed from the
    one-query beam _search_layer: search_filtered's selectivity rules,
    then greedy ef=1 beams down the upper layers, the layer-0 beam, and
    the exact float64 re-rank. Returns (branch, [(position, dist)])."""
    import math

    import numpy as np

    eff = max(ef, k)
    if allowed is not None:
        n_allowed = int(allowed.sum())
        if n_allowed == 0:
            return "none", []
        sel = n_allowed / len(g.x)
        ef_eff = int(min(
            len(g.x), max(eff, math.ceil(eff / sel)), g._FILTER_EF_CAP_MULT * eff, n_allowed,
        ))
        if n_allowed <= g._FILTER_BRUTE_MULT * eff or ef_eff >= n_allowed:
            idx = np.flatnonzero(allowed)
            d = g._dist(q, idx)
            order = np.lexsort((idx, d))[:k]
            return "scan", [(int(idx[j]), float(d[j])) for j in order]
        eff = ef_eff
    q32 = np.asarray(q, dtype=np.float32)
    ep = np.array([g.entry], dtype=np.int64)
    for layer in range(int(g.levels[g.entry]), 0, -1):
        ep = g._search_layer(q32, ep, 1, layer)
    found = g._search_layer(q32, ep, eff, 0, allowed)[:k]
    d = g._dist(q, found)
    order = np.argsort(d, kind="stable")
    return "beam", [(int(found[j]), float(d[j])) for j in order]


@pytest.mark.parametrize("n", [1, 2, 50, 200, 2000])
@settings(max_examples=3, deadline=None)
@given(seed=st.integers(min_value=0, max_value=2**31 - 2),
       nq=st.integers(min_value=1, max_value=300),
       k=st.integers(min_value=1, max_value=10))
def test_search_batch_lockstep_equals_serial_beam(n, seed, nq, k):
    """Lockstep law: _ShardGraph.search_batch, which advances every
    query's beam in one numpy step, returns for every row exactly the ids
    and distances of the serial per-query search (_serial_search) — at
    ef=1 (greedy layer 0), ef=k and ef larger than the shard, unfiltered
    and under masks that take each filtered branch: all-false (nothing),
    one allowed node and a dense prefix (the exact scan), every second
    node (the inflated-ef beam once that leaves > 4 x max(ef, k) allowed).
    Seeded gaussian shards, so float32 distance ties (where the serial
    heaps' arrival order may differ) do not occur."""
    import numpy as np

    from neighborly_spark.operators.hnsw import _ShardGraph

    rng = np.random.RandomState(seed)
    x = rng.normal(0.0, 5.0, (n, 6))
    m = 4 if seed % 2 else 16
    g = _ShardGraph(x, m, 2 * m, 32, 1.0, np.random.RandomState(seed))
    for i in range(n):
        g.insert(i)
    g.finalize()
    Q = rng.normal(0.0, 5.0, (nq, x.shape[1]))
    for ef in (1, k, n + 5):
        eff = max(ef, k)
        one = np.zeros(n, dtype=bool)
        one[rng.randint(n)] = True
        masks = {
            "none": None,
            "all_false": np.zeros(n, dtype=bool),
            "one": one,
            "scan": np.arange(n) < g._FILTER_BRUTE_MULT * eff,
            "inflated": np.arange(n) % 2 == 0,
        }
        for name, allowed in masks.items():
            pos, dist = g.search_batch(Q, k, ef, allowed)
            assert pos.shape == dist.shape == (nq, k)
            for i, q in enumerate(Q):
                branch, want = _serial_search(g, q, k, ef, allowed)
                got = [(int(p), float(d)) for p, d in zip(pos[i], dist[i]) if p >= 0]
                assert got == want, (name, ef, i)
                assert all(p == -1 for p in pos[i, len(want):])
            if name == "scan" or name == "one":
                assert branch == "scan"
            if name == "inflated" and (n + 1) // 2 > g._FILTER_BRUTE_MULT * eff:
                assert branch == "beam"


@settings(max_examples=200, deadline=None)
@given(st.lists(_hnsw_vec, min_size=1, max_size=50, unique_by=tuple),
       st.integers(min_value=0, max_value=2**31 - 2))
def test_rehydrate_arrow_bit_equals_rehydrate(vecs, seed):
    """Round-6 VERDICT 8 law 2: the snapshot tier's Arrow-offset
    rehydrator reconstructs BIT-IDENTICAL graph state to the pandas
    rehydrator on arbitrary shard artifacts — same vectors, levels,
    adjacency (via adj_lists), entry point, and search results."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    from neighborly_spark.operators.hnsw import (
        _build_shard, _rehydrate, _rehydrate_arrow,
    )

    rng = np.random.RandomState(seed)
    x = np.asarray(vecs, dtype=np.float64)
    # non-contiguous, shuffled ids — exercises _positions_of's two tiers
    ids = rng.permutation(len(x)).astype(np.int64) * (1 + seed % 50)
    pdf = _build_shard(ids, x, part_id=0, m=16, max_m0=32, efc=200,
                       ml=0.36, seed=seed % 1000)
    a_ids, a_g = _rehydrate(pdf)
    tbl = pa.Table.from_pandas(
        pd.DataFrame({
            "id": pdf["id"],
            "level": pdf["level"],
            "embedding": pdf["embedding"],
            "neighbors": pdf["neighbors"],
        }),
        schema=pa.schema([
            ("id", pa.int64()),
            ("level", pa.int32()),
            ("embedding", pa.list_(pa.float32())),
            ("neighbors", pa.list_(pa.list_(pa.int64()))),
        ]),
    )
    b_ids, b_g = _rehydrate_arrow(tbl)
    assert np.array_equal(a_ids, b_ids)
    assert np.array_equal(a_g.x, b_g.x) and a_g.x.dtype == b_g.x.dtype
    assert np.array_equal(a_g.levels, b_g.levels)
    assert a_g.entry == b_g.entry
    assert a_g.adj_lists() == b_g.adj_lists()
    q = x[0] + 0.25
    k = min(4, len(x))
    assert a_g.search(q, k, 50) == b_g.search(q, k, 50)


@settings(max_examples=200, deadline=None)
@given(
    n=st.integers(1, 40),
    nq=st.integers(1, 12),
    m=st.integers(1, 4),
    kp=st.integers(2, 8),
    fetch=st.integers(1, 12),
    seed=st.integers(0, 2**31 - 1),
)
# a residual close to its codeword: the expansion cancels to a relative
# distance error of 2.5e-12, inside the bound below
@example(n=4, nq=7, m=1, kp=6, fetch=1, seed=37452)
def test_score_sorted_codes_matches_bruteforce_lexsort(n, nq, m, kp, fetch, seed):
    """Law for the shared ADC kernel (_score_sorted_codes — it backs the
    cogroup batch path, the snapshot serving tier, and through them the
    planner's ivfpq route): for ANY code table and query block, the
    kernel's per-query ids are exactly the brute-force ADC distances'
    lexsort((ids, dist))[:fetch] order — including duplicate distances
    (id tiebreak), duplicate ids, and fetch > n — and its squared
    distances are the brute-force ones within the expansion's
    forward-error bound.

    The kernel's LUT is the expansion r.r - 2 r.c + c.c (_residual_luts),
    which cancels when a residual nearly equals its codeword, so no
    relative tolerance holds. Per code row, with r_s the query residual's
    and c_s the chosen codeword's s-th sub-vector (sub_dim terms), let
    A = sum_s (||r_s||^2 + 2 sum_i |r_si c_si| + ||c_s||^2). With
    u = 2^-53 and gamma_n = n u / (1 - n u), the squared-distance error
    is at most
      gamma_{sub_dim+2} A   kernel LUT entries (three sub_dim-term dots
                            + two adds; the clamp at 0 only helps)
      + gamma_{m-1} A       kernel sum over the m subspaces
      + 3u A                sqrt in the kernel, squaring here
      + gamma_{sub_dim+1} A brute-force direct-form entries sum (r-c)^2
      + gamma_m A           brute-force sum over the m subspaces
    <= gamma_{2 sub_dim + 2m + 6} A."""
    import numpy as np

    from neighborly_spark.operators.ivfpq import _score_sorted_codes

    rng = np.random.default_rng(seed)
    sub_dim = int(rng.integers(1, 4))
    dim = m * sub_dim
    coarse = rng.normal(0, 1, (3, dim))
    cell = int(rng.integers(0, 3))
    books = rng.normal(0, 1, (m, kp, sub_dim))
    codes = rng.integers(0, kp, (n, m))
    # duplicate-prone ids exercise the (dist, id) tiebreak
    ids = rng.integers(0, max(2, n // 2), n).astype(np.int64)
    qids = np.arange(nq, dtype=np.int64) + 100
    qv = rng.normal(0, 1, (nq, dim))

    perm = np.argsort(ids, kind="stable")
    ids_s = ids[perm]
    idx_s = (codes + (np.arange(m) * kp)[None, :])[perm]
    got = _score_sorted_codes(
        qids, qv, cell, ids_s, idx_s, fetch, coarse, books, m, sub_dim, kp, "id"
    )

    u = 2.0**-53
    nu = (2 * sub_dim + 2 * m + 6) * u
    gamma = nu / (1 - nu)
    cw = books[np.arange(m)[None, :], codes]  # (n, m, sub_dim) chosen codewords
    # brute force: per query, ADC squared distance of every row, lexsort((ids, d2))
    for qi in range(nq):
        res = (qv[qi] - coarse[cell]).reshape(m, sub_dim)
        lut = ((res[:, None, :] - books) ** 2).sum(-1)  # (m, kp)
        d2 = np.array([sum(lut[s, codes[r, s]] for s in range(m)) for r in range(n)])
        mag = ((res**2)[None] + 2 * np.abs(res[None] * cw) + cw**2).sum(axis=(1, 2))
        order = np.lexsort((ids, d2))[:fetch]
        sub = got[got["query_id"] == qids[qi]]
        assert list(sub["id"]) == [int(ids[r]) for r in order]
        err = np.abs(np.asarray(sub["dist"]) ** 2 - d2[order])
        assert (err <= gamma * mag[order]).all(), (err, gamma * mag[order])
