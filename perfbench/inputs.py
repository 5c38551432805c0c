"""Seeded input generators. Pure numpy: the engine only ever sees what
these functions return, so the same seed gives the same inputs on every
machine and every commit.

Vectors are noisy copies of isotropic unit base vectors. Isotropic data
alone has no cluster structure; noisy copies give it the clusterable shape
real embeddings have, so recall measures the index rather than the data.

The corpus is bag-of-words text over a fixed vocabulary, with a seeded
share of planted exact copies and planted one-token near-duplicates of
history documents, so dedup recall is known exactly.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

DIM = 64
N_BASES = 2000
#: per-dimension noise of a copy around its base; two copies of one base
#: sit ~0.5 apart, distinct bases ~1.4 apart
NOISE = 0.045

_STOP = ("the", "a", "and", "of", "to", "in", "is", "it", "that", "for", "on", "with")
_CONTENT = tuple(
    f"{a}{b}"
    for a in ("data", "scan", "join", "key", "row", "sort", "hash", "page", "node", "tree",
              "disk", "log", "task", "core", "file", "view", "plan", "cell", "edge", "shard")
    for b in ("", "s", "er", "ing", "ed", "ly", "al", "ion", "ive", "or")
)
#: word-shingle width the dedup store is built with (DedupStore default)
SHINGLE_K = 3


def _unit(x: np.ndarray) -> np.ndarray:
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def base_vectors(seed: int) -> np.ndarray:
    """(N_BASES, DIM) isotropic unit vectors."""
    rng = np.random.default_rng([seed, 0])
    return _unit(rng.standard_normal((N_BASES, DIM)))


@dataclass
class VectorInputs:
    table: np.ndarray  # (n, DIM) float32, row i has id i
    queries: np.ndarray  # (q, DIM) float32, query i has query_id i


def vectors(seed: int, n_rows: int, n_queries: int, rows_per_base: int = 20) -> VectorInputs:
    """Table rows and held-out queries, both noisy copies of the first
    ``n_rows // rows_per_base`` bases; no query is itself a table row."""
    n_bases = max(1, min(N_BASES, n_rows // rows_per_base))
    bases = base_vectors(seed)[:n_bases]
    rng = np.random.default_rng([seed, 1])

    def copies(n: int) -> np.ndarray:
        idx = rng.integers(0, n_bases, n)
        return _unit(bases[idx] + NOISE * rng.standard_normal((n, DIM))).astype(np.float32)

    return VectorInputs(copies(n_rows), copies(n_queries))


@dataclass
class CorpusInputs:
    history_ids: np.ndarray
    history_text: list
    #: one (ids, texts) pair per incoming batch
    batches: list
    #: planted exact copies: incoming doc id -> history doc id
    exact_copies: dict
    #: planted one-token near-duplicates: incoming doc id -> history doc id
    near_dups: dict


def _doc(rng, n_tokens: int) -> list:
    words = rng.choice(len(_CONTENT), n_tokens)
    out = [_CONTENT[w] for w in words]
    # every fourth token a stopword: natural text for the quality gate
    for i in range(0, n_tokens, 4):
        out[i] = _STOP[rng.integers(len(_STOP))]
    return out


def corpus(
    seed: int,
    n_history: int,
    n_batches: int,
    batch_size: int,
    exact_share: float = 0.1,
    near_share: float = 0.1,
) -> CorpusInputs:
    """History documents plus incoming batches. In each batch a share of
    rows are exact copies of distinct history documents and a share are
    the same history text with one token replaced; the rest are fresh."""
    rng = np.random.default_rng([seed, 2])
    n_in = n_batches * batch_size
    tokens = [_doc(rng, int(rng.integers(40, 80))) for _ in range(n_history + n_in)]
    history_ids = np.arange(n_history, dtype=np.int64)
    history_text = [" ".join(t) for t in tokens[:n_history]]
    n_exact = int(round(exact_share * batch_size))
    n_near = int(round(near_share * batch_size))
    # each history doc is planted at most once across all batches
    sources = rng.permutation(n_history)[: n_batches * (n_exact + n_near)].tolist()
    exact_copies, near_dups, batches = {}, {}, []
    for b in range(n_batches):
        ids = np.arange(n_history + b * batch_size, n_history + (b + 1) * batch_size, dtype=np.int64)
        texts = [" ".join(tokens[int(i)]) for i in ids]
        for j in range(n_exact + n_near):
            pos = j * (batch_size // (n_exact + n_near))
            src = sources.pop()
            toks = list(tokens[src])
            if j < n_exact:
                exact_copies[int(ids[pos])] = src
            else:
                # replace one interior content token with another content word
                at = int(rng.integers(1, len(toks) - 1))
                at += at % 4 == 0  # keep the stopword grid
                shift = 1 + int(rng.integers(len(_CONTENT) - 1))
                toks[at] = _CONTENT[(_CONTENT.index(toks[at]) + shift) % len(_CONTENT)]
                near_dups[int(ids[pos])] = src
            texts[pos] = " ".join(toks)
        batches.append((ids, texts))
    return CorpusInputs(history_ids, history_text, batches, exact_copies, near_dups)
