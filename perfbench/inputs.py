"""Seeded input generation. Every array and change stream comes from one
``numpy.random.Generator`` built from the workload seed, so the same seed
gives byte-identical inputs and the program under test sees only these."""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

DIM = 64
VOCAB = 400
K = 10


def gaussian_mixture(rng: np.random.Generator, n: int, dim: int = DIM,
                     centers: int = 24) -> np.ndarray:
    """float32 points from a mixture with Zipf-like component weights and
    per-component spread, so IVF lists and LSH buckets fill unevenly. Only
    the centres and draws are random; weights and spreads are fixed, so
    every seed gives a corpus of the same shape."""
    mu = rng.normal(0.0, 4.0, size=(centers, dim))
    sigma = np.linspace(0.4, 1.6, centers)
    w = 1.0 / np.arange(1, centers + 1) ** 1.1
    comp = rng.choice(centers, size=n, p=w / w.sum())
    x = mu[comp] + rng.normal(size=(n, dim)) * sigma[comp, None]
    return x.astype(np.float32)


def make_queries(rng: np.random.Generator, corpus: np.ndarray, n: int) -> np.ndarray:
    """Half perturbed corpus points (hot lists), half uniform over the
    corpus bounding box (spread), interleaved."""
    hot = corpus[rng.integers(0, len(corpus), size=n)] + rng.normal(
        0.0, 0.05, size=(n, corpus.shape[1]))
    lo, hi = corpus.min(axis=0), corpus.max(axis=0)
    spread = rng.uniform(lo, hi, size=(n, corpus.shape[1]))
    q = np.where((np.arange(n) % 2 == 0)[:, None], hot, spread)
    return q.astype(np.float32)


def zipf_texts(rng: np.random.Generator, n: int, words: int = 12) -> list[str]:
    ranks = np.arange(1, VOCAB + 1)
    p = (1.0 / ranks) / (1.0 / ranks).sum()
    toks = rng.choice(VOCAB, size=(n, words), p=p)
    return [" ".join(f"w{t}" for t in row) for row in toks]


@dataclass
class SearchInputs:
    corpus: np.ndarray
    queries: np.ndarray
    batches: list[np.ndarray]
    docs_vec: np.ndarray
    docs_text: list[str]
    query_text: list[str]


def search_inputs(seed: int, n: int, n_docs: int, n_queries: int,
                  n_batches: int, batch: int = 16) -> SearchInputs:
    rng = np.random.default_rng([seed, 1])
    corpus = gaussian_mixture(rng, n)
    queries = make_queries(rng, corpus, n_queries)
    batches = [make_queries(rng, corpus, batch) for _ in range(n_batches)]
    docs_vec = gaussian_mixture(rng, n_docs)
    docs_text = zipf_texts(rng, n_docs)
    query_text = [" ".join(t.split()[:3]) for t in zipf_texts(rng, n_queries)]
    return SearchInputs(corpus, queries, batches, docs_vec, docs_text, query_text)


@dataclass
class ChurnRound:
    ins_ids: np.ndarray
    ins_vecs: np.ndarray
    del_ids: np.ndarray
    # merge-table changes: (key, op, seq, val) in submission order
    changes: list[tuple[int, str, int, int]]
    lookup_keys: list[int]
    queries: np.ndarray


@dataclass
class ChurnInputs:
    base: np.ndarray
    table_vals: np.ndarray
    rounds: list[ChurnRound] = field(default_factory=list)


def churn_inputs(seed: int, n: int, n_rounds: int, ins: int, dels: int,
                 changes: int, lookups: int, queries: int = 16) -> ChurnInputs:
    """Base corpus + table, then per round: inserts of fresh ids, deletes
    of live ids skewed toward the most recent ones, a merge-table change
    batch (upserts/deletes with strictly increasing ``seq``, several
    changes per key allowed), a lookup key set mixing live, deleted and
    never-written keys, and ``queries`` perturbed base points to search."""
    rng = np.random.default_rng([seed, 2])
    base = gaussian_mixture(rng, n)
    table_vals = rng.integers(0, 1_000_000, size=n)
    out = ChurnInputs(base, table_vals)
    live = list(range(n))
    next_id, seq = n, 0
    for _ in range(n_rounds):
        ins_ids = np.arange(next_id, next_id + ins, dtype=np.int64)
        next_id += ins
        ins_vecs = gaussian_mixture(rng, ins)
        # deletes: 70% from the newest quarter of the live set
        recent = live[-max(len(live) // 4, dels):]
        chosen: set[int] = set()
        while len(chosen) < dels:
            pool = recent if rng.random() < 0.7 else live
            chosen.add(int(pool[rng.integers(0, len(pool))]))
        del_ids = np.array(sorted(chosen), dtype=np.int64)
        gone = set(chosen)
        live = [i for i in live if i not in gone] + [int(i) for i in ins_ids]
        ch = []
        for _ in range(changes):
            seq += 1
            key = int(rng.integers(0, n + n // 10))
            op = "d" if rng.random() < 0.2 else "u"
            ch.append((key, op, seq, int(rng.integers(0, 1_000_000))))
        keys = sorted({int(k) for k in rng.integers(0, n + n // 5, size=lookups)})
        qs = make_queries(rng, base, 2 * queries)[0::2]  # the perturbed half
        out.rounds.append(ChurnRound(ins_ids, ins_vecs, del_ids, ch, keys, qs))
    return out
