"""Seeded input generators. Pure numpy/pandas: the program under test
only ever receives what these return, and the same seed always gives
byte-identical inputs."""

from __future__ import annotations

import string

import numpy as np
import pandas as pd

STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "it"]


def _rng(seed: int, *stream: int) -> np.random.Generator:
    # one independent stream per input kind (and shard), so resizing one
    # input does not reshuffle another
    return np.random.default_rng([int(seed), *map(int, stream)])


def zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


def vectors(seed: int, n: int, n_queries: int, dim: int, components: int = 96,
            zipf_s: float = 1.1, noise: float = 0.75, dup_noise: float = 0.01):
    """Gaussian-mixture corpus with Zipf-skewed component weights (so IVF
    cells are uneven) and a query pool. The first half of the queries are
    planted near-duplicates of corpus rows (`sources` holds their row);
    the rest are fresh draws from the mixture (`sources` = -1)."""
    rng = _rng(seed, 1)
    means = rng.normal(size=(components, dim))
    w = zipf_weights(components, zipf_s)
    comp = rng.choice(components, size=n, p=w)
    X = (means[comp] + noise * rng.normal(size=(n, dim))).astype(np.float32)
    n_dup = n_queries // 2
    src = rng.choice(n, size=n_dup, replace=False)
    dups = X[src] + dup_noise * rng.normal(size=(n_dup, dim))
    qcomp = rng.choice(components, size=n_queries - n_dup, p=w)
    fresh = means[qcomp] + noise * rng.normal(size=(n_queries - n_dup, dim))
    Q = np.concatenate([dups, fresh]).astype(np.float32)
    sources = np.concatenate([src, np.full(n_queries - n_dup, -1)]).astype(np.int64)
    return X, Q, sources


def vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    letters = np.array(list(string.ascii_lowercase))
    words: set[str] = set()
    out: list[str] = []
    while len(out) < size:
        w = "".join(rng.choice(letters, size=int(rng.integers(3, 10))))
        if w not in words and w not in STOPWORDS:
            words.add(w)
            out.append(w)
    return out


def _sentence(rng, vocab, p, n_tok: int) -> list[str]:
    idx = rng.choice(len(vocab), size=n_tok, p=p)
    stop = rng.random(n_tok) < 0.2
    sw = rng.integers(len(STOPWORDS), size=n_tok)
    return [STOPWORDS[s] if is_stop else vocab[i]
            for i, is_stop, s in zip(idx, stop, sw)]


def curation_docs(seed: int, n_base: int, n_bench: int = 8, shard: int = 0):
    """Documents with planted exact duplicates, near-duplicates (one token
    edit), paraphrases (several edits: they survive dedup but cluster),
    low-quality fragments and benchmark contamination.

    Returns (docs, bench, plants): docs is (doc_id, text), bench is
    (text,), plants maps each planted kind to (doc_id, source doc_id)
    pairs, the source being -1 where there is none. Each `shard` is an
    independent corpus of its own."""
    rng = _rng(seed, 3, shard)
    vocab = vocabulary(rng, 6000)
    p = np.full(len(vocab), 1.0 / len(vocab))
    texts: list[str] = []
    kinds: list[tuple[str, int]] = []

    def add(t: str, kind: str, src: int = -1) -> None:
        texts.append(t)
        kinds.append((kind, src))

    for _ in range(n_base):
        add(" ".join(_sentence(rng, vocab, p, int(rng.integers(60, 100)))), "base")
    base = list(texts)

    def edit(t: str, n_edits: int) -> str:
        toks = t.split(" ")
        for pos in rng.choice(len(toks), size=n_edits, replace=False):
            toks[pos] = vocab[int(rng.integers(len(vocab)))]
        return " ".join(toks)

    for i in rng.choice(n_base, size=n_base // 10, replace=False):
        # exact duplicates differ only in case, which the exact stage
        # normalizes away (edge spaces would too, but they also add
        # shingles, pushing a near-duplicate of the copy under the
        # near-dedup threshold)
        t = base[i]
        add(t.upper() if rng.random() < 0.5 else t.title(), "exact", i)
    for i in rng.choice(n_base, size=n_base // 5, replace=False):
        add(edit(base[i], 1), "near", i)
    for i in rng.choice(n_base, size=n_base // 20, replace=False):
        add(edit(base[i], 8), "para", i)
    for _ in range(n_base // 20):
        add(" ".join(["?!"] + _sentence(rng, vocab, p, 3)), "lowq")
    bench = [" ".join(_sentence(rng, vocab, p, 40)) for _ in range(n_bench)]
    for j in range(n_base // 25):
        add(edit(bench[j % n_bench], 4), "contam")
    order = rng.permutation(len(texts))
    ids = np.arange(len(texts), dtype=np.int64)
    docs = pd.DataFrame({"doc_id": ids, "text": [texts[i] for i in order]})
    new_id = np.empty(len(texts), dtype=np.int64)
    new_id[order] = ids
    plants: dict[str, list[tuple[int, int]]] = {}
    for old, (kind, src) in enumerate(kinds):
        plants.setdefault(kind, []).append(
            (int(new_id[old]), int(new_id[src]) if src >= 0 else -1))
    return docs, pd.DataFrame({"text": bench}), plants
