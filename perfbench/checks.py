"""Output checks and the references they compare against.

Every reference here is computed by the benchmark itself, with numpy or
plain Python, from the same generated inputs the program receives. Each
`check_*` function returns a list of problems; an empty list means the
output passed.
"""

from __future__ import annotations

import hashlib
import re
from collections import defaultdict

import numpy as np


def l2_sq_rows(Q: np.ndarray, X: np.ndarray) -> np.ndarray:
    """Squared L2 between every row of Q and every row of X, summed one
    dimension at a time in float64 over widened float32 values: the same
    left-to-right order the engine's distance expressions use, so equal
    inputs give bit-equal doubles."""
    Q = np.asarray(Q, dtype=np.float32).astype(np.float64)
    X = np.asarray(X, dtype=np.float32).astype(np.float64)
    acc = np.zeros((Q.shape[0], X.shape[0]), dtype=np.float64)
    for i in range(Q.shape[1]):
        t = Q[:, i, None] - X[None, :, i]
        acc += t * t
    return acc


def exact_topk(Q: np.ndarray, X: np.ndarray, ids: np.ndarray, k: int):
    """(ids, dists) of the k nearest rows of X for every query, ordered by
    (distance, id)."""
    d = l2_sq_rows(Q, X)
    out_ids, out_d = [], []
    for row in d:
        order = np.lexsort((ids, row))[:k]
        out_ids.append(ids[order])
        out_d.append(row[order])
    return np.array(out_ids), np.array(out_d)


def group_rows(rows) -> dict[int, list[tuple[int, float]]]:
    """(query_id, vec_id, dist) rows -> query_id -> [(vec_id, dist)] in
    arrival order."""
    got: dict[int, list[tuple[int, float]]] = defaultdict(list)
    for q, v, d in rows:
        got[int(q)].append((int(v), float(d)))
    return got


def check_topk(rows, queries: dict[int, np.ndarray], vectors: dict[int, np.ndarray],
               k: int) -> list[str]:
    """Top-k search output: exactly k rows for every query asked, no
    duplicate or unknown ids, ascending (distance, id) order, and every
    distance equal to the reference squared L2 of that pair."""
    problems = []
    got = group_rows(rows)
    extra = set(got) - set(queries)
    if extra:
        problems.append(f"rows for {len(extra)} queries that were not asked")
    for qid, qv in queries.items():
        res = got.get(qid, [])
        if len(res) != k:
            problems.append(f"query {qid}: {len(res)} rows, expected {k}")
            continue
        ids = [v for v, _ in res]
        if len(set(ids)) != k:
            problems.append(f"query {qid}: duplicate ids")
            continue
        if any(v not in vectors for v in ids):
            problems.append(f"query {qid}: unknown id")
            continue
        if any((res[i][1], res[i][0]) > (res[i + 1][1], res[i + 1][0])
               for i in range(k - 1)):
            problems.append(f"query {qid}: not in ascending distance order")
            continue
        want = l2_sq_rows(qv[None, :], np.stack([vectors[v] for v in ids]))[0]
        dist = np.array([d for _, d in res])
        if not np.allclose(dist, want, rtol=1e-9, atol=1e-9):
            problems.append(f"query {qid}: distances differ from reference")
    return problems


def recall(rows_by_query: dict[int, list[int]], truth: dict[int, list[int]]) -> float:
    """Mean share of each query's true top-k ids that were returned."""
    shares = [len(set(rows_by_query.get(q, [])) & set(t)) / len(t)
              for q, t in truth.items()]
    return float(np.mean(shares))


def check_exact(rows, ref_ids, ref_d, queries: dict[int, np.ndarray],
                vectors: dict[int, np.ndarray]) -> list[str]:
    """Exact top-k output against the numpy reference (`ref_ids`/`ref_d`
    rows in `queries` order): everything `check_topk` checks, the
    reference's distance at every rank, and the reference's ids at every
    rank whose distance is not tied with the k-th (which of the tied rows
    fill the last ranks is free)."""
    k = ref_ids.shape[1]
    problems = check_topk(rows, queries, vectors, k)
    got = group_rows(rows)
    for i, q in enumerate(queries):
        res = got.get(int(q), [])
        if len(res) != k:
            continue  # reported by check_topk
        dist = np.array([d for _, d in res])
        if not np.allclose(dist, ref_d[i], rtol=1e-9, atol=1e-9):
            problems.append(f"exact query {q}: distances differ from reference")
            continue
        tied = np.isclose(ref_d[i], ref_d[i][-1], rtol=1e-9, atol=1e-9)
        must = {int(v) for v, t in zip(ref_ids[i], tied) if not t}
        if not must <= {v for v, _ in res}:
            problems.append(f"exact query {q}: ids differ from reference")
    return problems


def check_cells(rows, centroids: np.ndarray) -> list[str]:
    """Every sampled (vec_id, list_id, embedding) row sits in the cell of
    its nearest centroid (within float noise: the index may assign with
    unrounded centroids and store them as float32)."""
    problems = []
    for vec_id, list_id, emb in rows:
        d = l2_sq_rows(np.asarray(emb, dtype=np.float32)[None, :], centroids)[0]
        if d[int(list_id)] > d.min() * (1 + 1e-6) + 1e-12:
            problems.append(f"vector {vec_id} is in cell {list_id}, not its nearest")
    return problems


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples) at the highest percentile that has at
    least ten samples beyond it; with ten samples or fewer, the maximum."""
    s = sorted(values)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


# --- curation reference ---------------------------------------------------

def _fingerprints(text: str, n: int) -> set[int]:
    toks = text.lower().split(" ")
    grams = ([" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]
             if len(toks) >= n else [" ".join(toks)])
    return {int(hashlib.md5(g.encode("utf-8")).hexdigest()[:12], 16) for g in grams}


def _shingles(text: str, n: int) -> set[str]:
    toks = text.lower().split(" ")
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def quality(text: str, stopwords: list[str]) -> float:
    """The composite quality score: 0.35 length + 0.25 punctuation + 0.2
    stopword + 0.2 word-length terms, over single-space tokens."""
    toks = text.split(" ")
    n = len(toks)
    low = text.lower()
    len_score = min(1.0, n / 20.0)
    punct = 1.0 - len(re.findall(r"[^a-z0-9 ]", low)) / max(len(low), 1)
    stop = min(1.0, sum(t in stopwords for t in low.split(" ")) / 5.0)
    avg = len(text.replace(" ", "")) / max(n, 1)
    word_len = 1.0 - min(1.0, abs(avg - 5.0) / 5.0)
    return 0.35 * len_score + 0.25 * punct + 0.2 * stop + 0.2 * word_len


def _components(nodes, edges) -> dict[int, int]:
    """node -> min node id of its connected component."""
    parent = {v: v for v in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in nodes}


def curation_reference(docs: dict[int, str], bench: list[str], cfg: dict,
                       stopwords: list[str], minhash_ab, prime: int) -> set[int]:
    """Ids of the documents that survive quality -> exact dedup -> MinHash
    near-dedup -> decontamination, replayed in plain Python."""
    good = {i: t for i, t in docs.items() if quality(t, stopwords) >= cfg["quality_min"]}
    reps: dict[str, int] = {}
    for i, t in good.items():
        key = t.strip(" ").lower()
        reps[key] = min(i, reps.get(key, i))
    exact = {i: good[i] for i in reps.values()}

    n, H, bands = cfg["neardup_n"], cfg["neardup_hashes"], cfg["neardup_bands"]
    rows = H // bands
    ab = [minhash_ab(i) for i in range(H)]
    fps = {i: _fingerprints(t, n) for i, t in exact.items()}
    buckets: dict[tuple, list[int]] = defaultdict(list)
    for i, fp in fps.items():
        h = np.fromiter(fp, dtype=np.int64) % prime
        sig = [int(((a * h + b) % prime).min()) for a, b in ab]
        for band in range(bands):
            buckets[(band, tuple(sig[band * rows:(band + 1) * rows]))].append(i)
    cand = {(a, b) for ids in buckets.values() for a in ids for b in ids if a < b}
    edges = [(a, b) for a, b in cand
             if len(fps[a] & fps[b]) / len(fps[a] | fps[b]) >= cfg["neardup_threshold"]]
    comp = _components(exact, edges)
    nd = {i for i, c in comp.items() if i == c}

    bench_sh = set().union(*(_shingles(t, cfg["contam_n"]) for t in bench))
    kept = set()
    for i in nd:
        sh = _shingles(exact[i], cfg["contam_n"])
        if len(sh & bench_sh) / len(sh) < cfg["contam_threshold"]:
            kept.add(i)
    return kept


def check_curation(kept: set[int], want: set[int], docs: dict[int, str]) -> list[str]:
    problems = []
    if kept != want:
        problems.append(
            f"kept {len(kept)} documents, reference keeps {len(want)} "
            f"({len(kept - want)} extra, {len(want - kept)} missing)")
    seen: dict[str, int] = {}
    for i in kept:
        key = docs[i].strip(" ").lower()
        if key in seen:
            problems.append(f"exact duplicates {seen[key]} and {i} both survived")
        seen[key] = i
    return problems


def cluster_reference(ids: list[int], texts: list[str], emb: np.ndarray,
                      threshold: float, k: int) -> tuple[dict[str, int], int]:
    """(text -> cluster_id, edge count) for the thresholded top-k self-similarity graph:
    texts collapse to their min id, edges join each node to those of its k
    nearest (itself included) closer than `threshold`, multi-member
    components are numbered by min id, singletons get -1."""
    first: dict[str, int] = {}
    for j, (i, t) in enumerate(zip(ids, texts)):
        if t not in first or i < ids[first[t]]:
            first[t] = j
    rows = sorted(first.values(), key=lambda j: ids[j])
    node = np.array([ids[j] for j in rows])
    nn_ids, nn_d = exact_topk(emb[rows], emb[rows], node, k)
    edges = [(int(a), int(b)) for a, bs, ds in zip(node, nn_ids, nn_d)
             for b, d in zip(bs, ds) if a != b and d < threshold]
    comp = _components([int(v) for v in node], edges)
    sizes: dict[int, int] = defaultdict(int)
    for c in comp.values():
        sizes[c] += 1
    number = {c: r for r, c in enumerate(sorted(c for c, s in sizes.items() if s > 1))}
    label = {texts[j]: number.get(comp[ids[j]], -1) for j in rows}
    return label, len({(min(a, b), max(a, b)) for a, b in edges})


def co_member_pairs(labels: dict[str, int]) -> set[frozenset]:
    groups: dict[int, list[str]] = defaultdict(list)
    for t, c in labels.items():
        if c >= 0:
            groups[c].append(t)
    return {frozenset((a, b)) for g in groups.values() for a in g for b in g if a < b}


def check_clusters(got: dict[str, int], want: dict[str, int]) -> list[str]:
    """Same texts and the same partition into clusters (ids may differ
    only by renumbering; the numbering rule fixes them, so compare
    exactly)."""
    problems = []
    if set(got) != set(want):
        problems.append(f"{len(got)} clustered texts, reference has {len(want)}")
    elif got != want:
        bad = sum(got[t] != want[t] for t in want)
        problems.append(f"{bad} texts carry a different cluster id than the reference")
    return problems
