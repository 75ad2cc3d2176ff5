"""Every output check accepts a correct result and rejects a corrupted one."""

import numpy as np
import pytest

from perfbench import checks, gen
from vector_search_test_spark.functions.hashing import MINHASH_P, minhash_ab
from vector_search_test_spark.functions.textstats import STOPWORDS


@pytest.fixture(scope="module")
def topk():
    X, Q, _ = gen.vectors(1, 300, 6, 8)
    ids, d = checks.exact_topk(Q, X, np.arange(len(X)), 5)
    rows = [(q, int(v), float(dd)) for q in range(len(Q)) for v, dd in zip(ids[q], d[q])]
    return rows, {q: Q[q] for q in range(len(Q))}, {i: X[i] for i in range(len(X))}


def test_topk_accepts_reference(topk):
    rows, queries, vectors = topk
    assert checks.check_topk(rows, queries, vectors, 5) == []


def test_topk_rejects_dropped_row(topk):
    rows, queries, vectors = topk
    assert checks.check_topk(rows[1:], queries, vectors, 5)


def test_topk_rejects_wrong_order(topk):
    rows, queries, vectors = topk
    bad = list(rows)
    bad[0], bad[1] = bad[1], bad[0]
    assert checks.check_topk(bad, queries, vectors, 5)


def test_topk_rejects_wrong_distance_and_duplicates(topk):
    rows, queries, vectors = topk
    q, v, d = rows[4]
    assert checks.check_topk(rows[:4] + [(q, v, d * 1.01)] + rows[5:], queries, vectors, 5)
    assert checks.check_topk(rows[:4] + [rows[3]] + rows[5:], queries, vectors, 5)


@pytest.fixture(scope="module")
def exact():
    X, Q, _ = gen.vectors(1, 300, 6, 8)
    ref_ids, ref_d = checks.exact_topk(Q, X, np.arange(len(X)), 5)
    rows = [(q, int(v), float(d)) for q in range(len(Q)) for v, d in zip(ref_ids[q], ref_d[q])]
    return rows, ref_ids, ref_d, {q: Q[q] for q in range(len(Q))}, {i: X[i] for i in range(len(X))}


def test_exact_accepts_reference(exact):
    rows, ref_ids, ref_d, queries, vectors = exact
    assert checks.check_exact(rows, ref_ids, ref_d, queries, vectors) == []


def test_exact_rejects_a_wrong_id_at_an_early_rank(exact):
    # rank 2 of query 0 swapped for a far vector, reported at the reference
    # distance so order and the last distance still look right
    rows, ref_ids, ref_d, queries, vectors = exact
    far = next(v for v in vectors if v not in set(ref_ids[0]))
    q, _, d = rows[1]
    bad = rows[:1] + [(q, far, d)] + rows[2:]
    assert checks.check_exact(bad, ref_ids, ref_d, queries, vectors)


def test_exact_rejects_a_missing_neighbour(exact):
    # the 2nd nearest replaced by the 6th, with its true distance: every
    # row is self-consistent and ordered, but a true neighbour is missing
    rows, ref_ids, ref_d, queries, vectors = exact
    ids6, d6 = checks.exact_topk(queries[0][None, :], np.stack(list(vectors.values())),
                                 np.arange(len(vectors)), 6)
    top = [(0, int(v), float(d)) for v, d in zip(ids6[0], d6[0])]
    bad = top[:1] + top[2:]
    assert checks.check_exact(bad + rows[5:], ref_ids, ref_d, queries, vectors)


def test_exact_allows_either_row_of_a_tie_at_k():
    X = np.array([[0.0], [1.0], [-1.0], [2.0]], dtype=np.float32)
    Q = np.array([[0.0]], dtype=np.float32)
    ref_ids, ref_d = checks.exact_topk(Q, X, np.arange(4), 2)
    assert list(ref_ids[0]) == [0, 1]
    vectors = {i: X[i] for i in range(4)}
    other = [(0, 0, 0.0), (0, 2, 1.0)]  # -1 ties with +1 at the k-th distance
    assert checks.check_exact(other, ref_ids, ref_d, {0: Q[0]}, vectors) == []


def test_cells_rejects_a_vector_in_the_wrong_cell():
    cents = np.array([[0.0, 0.0], [10.0, 10.0]], dtype=np.float32)
    good = [(1, 0, [0.5, 0.1]), (2, 1, [9.0, 9.5])]
    assert checks.check_cells(good, cents) == []
    assert checks.check_cells([(1, 1, [0.5, 0.1])], cents)


def test_tail_is_the_highest_percentile_with_ten_beyond():
    assert checks.tail(list(range(1, 6))) == (5, 100.0, 5)
    v, pct, n = checks.tail([float(i) for i in range(100)])
    assert (v, pct, n) == (89.0, 90.0, 100)


@pytest.fixture(scope="module")
def curation():
    docs, bench, plants = gen.curation_docs(11, 80)
    texts = dict(zip(docs["doc_id"].tolist(), docs["text"].tolist()))
    cfg = dict(quality_min=0.55, neardup_n=3, neardup_hashes=16, neardup_bands=4,
               neardup_threshold=0.9, contam_n=3, contam_threshold=0.5)
    kept = checks.curation_reference(texts, bench["text"].tolist(), cfg, STOPWORDS["en"],
                                     minhash_ab, MINHASH_P)
    return texts, plants, kept


def test_curation_reference_removes_the_plants(curation):
    texts, plants, kept = curation
    for kind in ("lowq", "contam"):
        assert not {d for d, _ in plants[kind]} & kept
    for doc, src in plants["exact"]:
        assert not {doc, src} <= kept
    caught = [not {doc, src} <= kept for doc, src in plants["near"]]
    assert sum(caught) >= len(caught) - 1
    assert {d for d, _ in plants["para"]} <= kept


def test_curation_check_rejects_extra_missing_and_duplicates(curation):
    texts, plants, kept = curation
    assert checks.check_curation(kept, kept, texts) == []
    assert checks.check_curation(kept - {min(kept)}, kept, texts)
    doc, src = plants["exact"][0]
    dup = (kept - {doc, src}) | {doc, src}
    assert any("both survived" in p for p in checks.check_curation(dup, kept, texts))


def test_clusters_reference_and_check():
    from vector_search_test_spark.functions.embed import HashingEmbedder

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    texts = [base, base.replace("mu", "nu"), "one two three four five six", base + " xi"]
    ids = [3, 1, 2, 0]
    labels, edges = checks.cluster_reference(ids, texts, HashingEmbedder().encode(texts),
                                             threshold=0.75, k=10)
    assert edges == 3
    assert labels[texts[2]] == -1
    assert labels[texts[0]] == labels[texts[1]] == labels[texts[3]] == 0
    assert checks.check_clusters(labels, labels) == []
    moved = dict(labels, **{texts[2]: 0})
    assert checks.check_clusters(moved, labels)
    assert checks.check_clusters({t: c for t, c in labels.items() if t != texts[2]}, labels)
