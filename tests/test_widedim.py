"""The exact kNN scan and the wide-literal top-k, end-to-end with value
equality against driver-side references (VERDICT r3 #6).

`knn_exact` is one Arrow `mapInPandas` kernel at every width and for
both metrics; these tests push dim 64, 128 and 384 through it, plus the
HOF-over-literal form `topk_global` takes for a query wider than
functions/vector.py::UNROLL_MAX_TERMS (96), and require BIT-identical
doubles to the reference computation: per-pair, per-dimension
left-to-right float64 accumulation over float32 inputs — the shared
precision contract the JVM folds, the numpy kernels and the DuckDB
oracle all document.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_search_test_spark.functions.vector import UNROLL_MAX_TERMS
from vector_search_test_spark.operators.knn import knn_exact, topk_global

N_CORPUS = 200
N_QUERIES = 5
K = 7


def _corpus(dim: int, n: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n, dim)).astype(np.float32)


def _ref_topk(qmat: np.ndarray, X: np.ndarray, k: int):
    """(query, vec_id, dist) triples via the documented summation order:
    float32 inputs widened to float64, one addend per dimension,
    left-to-right. Ties broken on vec_id ascending."""
    out = {}
    for qi in range(qmat.shape[0]):
        acc = np.zeros(X.shape[0], dtype=np.float64)
        for d in range(qmat.shape[1]):
            t = np.float64(qmat[qi, d]) - X[:, d].astype(np.float64)
            acc = acc + t * t
        order = np.lexsort((np.arange(X.shape[0]), acc))[:k]
        out[qi] = [(int(v), float(acc[v])) for v in order]
    return out


def _frames(spark, X: np.ndarray, nq: int):
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(X.shape[0])],
        "vec_id long, embedding array<float>",
    ).repartition(8)
    queries = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(nq)],
        "query_id long, query_vec array<float>",
    )
    return corpus, queries


def _ref_cos_topk(qmat: np.ndarray, X: np.ndarray, k: int):
    """(query, vec_id, similarity) triples in pure Python: the dot
    product and both squared norms summed one dimension at a time, left
    to right, in float64 over float32 inputs, then dot / (|q| * |x|).
    Ordered by similarity descending, ties on vec_id ascending."""

    def sq_norm(v):
        acc = 0.0
        for x in v:
            acc += float(x) * float(x)
        return acc

    xnorms = [math.sqrt(sq_norm(x)) for x in X]
    out = {}
    for qi, qv in enumerate(qmat):
        qn = math.sqrt(sq_norm(qv))
        sims = []
        for vid, xv in enumerate(X):
            dot = 0.0
            for a, b in zip(qv, xv):
                dot += float(a) * float(b)
            sims.append((-(dot / (qn * xnorms[vid])), vid))
        out[qi] = [(vid, -neg) for neg, vid in sorted(sims)[:k]]
    return out


def _by_query(rows, descending: bool = False):
    sign = -1.0 if descending else 1.0
    by_q: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r.query_id, sign * r.dist, r.vec_id)):
        by_q.setdefault(r.query_id, []).append((r.vec_id, r.dist))
    return by_q


@pytest.mark.parametrize("dim", [64, 128, 384])
def test_knn_exact_bit_exact(spark, dim):
    """Both metrics, below and above the width where a Column distance
    would stop fitting whole-stage codegen: the same (vec_id, dist)
    lists as the references, doubles compared with ==."""
    X = _corpus(dim, N_CORPUS, seed=dim)
    corpus, queries = _frames(spark, X, N_QUERIES)

    got = _by_query(knn_exact(queries, corpus, k=K).collect())
    assert got == _ref_topk(X[:N_QUERIES].copy(), X, K)

    got = _by_query(
        knn_exact(queries, corpus, k=K, metric="cosine").collect(),
        descending=True,
    )
    assert got == _ref_cos_topk(X[:N_QUERIES], X, K)


def test_topk_global_wide_literal_query(spark):
    """One wide literal query through topk_global takes the
    HOF-over-literal branch (len > UNROLL_MAX_TERMS); values bit-equal
    to the numpy reference."""
    dim = 128
    assert dim > UNROLL_MAX_TERMS
    X = _corpus(dim, 150, seed=11)
    corpus, _ = _frames(spark, X, 1)
    expected = _ref_topk(X[:1].copy(), X, K)[0]
    got = topk_global(corpus, [float(x) for x in X[0]], k=K).collect()
    assert [(r.vec_id, r.dist) for r in got] == expected


def test_knn_exact_plan_is_arrow_not_per_row(spark):
    """Plan pin for the scale claim: the exact kNN scan runs ONE
    Arrow-batched MapInPandas (vectorized numpy) and a WindowGroupLimit
    merge — never a row-at-a-time BatchEvalPython UDF."""
    dim = 384
    X = _corpus(dim, 64, seed=3)
    corpus, queries = _frames(spark, X, 4)
    plan = (
        knn_exact(queries, corpus, k=K)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan
    assert "WindowGroupLimit" in plan
