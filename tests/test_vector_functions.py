import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_search_test_spark.functions.vector import cosine_sim, dot, l2_norm, l2_sq
from vector_search_test_spark.functions.hashing import portable_hash48
from vector_search_test_spark.io import load_table


def test_l2_sq_matches_numpy(spark, sf_dir):
    df = load_table(spark, sf_dir, "embeddings").limit(20).cache()
    rows = df.collect()
    a = np.array(rows[0].embedding, dtype=np.float64)
    got = (
        df.filter(F.col("vec_id") == rows[1].vec_id)
        .select(
            l2_sq(
                F.array(*[F.lit(float(x)).cast("float") for x in rows[0].embedding]),
                F.col("embedding"),
            ).alias("d")
        )
        .first()
        .d
    )
    b = np.array(rows[1].embedding, dtype=np.float64)
    assert got == pytest.approx(float(((a - b) ** 2).sum()), rel=1e-9)


def test_dot_norm_cosine(spark):
    df = spark.createDataFrame(
        [([1.0, 2.0, 3.0], [4.0, 5.0, 6.0])],
        "a array<float>, b array<float>",
    )
    row = df.select(
        dot("a", "b").alias("d"), l2_norm("a").alias("na"), cosine_sim("a", "b").alias("c")
    ).first()
    assert row.d == pytest.approx(32.0)
    assert row.na == pytest.approx(math.sqrt(14.0))
    assert row.c == pytest.approx(32.0 / (math.sqrt(14) * math.sqrt(77)))


def test_dot_unrolled_bitexact_vs_fold(spark):
    """dot_unrolled must produce BIT-identical doubles to the HOF fold
    it replaces (late_interaction's MaxSim hot loop) on exact-width
    arrays — including the -0.0-first-product association the explicit
    0.0D seed preserves — and surface short arrays as an ANSI
    out-of-bounds error (never a silently partial sum)."""
    import struct

    from vector_search_test_spark.functions.vector import dot_unrolled

    cases = [
        ([1.5, -2.25, 3.125, 0.1], [4.0, 5.5, -6.75, 0.3]),
        ([-0.0, 2.0, 3.0, 4.0], [5.0, -0.0, 0.0, 1e-30]),  # -0.0 first product
        ([0.0, 0.0, 0.0, 0.0], [-1.0, 0.0, -0.0, 0.0]),
        ([1e30, -1e30, 1.0, 1e-30], [1e8, 1e8, 1.0, 1e30]),
    ]
    df = spark.createDataFrame(cases, "a array<float>, b array<float>")
    rows = df.select(
        dot("a", "b").alias("fold"),
        dot_unrolled("a", "b", 4).alias("unrolled"),
    ).collect()
    for r in rows:
        assert struct.pack("<d", r.fold) == struct.pack("<d", r.unrolled)
    # declared-width contract: a short array errors under ANSI (Spark 4
    # default), never a silently partial sum — the divergence from the
    # fold that makes exact-width arrays a caller requirement
    short = spark.createDataFrame(
        [([1.0, 2.0], [3.0, 4.0])], "a array<float>, b array<float>"
    )
    with pytest.raises(Exception, match="INVALID_ARRAY_INDEX|out of bounds"):
        short.select(dot_unrolled("a", "b", 4).alias("unrolled")).collect()


def test_portable_hash48_matches_duckdb(spark):
    import duckdb

    from vector_search_test_spark.functions.hashing import hash48_sql

    texts = ["abc", "hello world", "", "ünïcode ✓", "x" * 500]
    df = spark.createDataFrame([(t,) for t in texts], "s string")
    got = {r.s: r.h for r in df.select("s", portable_hash48("s").alias("h")).collect()}
    got_salted = {
        r.s: r.h for r in df.select("s", portable_hash48("s", salt=7).alias("h")).collect()
    }
    con = duckdb.connect()
    for t in texts:
        want = con.execute(f"select {hash48_sql('$tx')}", {"tx": t}).fetchone()[0]
        assert got[t] == want, t
        want_s = con.execute(f"select {hash48_sql('$tx', salt=7)}", {"tx": t}).fetchone()[0]
        assert got_salted[t] == want_s, t


# The five (id, vector) encoders against dim-4 artifacts. Rows 0, 7 and
# 8 are well formed (every value exact in float32); the rest are NULL,
# empty, short, long, NULL-element and NaN-element vectors.
_ENC_ROWS = [
    (0, [0.75, 1.25, 0.125, 0.0]),
    (1, None),
    (2, []),
    (3, [0.5, 0.5]),
    (4, [1.0, 1.0, 1.0, 1.0, 1.0]),
    (5, [1.0, None, 0.0, 0.0]),
    (6, [float("nan"), 1.0, 0.0, 0.0]),
    (7, [2.0, 0.0, 1.0, 1.0]),
    (8, [1.0, 1.0, 1.5, 0.5]),
]
_ENC_BOOKS = [[[0.0, 0.0], [1.0, 1.0], [2.0, 0.0]], [[0.0, 0.0], [1.0, 1.0]]]
_ENC_ROT = [[0.0, 1.0, 0.0, 0.0], [1.0, 0.0, 0.0, 0.0],
            [0.0, 0.0, 0.0, 1.0], [0.0, 0.0, 1.0, 0.0]]
_ENC_COARSE = [[0.0, 0.0, 0.0, 0.0], [1.0, 0.0, 1.0, 0.0]]
_ENC_RQ = [
    [[0.0, 0.0, 0.0, 0.0], [1.0, 1.0, 0.0, 0.0], [2.0, 0.0, 1.0, 1.0]],
    [[0.0, 0.0, 0.0, 0.0], [0.5, 0.5, 0.0, 0.0]],
]
_ENC_MEAN = [0.5, 0.0, 0.0, 0.0]
_ENC_W = [[1.0, 0.0], [0.0, 1.0], [0.0, 0.0], [0.5, 0.5]]


def _first_min(ds):
    return min(range(len(ds)), key=ds.__getitem__)


def _py_pq(v, books):
    from vector_search_test_spark.operators.pq import adc_lut

    return [_first_min(row) for row in adc_lut(v, books)]


def _py_rq(v, books):
    codes = []
    for book in books:
        ds = []
        for c in book:
            acc = 0.0
            for x, y in zip(v, c):
                acc += (x - y) * (x - y)
            ds.append(acc)
        codes.append(_first_min(ds))
        v = [x - y for x, y in zip(v, book[codes[-1]])]
    return codes


def _py_ivfpq(v):
    from vector_search_test_spark.operators.ivf import rank_cells

    cell = rank_cells(v, _ENC_COARSE, 1)[0]
    resid = [x - c for x, c in zip(v, _ENC_COARSE[cell])]
    return {"list_id": cell, "codes": _py_pq(resid, _ENC_BOOKS)}


def _encoders():
    from vector_search_test_spark.operators.pca import (
        pca_project,
        pca_project_py,
    )
    from vector_search_test_spark.operators.pq import (
        ivfpq_encode,
        opq_encode,
        pq_encode,
        rotate_queries,
    )
    from vector_search_test_spark.operators.rq import rq_encode

    # name -> (encode df, Python twin of one well-formed row's outputs)
    return {
        "pq": (
            lambda df: pq_encode(df, _ENC_BOOKS),
            lambda v: {"codes": _py_pq(v, _ENC_BOOKS)},
        ),
        "opq": (
            lambda df: opq_encode(df, _ENC_ROT, _ENC_BOOKS),
            lambda v: {
                "codes": _py_pq(
                    rotate_queries([(0, v)], _ENC_ROT)[0][1], _ENC_BOOKS
                )
            },
        ),
        "ivfpq": (
            lambda df: ivfpq_encode(df, _ENC_COARSE, _ENC_BOOKS),
            _py_ivfpq,
        ),
        "rq": (
            lambda df: rq_encode(df, _ENC_RQ),
            lambda v: {"codes": _py_rq(v, _ENC_RQ)},
        ),
        "pca": (
            lambda df: pca_project(df, _ENC_MEAN, _ENC_W),
            lambda v: {"proj": pca_project_py(v, _ENC_MEAN, _ENC_W)},
        ),
    }


@pytest.mark.parametrize("slices", [1, 16])
@pytest.mark.parametrize("name", ["pq", "opq", "ivfpq", "rq", "pca"])
def test_encoders_edge_matrix(spark, name, slices):
    """Every (id, vector) encoder shares one edge rule: a NULL, empty,
    short, long or NULL/NaN-holding vector emits no row, so it is never
    a search result; well-formed rows match the Python twins exactly;
    zero-row and single-row partitions (16 slices over 9 rows) and an
    empty input pass through."""
    import pandas as pd
    from pandas.testing import assert_frame_equal

    encode, twin = _encoders()[name]
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(_ENC_ROWS, slices),
        "vec_id long, embedding array<float>",
    )
    got = encode(df).toPandas().sort_values("vec_id", ignore_index=True)
    for c in ("codes", "proj"):
        if c in got:
            got[c] = got[c].map(list)
    want = pd.DataFrame(
        [{"vec_id": i, **twin(_ENC_ROWS[i][1])} for i in (0, 7, 8)]
    )
    assert_frame_equal(got, want, check_dtype=False, check_like=True)
    assert encode(df.limit(0)).collect() == []


@pytest.mark.parametrize("slices", [1, 16])
def test_knn_exact_edge_matrix(spark, slices):
    """`knn_exact` applies one edge rule on both sides, for both metrics:
    an invalid corpus vector is never a result and an invalid query
    (NULL, short, NULL/NaN-holding) returns no rows; under cosine a
    zero vector is invalid too. Well-formed pairs get the sequential-sum
    distance (or similarity) and the (dist, vec_id) top-k, exactly."""
    import math

    from vector_search_test_spark.operators.knn import knn_exact

    corpus = spark.createDataFrame(
        spark.sparkContext.parallelize(
            _ENC_ROWS + [(9, [0.0, 0.0, 0.0, 0.0])], slices
        ),
        "vec_id long, embedding array<float>",
    )
    vecs = dict(_ENC_ROWS + [(9, [0.0, 0.0, 0.0, 0.0])])
    qrows = [
        (100, [1.0, 0.5, 0.0, 2.0]),
        (101, None),
        (102, [1.0, 1.0]),
        (103, [1.0, float("nan"), 0.0, 0.0]),
        (104, [0.0, 0.0, 0.0, 0.0]),
        (105, [None, 1.0, 0.0, 0.0]),
    ]
    queries = spark.createDataFrame(qrows, "query_id long, query_vec array<float>")
    k = 2

    def l2(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += (x - y) * (x - y)
        return acc

    def cos(a, b):
        dot = na = nb = 0.0
        for x, y in zip(a, b):
            dot += x * y
            na += x * x
            nb += y * y
        return dot / (math.sqrt(na) * math.sqrt(nb))

    for metric, score, sign, valid_q, valid_x, invalid_q in (
        ("l2_sq", l2, 1.0, (100, 104), (0, 7, 8, 9), "101, 102, 103, 105"),
        ("cosine", cos, -1.0, (100,), (0, 7, 8), "101, 102, 103, 104, 105"),
    ):
        got = sorted(
            tuple(r) for r in knn_exact(queries, corpus, k=k, metric=metric).collect()
        )
        want = sorted(
            (q, i, sign * d)
            for q in valid_q
            for d, i in sorted(
                (sign * score(dict(qrows)[q], vecs[i]), i) for i in valid_x
            )[:k]
        )
        assert got == want, metric
        assert knn_exact(queries, corpus.limit(0), k=k, metric=metric).collect() == []
        for invalid in ("101", invalid_q):
            only = queries.filter(f"query_id IN ({invalid})")
            assert knn_exact(only, corpus, k=k, metric=metric).collect() == []
