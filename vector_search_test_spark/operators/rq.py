"""Residual quantization (RQ) — the additive-codebook compression
family (Chen, Guan & Wang 2010 "Approximate Nearest Neighbor Search by
Residual Vector Quantization"; faiss ResidualQuantizer), completing the
engine's quantization ladder next to the subspace family (PQ/OPQ), the
scalar family (SQ8), the sketch family (binary), and the projection
family (PCA/MRL).

Where PQ splits DIMENSIONS into independent subspaces, RQ stacks
LEVELS over the full dimensionality: level 1 quantizes the vector with
a K-centroid codebook, level 2 quantizes the RESIDUAL x - c1, and so
on — the reconstruction is the SUM of one centroid per level, so RQ
captures full-dim structure PQ's subspace independence cannot, at the
same code size (levels * log2(K) bits).

Reference scope note: the reference app's faiss usage is IndexIVFFlat
only (app.py:47-55) — no quantization at all; like PQ/OPQ/SQ8, RQ is
part of the 100 TB extension surface (raw float32 embeddings do not
fit; SURVEY §6).

Spark shape (100 TB):
- train: driver-side seeded Lloyd's per level on the residual matrix
  (the shared _lloyd_numpy kernel; bounded subsample like IVF/PQ
  train).
- encode: ONE scan-side Arrow mapInPandas over the vector column — the
  pq_encode frame (`_encode_vectors`): distances by `_sq_dists`, the
  numpy form of the precision contract in functions/vector.py, and
  np.argmin's first-min tie-break, so the doubles and the chosen codes
  match the scalar chains the DuckDB twin evaluates exactly. Residual
  subtraction stays in float64 on float32-rounded codebooks — the same
  values the twin's literals carry. No shuffle.
- search: asymmetric distance via a driver-computed LUT of
  ||q - C1[a] - C2[b]||^2 over all K^levels code combinations (the
  adc_lut literal-parity pattern — both engines read the SAME
  literal, so there is nothing to drift), then a TakeOrdered top-k.
  For levels * log2(K) beyond LUT reach, a production path would
  decode-and-score like sq8 — the 256-combo LUT here is the exact
  faiss-style 2-level fast path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.vector import _encode_vectors, _sq_dists
from .ivf import DEFAULT_SEED, _lloyd_numpy


def train_rq_numpy(
    X, levels: int = 2, k: int = 16, seed: int = DEFAULT_SEED,
    max_iter: int = 15,
):
    """Train `levels` residual codebooks of `k` centroids each on a
    (driver-subsampled) float64 matrix. Level l trains on the residual
    after subtracting levels 1..l-1's assignments (seed offset per
    level like PQ's per-subspace offset). Centroids are rounded to
    float32 — the storage precision every engine sees — then the
    RESIDUAL for the next level is computed against the rounded
    values, exactly like encode will."""
    import numpy as np

    if levels < 1:
        raise ValueError(f"levels must be >= 1, got {levels}")
    R = np.array(X, dtype=np.float64, copy=True)
    books = []
    for l in range(levels):
        cents = _lloyd_numpy(R, min(k, R.shape[0]), seed + l, max_iter=max_iter)
        book = [[float(np.float32(x)) for x in c] for c in cents]
        books.append(book)
        C = np.array(book, dtype=np.float64)
        # assign with the SAME distance block encode uses
        R = R - C[_sq_dists(R, C).argmin(axis=1)]
    return books


def rq_encode(
    df: DataFrame,
    books,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector to its RQ codes: (id_col, codes array<int>,
    one 0-based code per level). Scan-only Arrow mapInPandas — the
    pq_encode frame (`_encode_vectors`) over sequential levels: per
    level, `_sq_dists` over the FULL dimensionality, np.argmin
    (first-min), then the float64 residual against the float32-rounded
    centroid. A vector with no defined distance emits no row. No
    shuffle, no state."""
    import numpy as np

    cents = [np.array(b, dtype=np.float64) for b in books]
    fields = [
        df.schema[id_col],
        T.StructField("codes", T.ArrayType(T.IntegerType(), False), False),
    ]

    def encode(ids, R):
        codes = np.empty((len(R), len(cents)), dtype=np.int32)
        for l, C in enumerate(cents):
            idx = _sq_dists(R, C).argmin(axis=1)
            codes[:, l] = idx
            R = R - C[idx]
        return {id_col: ids, "codes": list(codes)}

    return _encode_vectors(
        df, id_col, vec_col, cents[0].shape[1], fields, encode
    )


def rq_lut(query, books):
    """Flat ADC lookup table for one query over a TWO-level RQ:
    lut[a * K + b] = ||q - C1[a] - C2[b]||^2 accumulated left-to-right
    in Python float64 — the literal both engines embed (the adc_lut
    parity pattern)."""
    if len(books) != 2:
        raise ValueError(
            f"rq_lut is the 2-level fast path, got {len(books)} levels"
        )
    c1, c2 = books
    k2 = len(c2)
    lut = []
    for a in c1:
        for b in c2:
            acc = 0.0
            for qi, ai, bi in zip(query, a, b):
                t = float(qi) - (ai + bi)
                acc += t * t
            lut.append(acc)
    assert len(lut) == len(c1) * k2
    return lut


def rq_l2_topk(codes: DataFrame, lut, k2: int, k: int = 5) -> DataFrame:
    """Asymmetric top-k over RQ codes: distance = one literal-array
    lookup per row (codes[0] * k2 + codes[1]), then TakeOrdered on
    (dist, id) — scan + global top-k, no shuffle beyond the final
    k-row reduction. Output: (vec_id, c1, c2, dist 6dp)."""
    LUT = F.array(*[F.lit(float(v)) for v in lut])
    c1 = F.col("codes")[0]
    c2 = F.col("codes")[1]
    dist = F.element_at(LUT, (c1 * k2 + c2 + 1).cast("int"))
    return (
        codes.select(
            "vec_id",
            c1.cast("int").alias("c1"),
            c2.cast("int").alias("c2"),
            dist.alias("__d"),
        )
        .orderBy(F.asc("__d"), F.asc("vec_id"))
        .limit(int(k))
        .select(
            "vec_id", "c1", "c2", F.round("__d", 6).alias("dist")
        )
    )


def _book_sql(book) -> str:
    """One codebook as a DuckDB list-of-lists literal (full-precision
    repr — the rotate_sql parity rule)."""
    return (
        "["
        + ", ".join(
            "[" + ", ".join(repr(float(x)) for x in c) + "]" for c in book
        )
        + "]"
    )


def rq_topk_oracle_sql(books, lut, k: int = 5) -> str:
    """DuckDB twin of rq_encode + rq_l2_topk for the 2-level form:
    replay the per-level argmin (list_sum == the 0.0-init left fold;
    list_position(list_min) == np.argmin's first-min tie-break), the
    float64 residual against the float32-rounded centroid literals,
    and the SAME flat LUT literal; order by (dist, vec_id).

    The codebook/LUT literals are hoisted into a 1-row `consts` CTE
    and referenced as columns: DuckDB re-materializes a literal that
    appears INSIDE a lambda on every element evaluation, so inlining
    the 16x64 lists into the per-dimension transforms costs
    rows * K * dim * |literal| float constructions (measured: minutes
    at sf0.01); as a cross-joined constant column it is built once."""
    c1l, c2l = _book_sql(books[0]), _book_sql(books[1])
    k1, k2 = len(books[0]), len(books[1])
    lutl = "[" + ", ".join(repr(float(v)) for v in lut) + "]"
    return f"""
        WITH consts AS (
            SELECT {c1l} AS B1, {c2l} AS B2, {lutl} AS LUT
        ),
        l1 AS (
            SELECT vec_id, embedding, B2, LUT,
                   list_position(d1, list_min(d1)) AS i1, B1
            FROM (
                SELECT vec_id, embedding, B1, B2, LUT,
                       list_transform(range(1, {k1} + 1), kk ->
                           list_sum(list_transform(
                               range(1, len(embedding) + 1),
                               i -> (CAST(embedding[i] AS DOUBLE)
                                     - B1[kk][i])
                                    * (CAST(embedding[i] AS DOUBLE)
                                       - B1[kk][i])))) AS d1
                FROM embeddings CROSS JOIN consts
            )
        ),
        r1 AS (
            SELECT vec_id, i1, B2, LUT,
                   list_transform(range(1, len(embedding) + 1),
                       i -> CAST(embedding[i] AS DOUBLE)
                            - B1[i1][i]) AS r
            FROM l1
        ),
        l2 AS (
            SELECT vec_id, i1, LUT,
                   list_position(d2, list_min(d2)) AS i2
            FROM (
                SELECT vec_id, i1, LUT,
                       list_transform(range(1, {k2} + 1), kk ->
                           list_sum(list_transform(
                               range(1, len(r) + 1),
                               i -> (r[i] - B2[kk][i])
                                    * (r[i] - B2[kk][i])))) AS d2
                FROM r1
            )
        )
        SELECT vec_id,
               (i1 - 1)::INT AS c1, (i2 - 1)::INT AS c2,
               round(LUT[(i1 - 1) * {k2} + i2], 6) AS dist
        FROM l2
        ORDER BY LUT[(i1 - 1) * {k2} + i2], vec_id
        LIMIT {int(k)}
    """
