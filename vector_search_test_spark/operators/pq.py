"""Product quantization (PQ) — compressed embeddings + ADC search
(extension; the reference holds raw float32 vectors in a faiss
IndexIVFFlat, app.py:47-48, and has no compressed index).

THE 100 TB problem this solves: raw embeddings don't fit. A 384-dim
float32 vector is 1536 bytes; 100 TB of documents with one vector each
is tens of TB of vectors that every ANN probe must scan. PQ splits each
vector into `m` contiguous subvectors and replaces each subvector with
the id of its nearest centroid from a per-subspace codebook of `ksub`
entries — m bytes per vector at ksub<=256 (e.g. 384-dim float32 ->
m=48 codes = 48 B, a 32x compression), so the scan reads codes, not
floats.

Spark-first shapes:

- TRAIN (`train_pq_numpy`): per-subspace seeded k-means++/Lloyd's on a
  driver subsample — the same bounded-collect contract as IVF training
  (operators/ivf.py::_lloyd_numpy); codebooks are m*ksub*dsub floats
  (KBs), a broadcast-sized artifact.
- ENCODE (`pq_encode`): scan-only mapInPandas — each Arrow batch is
  scored against every codebook with vectorized numpy and emits
  (id, codes array<int>); a NULL, wrong-length or NaN-holding vector
  emits no row. No shuffle at any corpus size.
- SEARCH (`pq_adc_topk_all`): asymmetric distance computation (ADC,
  Jegou et al., "Product Quantization for Nearest Neighbor Search",
  TPAMI 2011): per query, a tiny m x ksub lookup table of exact
  query-to-centroid distances is built driver-side; the corpus-side
  distance is then m table lookups + m adds per code row — no float
  vectors are read. The LUTs ride a broadcast join; per-query top-k is
  the same WindowGroupLimit pruning the exact kNN path uses.
- RERANK (`pq_rerank`): ADC is an approximation (it scores against
  reconstructed vectors), so the standard refinement fetches exact
  distances for the ADC top-R only — a broadcast-able R-row join back
  to the float table, never a full scan.

Precision contract: the one in functions/vector.py — encode and
training score through its numpy form `_sq_dists`, LUT entries
accumulate sequentially in Python floats, and the ADC sum folds lookups
left-to-right (F.aggregate / DuckDB list_sum) — so Spark, numpy, and
the oracle produce identical doubles, and argmin tie-breaks (first
minimum) agree everywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vector_search_test_spark.functions.vector import (
    _encode_vectors,
    _sq_dists,
)
from vector_search_test_spark.operators.ivf import (
    DEFAULT_SEED,
    _lloyd_numpy,
    _lloyd_numpy_multi,
)

Books = "list[list[list[float]]]"  # [m][ksub][dsub], float32-rounded


def train_pq_numpy(
    X, m: int, ksub: int = 16, seed: int = DEFAULT_SEED, max_iter: int = 15
):
    """Train PQ codebooks on a (driver-subsampled) float64 matrix: the
    columns are split into `m` contiguous subspaces and each runs the
    seeded k-means++/Lloyd's kernel IVF training uses (seed offset by
    subspace so codebooks differ). Centroids are rounded to float32 —
    the storage precision every engine sees. Training needs only
    O(ksub * dim) samples, so the driver-side collect stays bounded
    exactly like IVF train (operators/ivf.py)."""
    import numpy as np

    n, dim = X.shape
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    # all m subspace k-means run through ONE batched Lloyd loop —
    # bit-identical to the per-subspace calls (see _lloyd_numpy_multi's
    # identity argument; pytest-pinned), ~2x less driver call overhead
    # for the OPQ trainer's 8 x m inner trainings (r17)
    subs = [
        np.ascontiguousarray(X[:, j * dsub : (j + 1) * dsub])
        for j in range(m)
    ]
    cents_all = _lloyd_numpy_multi(
        subs, min(ksub, n), [seed + j for j in range(m)], max_iter
    )
    return [
        [[float(np.float32(x)) for x in c] for c in cents]
        for cents in cents_all
    ]


def _pq_codes(X, cents):
    """(n, m) int32 PQ codes of the rows of X: per subspace j, the first
    nearest entry of cents[j] (a ksub x dsub float64 codebook)."""
    import numpy as np

    dsub = cents[0].shape[1]
    codes = np.empty((len(X), len(cents)), dtype=np.int32)
    for j, C in enumerate(cents):
        sub = X[:, j * dsub : (j + 1) * dsub]
        codes[:, j] = _sq_dists(sub, C).argmin(axis=1)
    return codes


def pq_encode(
    df: DataFrame,
    books,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector to its PQ codes: (id_col, codes array<int>).

    Scan-only mapInPandas (`_encode_vectors`): each Arrow batch is
    scored against each subspace's codebook by `_sq_dists`, so the
    doubles match the scalar chain the DuckDB twin evaluates, and
    np.argmin's first-min tie-break matches list_position(list_min). A
    vector with no defined distance emits no row. No shuffle, no state;
    at 100 TB this is a pure map over the column batches."""
    import numpy as np

    cents = [np.array(book, dtype=np.float64) for book in books]
    fields = [
        df.schema[id_col],
        T.StructField("codes", T.ArrayType(T.IntegerType(), False), False),
    ]
    return _encode_vectors(
        df, id_col, vec_col, len(books) * len(books[0][0]), fields,
        lambda ids, X: {id_col: ids, "codes": list(_pq_codes(X, cents))},
    )


def adc_lut(query, books):
    """ADC lookup table for one query: lut[j][c] = squared L2 between
    the query's j-th subvector and codebook entry c, accumulated
    left-to-right in Python float64 — the literal values both the Spark
    plan and the oracle embed, so there is nothing to drift."""
    m = len(books)
    dsub = len(books[0][0])
    lut = []
    for j in range(m):
        row = []
        for cent in books[j]:
            acc = 0.0
            for i in range(dsub):
                t = float(query[j * dsub + i]) - cent[i]
                acc = acc + t * t
            row.append(acc)
        lut.append(row)
    return lut


def pq_adc_topk_all(
    codes: DataFrame,
    luts: "list[tuple[int, list[list[float]]]]",
    k: int = 5,
    id_col: str = "vec_id",
) -> DataFrame:
    """Batched ADC top-k over an encoded corpus: (query_id, vec_id,
    dist), k rows per query, deterministic (dist, vec_id) order.

    The LUT table (one row per query, m*ksub doubles each) is broadcast
    — queries x codebook is KBs — and the per-row distance is m array
    lookups folded left-to-right (F.aggregate over zip_with: the
    CodegenFallback cost is m=O(10) boxed steps per row against codes
    already 32x smaller than the floats they replace). Per-query top-k
    is row_number over (dist, vec_id) — WindowGroupLimit prunes each
    partition to k rows before the single shuffle, exactly like the
    uncompressed kNN path.

    Scale note: the crossJoin fans every code row out nq times — a
    full-scan ADC, inherent to flat PQ. Use the IVF-PQ variant
    (`ivfpq_adc_topk_all`) for scale: its broadcast EQUI-join on
    list_id scans only the nprobe probed cells per query instead of
    the whole corpus per query."""
    from pyspark.sql import Window

    spark = codes.sparkSession
    lut_df = spark.createDataFrame(
        [(int(q), lut) for q, lut in luts],
        "query_id long, lut array<array<double>>",
    )
    scored = codes.crossJoin(F.broadcast(lut_df)).withColumn(
        "dist",
        F.aggregate(
            F.zip_with(
                F.col("lut"),
                F.col("codes"),
                lambda l, c: F.element_at(l, c + F.lit(1)),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )
    w = Window.partitionBy("query_id").orderBy("dist", id_col)
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", id_col, "dist")
    )


def pq_rerank(
    adc_topr: DataFrame,
    corpus: DataFrame,
    queries: "list[tuple[int, list[float]]]",
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Refine ADC candidates with exact distances: join the top-R code
    rows back to the float table (the candidate set is R rows per query
    — broadcast-able at any corpus size) and re-rank by true squared L2
    against each query vector. The query vectors ride a broadcast join
    and the distance is the sequential l2_sq fold — identical doubles
    to the unrolled literal path, without the nq*dim-term CASE
    expression a per-query literal chain would generate (past the
    codegen budget it compiles nothing and costs janino retries; the
    fold scores only R rows per query, so interpreted evaluation is
    free here)."""
    from pyspark.sql import Window

    from vector_search_test_spark.functions.vector import l2_sq

    spark = adc_topr.sparkSession
    qdf = spark.createDataFrame(
        [(int(qid), [float(v) for v in vec]) for qid, vec in queries],
        "query_id long, __qvec array<double>",
    )
    cand = (
        adc_topr.select("query_id", id_col)
        .join(corpus.select(id_col, vec_col), id_col)
        .join(F.broadcast(qdf), "query_id")
    )
    scored = cand.withColumn("dist", l2_sq(vec_col, "__qvec"))
    w = Window.partitionBy("query_id").orderBy("dist", id_col)
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", id_col, "dist")
    )


# ---------------------------------------------------------------------------
# IVF-PQ: coarse quantizer + PQ on residuals (faiss IndexIVFPQ analogue)
# ---------------------------------------------------------------------------


def train_ivfpq_numpy(
    X,
    nlist: int,
    m: int,
    ksub: int = 16,
    seed: int = DEFAULT_SEED,
    max_iter: int = 15,
):
    """Train the two-level quantizer faiss's IndexIVFPQ uses (the scale
    successor of the reference's IndexIVFFlat, app.py:47-48): a coarse
    nlist-cell quantizer, then PQ codebooks on the RESIDUALS
    (x - coarse_centroid) — residuals concentrate around zero, so the
    same code budget quantizes them much more accurately than raw
    vectors. Returns (coarse, books), both float32-rounded. Training
    assignment scores through `_sq_dists` like the engines, so the
    trainer is deterministic end to end."""
    import numpy as np

    coarse = [
        [float(np.float32(x)) for x in c]
        for c in _lloyd_numpy(X, min(nlist, X.shape[0]), seed, max_iter=max_iter)
    ]
    C = np.array(coarse, dtype=np.float64)
    resid = X - C[_sq_dists(X, C).argmin(axis=1)]
    books = train_pq_numpy(resid, m=m, ksub=ksub, seed=seed + 1000, max_iter=max_iter)
    return coarse, books


def ivfpq_encode(
    df: DataFrame,
    coarse,
    books,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode to IVF-PQ postings: (list_id, id, codes). Scan-only
    mapInPandas (`_encode_vectors`): coarse argmin over `_sq_dists`
    (first-min ties), residual against the winning centroid, PQ codes
    of the residual — each step bit-matching the SQL twin's arithmetic.
    A vector with no defined distance gets no posting. At scale the
    output persists partitionBy('list_id') exactly like the float
    postings (operators/ivf.py::ivf_save), but m bytes per vector
    instead of dim*4."""
    import numpy as np

    C = np.array(coarse, dtype=np.float64)
    cents = [np.array(b, dtype=np.float64) for b in books]
    fields = [
        T.StructField("list_id", T.IntegerType(), False),
        df.schema[id_col],
        T.StructField("codes", T.ArrayType(T.IntegerType(), False), False),
    ]

    def encode(ids, X):
        cell = _sq_dists(X, C).argmin(axis=1)
        codes = _pq_codes(X - C[cell], cents)
        return {
            "list_id": cell.astype(np.int32), id_col: ids, "codes": list(codes)
        }

    return _encode_vectors(df, id_col, vec_col, C.shape[1], fields, encode)


def ivfpq_luts(queries, coarse, books, nprobe: int):
    """Per-(query, probed cell) ADC tables: rank cells by exact
    query-to-coarse-centroid distance (sequential accumulation, ties to
    the lowest cell id), keep nprobe, and build the residual LUT
    lut[j][c] = ||(q - coarse_cell)_j - books[j][c]||^2 in Python
    float64 — nq * nprobe * m * ksub doubles, broadcast-sized at any
    corpus size. Returns [(query_id, list_id, lut)]."""
    from vector_search_test_spark.operators.ivf import rank_cells

    out = []
    for qid, vec in queries:
        q = [float(v) for v in vec]
        for cell in rank_cells(q, coarse, nprobe):
            resid = [q[i] - coarse[cell][i] for i in range(len(q))]
            out.append((int(qid), int(cell), adc_lut(resid, books)))
    return out


def ivfpq_adc_topk_all(
    postings: DataFrame,
    luts: "list[tuple[int, int, list[list[float]]]]",
    k: int = 5,
    id_col: str = "vec_id",
) -> DataFrame:
    """Batched IVF-PQ ADC top-k: the per-(query, cell) LUT table rides a
    broadcast EQUI-join on list_id — unprobed cells never join (with
    partitioned postings that is static partition pruning, the Catalyst
    replay of faiss scanning nprobe inverted lists) — then m lookups +
    adds per surviving code row and the WindowGroupLimit per-query
    top-k. No float vector is read anywhere."""
    from pyspark.sql import Window

    spark = postings.sparkSession
    lut_df = spark.createDataFrame(
        [(q, c, l) for q, c, l in luts],
        "query_id long, list_id int, lut array<array<double>>",
    )
    # static probe filter BEFORE the join: the probed cell set is known
    # driver-side, so against saved partitioned postings this is static
    # partition pruning (only nprobe directories are even listed) rather
    # than relying on runtime filter pushdown through the join
    probed = sorted({int(c) for _, c, _ in luts})
    postings = postings.filter(F.col("list_id").isin(probed))
    scored = postings.join(F.broadcast(lut_df), "list_id").withColumn(
        "dist",
        F.aggregate(
            F.zip_with(
                F.col("lut"),
                F.col("codes"),
                lambda l, c: F.element_at(l, c + F.lit(1)),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )
    w = Window.partitionBy("query_id").orderBy("dist", id_col)
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", id_col, "dist")
    )


# ---------------------------------------------------------------------------
# DuckDB twins
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# OPQ: learned orthogonal rotation before PQ (Ge et al., "Optimized
# Product Quantization", CVPR 2013 — the standard missing rung between
# PQ and IVF-PQ in the compression ladder)
# ---------------------------------------------------------------------------


def train_opq_numpy(
    X,
    m: int,
    ksub: int = 16,
    seed: int = DEFAULT_SEED,
    max_iter: int = 15,
    n_iter: int = 8,
):
    """Non-parametric OPQ: alternate (a) PQ codebook training on the
    rotated data with (b) the orthogonal Procrustes update
    R = U Vᵀ of svd(Xᵀ X̂) that minimizes ‖XR − X̂‖² over rotations.
    Iteration 0 is PLAIN PQ (R = identity), and the returned (R, books)
    is the iterate with the LOWEST training quantization error, so OPQ
    can never train worse than PQ on the same sample — the guarantee
    the recall test pins. Driver-side on the same bounded subsample
    contract as `train_pq_numpy`; returns (R, books) with R a
    [dim][dim] row-major rotation (y = x @ R), float32-rounded like
    every stored artifact."""
    import numpy as np

    n, dim = X.shape
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m

    def reconstruct(Y, books):
        cents = [np.array(b, dtype=np.float64) for b in books]
        out = np.empty_like(Y)
        for j in range(m):
            sub = Y[:, j * dsub : (j + 1) * dsub]
            C = cents[j]
            # .sum(axis=2), not _sq_dists: it picks the OPQ iterate
            d = ((sub[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            out[:, j * dsub : (j + 1) * dsub] = C[np.argmin(d, axis=1)]
        return out

    R = np.eye(dim)
    best = None
    for _ in range(max(1, n_iter)):
        Y = X @ R
        books = train_pq_numpy(Y, m, ksub=ksub, seed=seed, max_iter=max_iter)
        Yh = reconstruct(Y, books)
        err = float(((Y - Yh) ** 2).sum())
        if best is None or err < best[0]:
            best = (err, R.copy(), books)
        U, _, Vt = np.linalg.svd(X.T @ Yh)
        R = U @ Vt
    _, R, books = best
    Rf = [[float(np.float32(v)) for v in row] for row in R]
    return Rf, books


def rotate_queries(queries, R):
    """Rotate (qid, vec) pairs driver-side with the same left-to-right
    per-input-dimension accumulation the encode path and the SQL twin
    use — identical doubles everywhere."""
    dim = len(R)
    out = []
    for qid, vec in queries:
        acc = [0.0] * dim
        for j in range(dim):
            xj = float(vec[j])
            row = R[j]
            for i in range(dim):
                acc[i] = acc[i] + xj * row[i]
        out.append((qid, acc))
    return out


def opq_encode(
    df: DataFrame,
    R,
    books,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Rotate + PQ-encode in ONE scan-only mapInPandas pass
    (`_encode_vectors`): the broadcast-sized rotation matrix rides the
    task closure, the rotation accumulates per INPUT dimension
    left-to-right (bit-identical to the scalar chain / list_sum the
    oracle evaluates), and the codes are `pq_encode`'s `_pq_codes` on
    the rotated floats. Same (id, codes) contract, edge rule and 100 TB
    shape as pq_encode — no shuffle, m bytes per vector out."""
    import numpy as np

    cents = [np.array(book, dtype=np.float64) for book in books]
    Rm = np.array(R, dtype=np.float64)
    dim = Rm.shape[0]
    fields = [
        df.schema[id_col],
        T.StructField("codes", T.ArrayType(T.IntegerType(), False), False),
    ]

    def encode(ids, X):
        Y = np.zeros_like(X)
        for j in range(dim):  # left-to-right over input dims
            Y += X[:, j : j + 1] * Rm[j, :][None, :]
        return {id_col: ids, "codes": list(_pq_codes(Y, cents))}

    return _encode_vectors(df, id_col, vec_col, dim, fields, encode)


def rotate_sql(vec_expr: str, R) -> str:
    """DuckDB expression for the rotated vector (y = x @ R): one
    explicit left-associative sum chain per output dimension (`a*r + b*r
    + ...` parses left-to-right), matching `opq_encode`'s
    per-input-dimension accumulation double-for-double. Plain arithmetic
    on purpose — a nested list_transform over an inline dim² literal
    re-materializes the constant per lambda call in DuckDB and is
    pathologically slow; dim² explicit terms vectorize. Wrap the CTE
    that computes this AS MATERIALIZED when the rotated column is
    referenced many times downstream (the ADC encode chains reference
    each element repeatedly)."""
    dim = len(R)
    outs = []
    for i in range(dim):
        chain = " + ".join(
            f"CAST({vec_expr}[{j + 1}] AS DOUBLE) * {float(R[j][i])!r}"
            for j in range(dim)
        )
        outs.append(f"({chain})")
    return "[" + ", ".join(outs) + "]"


def _l2_chain_sql(vec_expr: str, offset: int, cent) -> str:
    """Left-deep squared-L2 chain between vec[offset+1..] and a constant
    subvector — the same order numpy's per-dimension loop and the l2_sq
    fold accumulate in."""
    terms = []
    for i, c in enumerate(cent):
        e = f"(CAST({vec_expr}[{offset + i + 1}] AS DOUBLE) - {float(c)!r})"
        terms.append(f"{e} * {e}")
    return "(" + " + ".join(terms) + ")"


def pq_codes_sql(books, vec_expr: str = "embedding") -> str:
    """DuckDB expression for the PQ code list of `vec_expr` (0-based
    codes; list_position's first-minimum tie-break matches np.argmin)."""
    parts = []
    m = len(books)
    dsub = len(books[0][0])
    for j in range(m):
        dlist = ", ".join(
            _l2_chain_sql(vec_expr, j * dsub, cent) for cent in books[j]
        )
        parts.append(f"(list_position([{dlist}], list_min([{dlist}])) - 1)")
    return "[" + ", ".join(parts) + "]"


def _adc_cte_sql(books, luts, table: str, id_col: str, vec_expr: str) -> str:
    """Shared WITH-fragment: encode the corpus + score every (query,
    code-row) pair by ADC. LUT literals must be CAST AS DOUBLE: DuckDB
    types a bare decimal literal as DECIMAL, and with no DOUBLE column
    in the VALUES row to force coercion the ADC sum would run (and
    format) in decimal arithmetic."""
    m = len(books)
    lut_rows = ", ".join(
        "({}, [{}])".format(
            int(qid),
            ", ".join(
                "["
                + ", ".join(
                    f"CAST({float(v)!r} AS DOUBLE)" for v in row
                )
                + "]"
                for row in lut
            ),
        )
        for qid, lut in luts
    )
    return f"""
        code_rows AS (
            SELECT {id_col}, {pq_codes_sql(books, vec_expr)} AS codes
            FROM {table}
        ),
        luts(query_id, lut) AS (VALUES {lut_rows}),
        scored AS (
            SELECT CAST(query_id AS BIGINT) AS query_id, {id_col},
                   list_sum(list_transform(range(1, {m + 1}),
                            j -> lut[j][codes[j] + 1])) AS dist
            FROM code_rows CROSS JOIN luts
        )"""


def pq_adc_oracle_sql(
    books,
    luts,
    k: int = 5,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_expr: str = "embedding",
    prelude: str = "",
) -> str:
    """DuckDB twin of pq_encode + pq_adc_topk_all: re-encodes the corpus
    with the same codebook arithmetic, embeds the same Python-computed
    LUT literals, folds lookups with list_sum (sequential, matching
    F.aggregate), and takes the same (dist, vec_id) top-k. `prelude`
    prepends extra CTEs (e.g. the OPQ-rotated corpus) — must end with
    a comma when non-empty."""
    return f"""
        WITH {prelude}{_adc_cte_sql(books, luts, table, id_col, vec_expr)}
        SELECT query_id, {id_col}, round(dist, 6) AS dist FROM scored
        QUALIFY row_number() OVER (
            PARTITION BY query_id ORDER BY dist, {id_col}
        ) <= {k}
    """


def pq_rerank_oracle_sql(
    books,
    luts,
    queries,
    r: int = 20,
    k: int = 5,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_expr: str = "embedding",
) -> str:
    """DuckDB twin of the production two-stage search (pq_adc_topk_all
    at k=r, then pq_rerank): ADC shortlist per query, then exact
    squared L2 against the float table for the shortlist only, same
    (dist, vec_id) ordering at both stages. The exact stage's
    list-folded sum matches l2_sq_const's left-to-right scalar chain."""
    dim = len(queries[0][1])
    qrows = ", ".join(
        "({}, [{}])".format(
            int(qid),
            ", ".join(f"CAST({float(v)!r} AS DOUBLE)" for v in vec),
        )
        for qid, vec in queries
    )
    t = f"(CAST(e.{vec_expr}[i] AS DOUBLE) - q.qvec[i])"
    exact_d = (
        f"list_sum(list_transform(range(1, {dim + 1}), i -> {t} * {t}))"
    )
    return f"""
        WITH {_adc_cte_sql(books, luts, table, id_col, vec_expr)},
        shortlist AS (
            SELECT query_id, {id_col} FROM scored
            QUALIFY row_number() OVER (
                PARTITION BY query_id ORDER BY dist, {id_col}
            ) <= {r}
        ),
        qvecs(query_id, qvec) AS (VALUES {qrows}),
        exact AS (
            SELECT s.query_id, s.{id_col}, {exact_d} AS dist
            FROM shortlist s
            JOIN {table} e ON s.{id_col} = e.{id_col}
            JOIN qvecs q ON s.query_id = CAST(q.query_id AS BIGINT)
        )
        SELECT query_id, {id_col}, round(dist, 6) AS dist FROM exact
        QUALIFY row_number() OVER (
            PARTITION BY query_id ORDER BY dist, {id_col}
        ) <= {k}
    """


def ivfpq_oracle_sql(
    coarse,
    books,
    luts,
    k: int = 5,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_expr: str = "embedding",
) -> str:
    """DuckDB twin of ivfpq_encode + ivfpq_adc_topk_all: coarse argmin
    (ties to the lowest list_id, like np.argmin / array_position),
    residual against the winning centroid, PQ codes of the residual
    (same left-to-right chains), then ADC over the SAME Python-computed
    per-(query, cell) LUT literals with an equi-join on list_id — so
    unprobed cells are excluded exactly like the Spark plan."""
    dim = len(coarse[0])
    m = len(books)
    cent_rows = ",\n                   ".join(
        "({}, [{}]::DOUBLE[])".format(
            i, ", ".join(repr(float(x)) for x in c)
        )
        for i, c in enumerate(coarse)
    )
    t_assign = f"(CAST(e.{vec_expr}[i] AS DOUBLE) - c.centroid[i])"
    d_assign = (
        f"list_sum(list_transform(range(1, {dim + 1}), i -> {t_assign} * {t_assign}))"
    )
    lut_rows = ",\n                   ".join(
        "({}, {}, [{}])".format(
            int(q),
            int(cell),
            ", ".join(
                "["
                + ", ".join(f"CAST({float(v)!r} AS DOUBLE)" for v in row)
                + "]"
                for row in lut
            ),
        )
        for q, cell, lut in luts
    )
    return f"""
        WITH cents(list_id, centroid) AS (
            VALUES {cent_rows}
        ),
        assign AS (
            SELECT e.{id_col}, e.{vec_expr}, c.list_id, c.centroid
            FROM {table} e CROSS JOIN cents c
            QUALIFY row_number() OVER (
                PARTITION BY e.{id_col} ORDER BY {d_assign}, c.list_id
            ) = 1
        ),
        resid AS (
            SELECT {id_col}, list_id,
                   list_transform(range(1, {dim + 1}),
                       i -> CAST({vec_expr}[i] AS DOUBLE) - centroid[i]) AS r
            FROM assign
        ),
        code_rows AS (
            SELECT {id_col}, list_id, {pq_codes_sql(books, 'r')} AS codes
            FROM resid
        ),
        luts(query_id, list_id, lut) AS (
            VALUES {lut_rows}
        ),
        scored AS (
            SELECT CAST(l.query_id AS BIGINT) AS query_id, c.{id_col},
                   list_sum(list_transform(range(1, {m + 1}),
                            j -> lut[j][codes[j] + 1])) AS dist
            FROM code_rows c JOIN luts l ON c.list_id = l.list_id
        )
        SELECT query_id, {id_col}, round(dist, 6) AS dist FROM scored
        QUALIFY row_number() OVER (
            PARTITION BY query_id ORDER BY dist, {id_col}
        ) <= {k}
    """


# ---------------------------------------------------------------------------
# Persistence: the compressed index on disk
# ---------------------------------------------------------------------------


def ivfpq_save(postings: DataFrame, coarse, books, path: str) -> None:
    """Persist the compressed index: `<path>/coarse/` and
    `<path>/books/` (tiny parquet — the whole quantizer is KBs), and
    `<path>/postings/` partitioned by list_id — the same inverted-list
    directory layout as the float index (operators/ivf.py::ivf_save),
    with the same repartition-before-write file-count bound, but m
    bytes of codes per vector instead of dim*4 of floats. A probe then
    reads only nprobe directories of already-compressed codes."""
    import os as _os

    from vector_search_test_spark.operators.ivf import (
        write_centroid_table,
        write_partitioned_postings,
    )

    spark = postings.sparkSession
    write_centroid_table(spark, coarse, _os.path.join(path, "coarse"))
    # single-slice local relation, not coalesce(1): see
    # ivf.py::write_centroid_table — coalesce over a parallelized
    # collection fetches every slice from the driver serially (~5 s)
    book_rows = [
        (j, c, cent)
        for j, book in enumerate(books)
        for c, cent in enumerate(book)
    ]
    spark.createDataFrame(
        spark.sparkContext.parallelize(book_rows, 1),
        "sub int, code int, centroid array<float>",
    ).write.mode("overwrite").parquet(_os.path.join(path, "books"))
    write_partitioned_postings(
        postings, _os.path.join(path, "postings"), nlist=len(coarse)
    )


def ivfpq_load(spark, path: str, id_col: str = "vec_id"):
    """Load a saved compressed index: (postings, coarse, books). Pure
    IO — nothing is re-encoded; the partitioned postings scan prunes to
    the probed list_id directories (pinned in tests/test_pq.py).
    `id_col` must match the column the index was ENCODED with
    (ivfpq_encode's id_col) — save/load honor the same column contract
    as encode/search (ADVICE r6)."""
    import os as _os

    from vector_search_test_spark.operators.ivf import read_centroid_table

    coarse = read_centroid_table(spark, _os.path.join(path, "coarse"))
    book_rows = spark.read.parquet(_os.path.join(path, "books")).orderBy(
        "sub", "code"
    ).collect()
    m = max(r.sub for r in book_rows) + 1
    books = [[] for _ in range(m)]
    for r in book_rows:
        books[r.sub].append([float(x) for x in r.centroid])
    postings = spark.read.parquet(_os.path.join(path, "postings")).select(
        F.col("list_id").cast("int").alias("list_id"), id_col, "codes"
    )
    return postings, coarse, books
