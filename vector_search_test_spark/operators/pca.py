"""PCA dimensionality reduction for embedding columns.

The standard pre-ANN transform the reference lacks entirely (its faiss
index consumes raw SentenceTransformer vectors, app.py:50-55): project
dim-D float vectors onto the top-k principal components, cutting scan
bytes and distance cost by dim/k while keeping most of the variance —
the usual first rung before the quantization ladder (PQ/SQ8/binary in
operators/pq.py, sq.py).

Scale design mirrors OPQ (pq.py:414): the trainer is driver-side on the
same bounded-subsample contract as every codebook trainer (the mean +
component matrix is dim*k floats — KBs), and the projection is ONE
scan-only Arrow pass with the matrix riding the task closure. No
shuffle, no UDF-per-row; output is k doubles per vector.

Determinism contract (the oracle-parity argument of pq.py): the trained
artifacts are float32-rounded; projection accumulates per INPUT
dimension left-to-right in float64, bit-identical to the explicit
left-associative sum chain `(x1-m1)*w1 + (x2-m2)*w2 + ...` the DuckDB
twin evaluates. Eigenvector sign is pinned (largest-|component| entry
made positive) so the artifact itself is reproducible run-to-run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from vector_search_test_spark.functions.vector import _encode_vectors


def train_pca_numpy(X, out_dim: int):
    """Driver-side exact PCA on a bounded sample: mean-center, eigh of
    the scatter matrix, top `out_dim` components by eigenvalue (ties →
    lower input index via stable argsort), sign-pinned. Returns
    (mean, W) with mean a [dim] list and W a [dim][out_dim] row-major
    list (y = (x - mean) @ W), both float32-rounded like every stored
    artifact."""
    import numpy as np

    X = np.asarray(X, dtype=np.float64)
    n, dim = X.shape
    if not 1 <= out_dim <= dim:
        raise ValueError(f"out_dim must be in [1, {dim}], got {out_dim}")
    mean = X.mean(axis=0)
    Xc = X - mean
    evals, evecs = np.linalg.eigh(Xc.T @ Xc)
    order = np.argsort(evals, kind="stable")[::-1][:out_dim]
    W = evecs[:, order]
    for k in range(W.shape[1]):  # pin the sign ambiguity of eigh
        i = int(np.argmax(np.abs(W[:, k])))
        if W[i, k] < 0:
            W[:, k] = -W[:, k]
    mean32 = [float(np.float32(v)) for v in mean]
    W32 = [[float(np.float32(v)) for v in row] for row in W]
    return mean32, W32


def pca_project(
    df: DataFrame,
    mean,
    W,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "proj",
) -> DataFrame:
    """Scan-only Arrow projection y = (x - mean) @ W (`_encode_vectors`),
    accumulated per input dimension left-to-right (the SQL-twin order).
    Output: (id_col, out_col: array<double>[out_dim]); a NULL,
    wrong-length or NaN-holding vector emits no row."""
    import numpy as np

    Wm = np.array(W, dtype=np.float64)
    mv = np.array(mean, dtype=np.float64)
    dim = Wm.shape[0]
    fields = [
        df.schema[id_col],
        T.StructField(out_col, T.ArrayType(T.DoubleType(), False), False),
    ]

    def project(ids, X):
        Y = np.zeros((len(X), Wm.shape[1]), dtype=np.float64)
        for j in range(dim):  # left-to-right over input dims
            Y += (X[:, j : j + 1] - mv[j]) * Wm[j, :][None, :]
        return {id_col: ids, out_col: list(Y)}

    return _encode_vectors(df, id_col, vec_col, dim, fields, project)


def pca_project_py(vec, mean, W):
    """Python twin of one row's projection (same accumulation order) —
    for driver-side query artifacts and tests."""
    dim = len(W)
    out_dim = len(W[0])
    acc = [0.0] * out_dim
    for j in range(dim):
        xj = float(vec[j]) - mean[j]
        row = W[j]
        for i in range(out_dim):
            acc[i] = acc[i] + xj * row[i]
    return acc


def pca_project_sql(vec_expr: str, mean, W) -> list[str]:
    """DuckDB twin: one explicit left-associative sum chain per output
    dimension (`(x1-m1)*w + (x2-m2)*w + ...`), double math over the
    same float32-rounded artifacts — bit-identical to `pca_project`
    (the rotate_sql parity argument, pq.py:542). Returns out_dim
    expressions; indexes into `vec_expr` are 1-based."""
    dim = len(W)
    out_dim = len(W[0])
    exprs = []
    for i in range(out_dim):
        terms = " + ".join(
            f"({vec_expr}[{j + 1}]::DOUBLE - {mean[j]!r}) * {W[j][i]!r}"
            for j in range(dim)
        )
        exprs.append(f"({terms})")
    return exprs
