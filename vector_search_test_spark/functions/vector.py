"""Vector math as native columnar expressions (SURVEY §2.3 F2).

The reference computes squared L2 inside faiss's C++ kernels
(METRIC_L2 chosen at reference app.py:47-48; faiss METRIC_L2 returns
*squared* Euclidean — SURVEY §2.9 Q2). Here each distance is a Catalyst
`aggregate(zip_with(...))` expression: it runs inside whole-stage codegen
on the JVM, vectorizes over Parquet column batches, and never crosses into
Python. No sqrt is taken for l2_sq so distances and θ-filters match the
reference's semantics bit-for-bit.

Precision contract (shared with the DuckDB oracle): elements are stored
float32, every arithmetic step is performed in float64 after casting each
element, and the fold is a sequential left-to-right sum — the same order
DuckDB's list_sum uses — so Spark and the oracle produce identical doubles.
The numpy kernels (IVF assign/probe, PQ/OPQ/IVF-PQ/RQ encode and training,
the exact kNN scan) keep it through `_sq_dists` (and, for cosine, `_dots`
and `_norms`): one vectorized add per dimension, left to right — never a
matmul, whose pairwise summation differs in the last ulp. Their Arrow
boundary reads vectors through `_vector_rows` and, for the (id, vector)
-> codes/projection encoders, `_encode_vectors`.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


# PLAN-CONSTRUCTION cost note (r13, the root cause of the r11->r12
# "drift-band upticks" on the quantized search entries): building
# literal-heavy expressions one `F.lit()`/operator call at a time costs
# one py4j round-trip PER CALL on the driver — an 8x64 centroid matrix
# was ~1.06 s of pure driver time per invocation, a 64-term unrolled
# distance ~0.25 s — re-paid on every entry invocation and sensitive to
# host CPU steal (which is why the affected entries drifted without any
# code change). The builders below render the identical expression as
# ONE SQL string and make a single `F.expr()` call (~1 ms): same parsed
# expression nodes (Literal/Cast/GetArrayItem/left-assoc Add), verified
# bit-identical results. `repr(float)` is the shortest round-trip
# decimal, so Java's Double.parseDouble reconstructs the exact same
# IEEE-754 double the old `F.lit(float(x))` literal carried.


def _sql_ident(name: str) -> str:
    """Quote a column REFERENCE for embedding in an F.expr string with
    the same resolution F.col(name) gives: dots are path separators
    (struct fields / qualified names — `a.b` must resolve, not become
    one literal identifier), each path segment backquoted. A name that
    arrives ALREADY backquoted (starts and ends with a backquote —
    F.col's own convention for flat columns whose names contain a
    literal dot, e.g. "`a.b`" or "`q`.`v`") is passed through verbatim
    instead of being re-split, so the caller's quoting survives
    (r13 ADVICE: splitting inside the quotes rendered a malformed
    identifier). Flat columns with literal dots must therefore be
    passed pre-quoted, exactly as F.col requires."""
    if name.startswith("`") and name.endswith("`") and len(name) >= 2:
        return name
    return ".".join(
        "`" + part.replace("`", "``") + "`" for part in name.split(".")
    )


def _all_finite(vals: "list[float]") -> bool:
    return all(math.isfinite(v) for v in vals)


def const_double_array(values) -> Column:
    """array<double> literal in ONE py4j call; per-element fallback for
    empty input or non-finite values (which have no SQL literal)."""
    vals = [float(v) for v in values]
    if vals and _all_finite(vals):
        return F.expr("array(" + ",".join(f"{v!r}D" for v in vals) + ")")
    return F.array(*[F.lit(v) for v in vals])


def const_float_array(values) -> Column:
    """array<float> literal in ONE py4j call (double literal cast to
    float, exactly like `F.lit(x).cast('float')`); same fallback."""
    vals = [float(v) for v in values]
    if vals and _all_finite(vals):
        return F.expr(
            "array(" + ",".join(f"CAST({v!r}D AS FLOAT)" for v in vals) + ")"
        )
    return F.array(*[F.lit(v).cast("float") for v in vals])


# Unrolled distance expressions beat the HOF fold ONLY while the fused
# whole-stage-codegen method still fits HotSpot's JIT budget (-XX:
# HugeMethodLimit, 8000 bytecodes; each term costs ~70 with array access
# + null checks). Measured steady-state on the broadcast self-kNN join,
# 4M pairs / 32 threads: dim=64 unrolled 1.25 s vs HOF 1.66 s; dim=128
# unrolled 7.9 s (method too big -> interpreted) vs HOF 2.85 s; dim=256
# 12 s vs 5.4 s. Past ~384 terms the left-deep sum additionally
# overflows the plan-conversion stack. Callers must fall back to the
# HOF form above this cap — identical doubles either way.
UNROLL_MAX_TERMS = 96


def l2_sq(a: Column | str, b: Column | str) -> Column:
    """Squared Euclidean distance between two array<float> columns.

    Reference: faiss METRIC_L2 (app.py:47-48, app.py:70).

    NB: higher-order functions (zip_with/aggregate) are CodegenFallback in
    Spark — interpreted, boxed per element (~8-13 us/pair at dim 64-256).
    For bulk scoring at dim <= UNROLL_MAX_TERMS use `l2_sq_unrolled` /
    `l2_sq_const` (~1 us/pair while the generated method JITs), which
    produce identical doubles (same left-to-right summation order).
    """
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    diffsq = F.zip_with(
        a, b, lambda x, y: (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))
    )
    return F.aggregate(diffsq, F.lit(0.0), lambda acc, v: acc + v)


def l2_sq_unrolled(a: Column | str, b: Column | str, dim: int) -> Column:
    """`l2_sq` unrolled to a static expression tree of GetArrayItem terms.

    Stays inside whole-stage codegen (no lambda functions), summing terms
    left-to-right exactly like the fold in `l2_sq` and DuckDB's list_sum,
    so the resulting doubles are bit-identical. Requires both arrays to
    have exactly `dim` elements (shorter arrays would yield NULL terms).
    Only profitable while dim <= UNROLL_MAX_TERMS (see note above).

    Pass plain column NAMES for the one-py4j-call construction path
    (see the plan-construction note at the top of this module); Column
    inputs take the per-element path with identical semantics.
    """
    assert dim > 0
    if isinstance(a, str) and isinstance(b, str):
        ia, ib = _sql_ident(a), _sql_ident(b)
        terms = " + ".join(
            f"(CAST({ia}[{i}] AS DOUBLE) - CAST({ib}[{i}] AS DOUBLE))"
            f" * (CAST({ia}[{i}] AS DOUBLE) - CAST({ib}[{i}] AS DOUBLE))"
            for i in range(dim)
        )
        return F.expr(terms)
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    expr: Column | None = None
    for i in range(dim):
        t = a[i].cast("double") - b[i].cast("double")
        sq = t * t
        expr = sq if expr is None else expr + sq
    assert expr is not None
    return expr


def l2_sq_const(vec: Column | str, const: list[float]) -> Column:
    """`l2_sq` against a driver-side constant vector, unrolled to scalar
    literals — the fastest form for query-vector and centroid distances
    (pure codegen arithmetic, no array literal at all).

    Pass a plain column NAME for the one-py4j-call construction path
    (see the plan-construction note at the top of this module)."""
    vals = [float(c) for c in const]
    assert vals
    if isinstance(vec, str) and _all_finite(vals):
        iv = _sql_ident(vec)
        terms = " + ".join(
            f"(CAST({iv}[{i}] AS DOUBLE) - {c!r}D)"
            f" * (CAST({iv}[{i}] AS DOUBLE) - {c!r}D)"
            for i, c in enumerate(vals)
        )
        return F.expr(terms)
    vec = F.col(vec) if isinstance(vec, str) else vec
    expr: Column | None = None
    for i, c in enumerate(vals):
        t = vec[i].cast("double") - F.lit(c)
        sq = t * t
        expr = sq if expr is None else expr + sq
    assert expr is not None
    return expr


def l2_sq_segments(
    a: str, b: str, cuts: "tuple[int, ...]"
) -> "list[Column]":
    """Per-SEGMENT squared-L2 partial sums for prefix-dimension scoring:
    one Column per consecutive (cuts[j-1], cuts[j]] dimension slice,
    each a parenthesized left-associative term chain built as ONE
    F.expr call (see the plan-construction note at the top of this
    module). Cut j's full prefix distance is the left-associative sum
    of segments 0..j — assemble it with `prefix_sum_array` IN A
    SEPARATE select from the one that computes these segments: the
    segments then reach downstream operators (posexplode's Generate in
    particular) as bound column references instead of inlined
    arithmetic. The previous single-expression form re-inlined every
    segment chain into each array entry (120 terms for cuts
    8/16/32/64), and a consuming Generate node — which cannot split
    its doConsume method the way Project can — blew janino's 64 KB
    method limit and silently fell back to interpreted execution
    (BENCH_r13's stderr trace; root-caused r14). Split this way every
    generated method stays far under the limit.

    NOTE the per-segment grouping differs from l2_sq_unrolled's flat
    chain, so the largest cut's distance is NOT guaranteed
    bit-identical to l2_sq(a, b) — consumers' oracles must replay the
    identical segment grouping (mrl_recall_curve's does). Both inputs
    are column NAMES; arrays shorter than cuts[-1] yield NULL entries.
    """
    cuts = tuple(int(c) for c in cuts)
    assert cuts and all(c > 0 for c in cuts)
    assert all(x < y for x, y in zip(cuts, cuts[1:])), "cuts must ascend"
    ia, ib = _sql_ident(a), _sql_ident(b)
    segs = []
    lo = 0
    for hi in cuts:
        segs.append(
            F.expr(
                "("
                + " + ".join(
                    f"(CAST({ia}[{i}] AS DOUBLE) - CAST({ib}[{i}] AS DOUBLE))"
                    f" * (CAST({ia}[{i}] AS DOUBLE) - CAST({ib}[{i}] AS DOUBLE))"
                    for i in range(lo, hi)
                )
                + ")"
            )
        )
        lo = hi
    return segs


def prefix_sum_array(cols: "list[Column]") -> Column:
    """array<double> of left-associative running sums of `cols` —
    entry j = ((cols[0] + cols[1]) + ...) + cols[j], the exact
    association `l2_sq_segments` documents for prefix distances."""
    assert cols
    entries: "list[Column]" = []
    acc = cols[0]
    entries.append(acc)
    for c in cols[1:]:
        acc = acc + c
        entries.append(acc)
    return F.array(*entries)


def dot(a: Column | str, b: Column | str) -> Column:
    """Inner product of two array<float> columns (double math)."""
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def dot_unrolled(a: str, b: str, dim: int) -> Column:
    """`dot` unrolled to ONE parsed expression string of GetArrayItem
    products — whole-stage-codegen instead of the interpreted HOF fold
    (same envelope as l2_sq_unrolled: profitable while
    dim <= UNROLL_MAX_TERMS).

    Bit-identical doubles to `dot` when both arrays have exactly `dim`
    elements: the chain leads with an explicit 0.0D seed, so the
    summation is ((0.0 + p0) + p1) + ... — exactly the fold's
    association, including the sign of a -0.0 first product (l2_sq's
    squared terms can never be -0.0, which is why ITS unrolled form may
    omit the seed; products can). Arrays shorter than `dim` are an
    ERROR surface, not a silent partial sum: out-of-range GetArrayItem
    raises INVALID_ARRAY_INDEX under ANSI mode (Spark 4 default) and
    yields a NULL sum in non-ANSI sessions — callers must guarantee
    exact-width arrays, as late_interaction's fixed-width token encoder
    does. Both inputs are column NAMES (the one-py4j-call construction
    path)."""
    assert dim > 0
    ia, ib = _sql_ident(a), _sql_ident(b)
    terms = " + ".join(
        f"(CAST({ia}[{i}] AS DOUBLE) * CAST({ib}[{i}] AS DOUBLE))"
        for i in range(dim)
    )
    return F.expr("0.0D + " + terms)


def l2_norm(a: Column | str) -> Column:
    """Euclidean norm of an array<float> column (double math)."""
    a = F.col(a) if isinstance(a, str) else a
    sq = F.transform(a, lambda x: x.cast("double") * x.cast("double"))
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, v: acc + v))


def cosine_sim(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity = dot(a,b) / (|a| * |b|)."""
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _sq_dists(X, C):
    """n x k float64 block of squared L2 from each row of X to each row
    of C: the precision contract in numpy (`acc += t * t` over the
    dimensions in order), so every entry is the double the l2_sq fold
    and DuckDB's list_sum produce."""
    import numpy as np

    acc = np.zeros((len(X), len(C)))
    for i in range(X.shape[1]):
        t = X[:, i, None] - C[:, i]
        acc += t * t
    return acc


def _dots(X, C):
    """n x k float64 block of inner products of each row of X with each
    row of C in the `dot` fold's order, ((0 + x0*c0) + x1*c1) + ...:
    one vectorized add per dimension, like `_sq_dists`."""
    import numpy as np

    acc = np.zeros((len(X), len(C)))
    for i in range(X.shape[1]):
        acc += X[:, i, None] * C[:, i]
    return acc


def _norms(X):
    """Per-row Euclidean norms in `l2_norm`'s order: the square root of
    the in-order float64 sum of squares."""
    import numpy as np

    acc = np.zeros(len(X))
    for i in range(X.shape[1]):
        acc += X[:, i] * X[:, i]
    return np.sqrt(acc)


def _vector_rows(vecs, dim: int):
    """(ok, X) for a pandas Series of Arrow array values: `ok` marks the
    rows whose distance is defined — not NULL, exactly `dim` elements,
    no NULL or NaN element — and X holds those rows as a float64
    matrix. The one edge rule of every vector kernel."""
    import numpy as np

    ok = np.fromiter(
        (v is not None and len(v) == dim for v in vecs), bool, len(vecs)
    )
    X = np.array(vecs[ok].tolist(), dtype=np.float64).reshape(-1, dim)
    finite = ~np.isnan(X).any(axis=1)
    ok[ok] = finite
    return ok, X[finite]


def _common_width_rows(vecs):
    """`_vector_rows` over a list of driver-side vectors, against the
    width most non-NULL vectors share (ties go to the wider): the edge
    rule for a vector set collected to the driver, where no other
    width is given. No non-NULL vector: nothing is valid."""
    from collections import Counter

    import numpy as np
    import pandas as pd

    widths = Counter(len(v) for v in vecs if v is not None)
    if not widths:
        return np.zeros(len(vecs), dtype=bool), np.empty((0, 0))
    dim = max(widths, key=lambda n: (widths[n], n))
    return _vector_rows(pd.Series(vecs, dtype=object), dim)


def _encode_vectors(df, id_col: str, vec_col: str, dim: int, fields, encode):
    """`df`'s (id_col, vec_col) rows through `encode` in one scan-only
    Arrow kernel (`mapInPandas`): the frame every vector encoder shares.

    `encode(ids, X)` maps a batch's ids (a pandas Series) and vectors
    (float32 values widened to a float64 n x dim matrix) to a dict of
    the output columns named by `fields`. A vector `_vector_rows`
    rejects emits no row, so it is never a search result; a batch with
    no valid vector emits nothing."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import StructType

    def kernel(batches):
        for pdf in batches:
            ok, X = _vector_rows(pdf[vec_col], dim)
            if len(X):
                # float32 storage precision, also for an array<double> column
                X = X.astype(np.float32).astype(np.float64)
                yield pd.DataFrame(encode(pdf[id_col][ok], X))

    return df.select(id_col, vec_col).mapInPandas(kernel, StructType(fields))
