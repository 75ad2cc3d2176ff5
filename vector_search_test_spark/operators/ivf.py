"""IVF (inverted-file) vector index — the reference's core data structure.

Reference semantics (app.py:47-75): `IndexFlatL2` coarse quantizer +
`IndexIVFFlat` — k-means picks `nlist` centroids (app.py:52 `index.train`),
every vector is appended to its nearest centroid's inverted list
(app.py:55 `index.add`), and a search ranks cells by query->centroid
distance, scans the `nprobe` closest lists, and heap-selects the k nearest
by squared L2 (app.py:69-70).

Spark-first mapping (SURVEY §2.4/§2.5, §4 X1/X2):

- train (I1): MLlib KMeans with a pinned seed; the centroid set is tiny
  (nlist rows) and is kept as a driver-side list + a `centroids` table.
- add (I2): cell assignment is an argmin over the centroid set embedded as
  a *literal* array-of-arrays column — a single projection: no join, no
  shuffle, no Python (the reference caps nlist at 10, app.py:220; the
  distances use the HOF fold, not unrolled codegen — see _centroid_dists
  for the measured JIT-limit rationale). Past _MAX_LITERAL_TERMS,
  `assign_cells` switches to an Arrow-batched numpy argmin with the
  matrix in a SparkContext broadcast, and `probe_cells` to the one-row
  centroid broadcast (`pack_centroids`): both shuffle-free, with a
  kilobyte plan at nlist ~ 1e5 instead of a megabyte literal tree.
- layout (X1): postings are written `partitionBy("list_id")`, so a probe
  filter `list_id IN (...)` is *static partition pruning* — only
  nprobe/nlist of the files are ever read, the Spark replay of faiss
  scanning only the probed inverted lists.
- search (Q2): rank cells driver-side over the tiny centroid list (same
  O(nlist) work faiss does in the quantizer), prune postings, exact
  squared-L2, `orderBy(dist).limit(k)` -> TakeOrderedAndProject.
- batched search (Q3): per-query probe sets computed natively
  (sort a zipped (dist, cell) array, slice nprobe, explode), equi-join
  against postings on `list_id` (AQE skew-join splits hot cells), then a
  per-query window top-k (WindowGroupLimit cuts each partition to k rows
  per query before the shuffle).

With nprobe = nlist every cell is scanned, so results match the exact
brute-force path bit-for-bit — that is the correctness gate; recall at
nprobe < nlist is pinned by tests (SURVEY §5.2).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from vector_search_test_spark.functions.vector import (
    UNROLL_MAX_TERMS,
    const_float_array,
    l2_sq,
    l2_sq_const,
    l2_sq_unrolled,
)

DEFAULT_SEED = 42

# Above this many literal cells (nlist * dim) the centroid matrix stops
# riding the plan as a literal array (assignment moves to the Arrow
# kernel, probing to the one-row `pack_centroids` broadcast): a 1e5 x 64
# literal is megabytes of plan tree per query — serialization, analysis,
# and UI all choke on it.
_MAX_LITERAL_TERMS = 16384


def _centroid_literal(centroids: list[list[float]]) -> Column:
    """The centroid matrix as a literal array<array<float>> column.

    Built as ONE F.expr call, not nlist*dim F.lit().cast() calls: the
    per-element form cost ~1.06 s of driver-side py4j round-trips per
    invocation at nlist=8 x dim=64 — the root cause of the r11->r12
    drift on the quantized-search entries (every assign/probe pays
    plan construction) — vs ~1 ms for the parsed string. Identical
    expression nodes and bit-identical values (see the
    plan-construction note in functions/vector.py)."""
    import math

    flat = [float(x) for c in centroids for x in c]
    if flat and all(math.isfinite(x) for x in flat):
        return F.expr(
            "array("
            + ",".join(
                "array("
                + ",".join(f"CAST({float(x)!r}D AS FLOAT)" for x in c)
                + ")"
                for c in centroids
            )
            + ")"
        )
    return F.array(
        *[
            F.array(*[F.lit(float(x)).cast("float") for x in c])
            for c in centroids
        ]
    )


def centroids_df(spark: SparkSession, centroids: list[list[float]]) -> DataFrame:
    """The centroid set as a (list_id int, centroid array<float>) table —
    the same layout ivf_save persists, and the input `pack_centroids`
    expects for the broadcast probe path."""
    rows = [(i, [float(x) for x in c]) for i, c in enumerate(centroids)]
    return spark.createDataFrame(rows, "list_id int, centroid array<float>")


def pack_centroids(cents: DataFrame) -> DataFrame:
    """Collapse a centroid table into ONE row holding the whole matrix as
    `__cents: array<array<float>>`, ordered by list_id.

    This is probe_cells' scale path for large nlist (SURVEY §4 X2):
    instead of embedding nlist*dim literals into every plan (a
    plan-serialization death at nlist ~ 1e4-1e5), the matrix rides a
    one-row broadcast —
    `df.crossJoin(broadcast(packed))` is a BroadcastNestedLoopJoin that
    adds one array column to every row with no shuffle and no literal
    blow-up, and the probe-ranking expressions evaluate against it exactly
    as they do against the literal form. array_sort on (list_id, centroid)
    structs pins the order (collect_list alone is partition-order
    nondeterministic), so cell ids mean the same thing on every path.
    """
    return cents.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("list_id", "centroid"))),
            lambda s: s["centroid"],
        ).alias("__cents")
    )


def _with_packed(df: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """df + the broadcast `__cents` matrix column (one-row BNLJ)."""
    packed = pack_centroids(centroids_df(df.sparkSession, centroids))
    return df.crossJoin(F.broadcast(packed))


def _fits_literal(centroids: list[list[float]]) -> bool:
    """True when the centroid matrix is small enough to ride the plan as
    a literal (nlist * dim <= _MAX_LITERAL_TERMS)."""
    dim = len(centroids[0]) if centroids else 0
    return len(centroids) * dim <= _MAX_LITERAL_TERMS


def _centroid_dists(vec: Column, centroids: list[list[float]]) -> Column:
    """array<double> of distances to every centroid, via the HOF fold.

    Deliberately NOT the unrolled scalar form: fusing nlist unrolled
    distances into one projection emits a generated method of
    ~nlist*dim*20 bytecodes; past HotSpot's JIT limit (8000 bytecodes,
    ~25 terms/centroid at dim 64) the whole method runs interpreted and
    loses to the HOF loop. Measured at 2M rows x (nlist=8, dim=64):
    unrolled 12-14 s, HOF-over-literal 5.0 s, HOF-over-broadcast 4.7 s.
    Single-pair distances (one query vector, 64 terms) still unroll —
    see l2_sq_const call sites in knn.py / ivf_search — that method
    stays under the JIT limit and measured ~6x faster than the fold.
    Both forms sum identically (left-to-right), so values never differ.
    """
    return F.transform(_centroid_literal(centroids), lambda c: l2_sq(c, vec))


# faiss trains its coarse quantizer on a SUBSAMPLE of the corpus —
# by default at most 256 points per centroid (faiss
# Clustering::max_points_per_centroid) — because k-means quality
# saturates long before the full corpus is seen. The same policy here
# makes training cost O(nlist), not O(N): at 100 TB the train set is
# nlist*256 rows regardless of corpus size.
MAX_POINTS_PER_CENTROID = 256

# Small training sets run Lloyd's directly on the driver with numpy:
# MLlib KMeans costs ~40 scheduler round-trips (k-means|| init passes +
# one job per iteration), which dominates wall-clock when the sampled
# train set is a few thousand rows. Above these bounds (sample rows,
# assign-matrix cells) the distributed MLlib path takes over.
_MAX_DRIVER_TRAIN_ROWS = 65_536
_MAX_DRIVER_TRAIN_CELLS = 1 << 25


def _lloyd_numpy(
    X, k: int, seed: int, max_iter: int
) -> list[list[float]]:
    """Seeded k-means++ init + Lloyd's iterations, all in numpy.

    Same algorithm faiss/MLlib run, minus the scheduler: for a sampled
    train set this is a few ms of vectorized math. Duplicate-heavy inputs
    degrade gracefully — k-means++ stops early when every remaining point
    has distance 0 to a chosen center (fewer distinct points than k), so
    the degenerate corpora that crash MLlib's k-means|| kernel just yield
    fewer centers, like faiss.
    """
    import numpy as np

    rng = np.random.default_rng(seed)
    n = X.shape[0]
    sq = (X * X).sum(axis=1)
    centers = np.empty((k, X.shape[1]), dtype=np.float64)
    centers[0] = X[int(rng.integers(n))]
    d2 = np.maximum(sq + (centers[0] * centers[0]).sum() - 2.0 * (X @ centers[0]), 0.0)
    chosen = 1
    for i in range(1, k):
        tot = float(d2.sum())
        if tot <= 0.0:
            break  # fewer distinct points than k
        centers[i] = X[int(rng.choice(n, p=d2 / tot))]
        chosen = i + 1
        d2 = np.minimum(
            d2,
            np.maximum(sq + (centers[i] * centers[i]).sum() - 2.0 * (X @ centers[i]), 0.0),
        )
    centers = centers[:chosen]
    assign = None
    for _ in range(max_iter):
        # n x k distance matrix via the dot-product identity (never
        # materializes n x k x d); argmin per row assigns cells
        d = sq[:, None] + (centers * centers).sum(axis=1)[None, :] - 2.0 * (X @ centers.T)
        new_assign = d.argmin(axis=1)
        if assign is not None and np.array_equal(new_assign, assign):
            break
        assign = new_assign
        counts = np.bincount(assign, minlength=centers.shape[0]).astype(np.float64)
        sums = np.zeros_like(centers)
        np.add.at(sums, assign, X)
        nonempty = counts > 0
        centers[nonempty] = sums[nonempty] / counts[nonempty, None]
        if not nonempty.all():
            # faiss splits the biggest cluster into an empty slot; the
            # deterministic equivalent: move each empty center onto the
            # currently-worst-served point
            worst = np.argsort(-d[np.arange(n), assign])
            empty = np.flatnonzero(~nonempty)
            centers[empty] = X[worst[: empty.size]]
    return [[float(x) for x in c] for c in centers]


def _lloyd_numpy_multi(
    subs, k: int, seeds, max_iter: int
) -> "list[list[list[float]]]":
    """`_lloyd_numpy` over several same-shape sub-matrices (the PQ
    subspace loop) in ONE batched Lloyd driver loop — bit-identical per
    subspace, ~2x less Python/numpy call overhead (r17: the OPQ trainer
    ran 8 x 8 x 15 = 960 tiny Lloyd iterations; `np.add.at` calls alone
    were 0.23 s of its 0.86 s).

    Identity argument, op by op: the k-means++ seeding runs EXACTLY the
    per-subspace code (same rng object per seed, same draw sequence);
    per iteration each active subspace's distance matrix is its own
    `sq + c2 - 2 * (X @ centers.T)` dgemm (never a batched einsum,
    whose summation order differs); argmin over the same rows is
    value-equal; the center update concatenates the updating
    subspaces' rows so the single `np.add.at` accumulates each
    (subspace, center) bucket in the SAME row order as the
    per-subspace call; divisions and the empty-center repair run on
    per-subspace slices of identical values. Early convergence is a
    per-subspace `active` flag, so iteration counts match the
    sequential loop exactly. Degenerate inputs (fewer distinct points
    than k during seeding) fall back to the sequential form for ALL
    subspaces — the ragged center counts aren't worth batching.
    Equivalence is pytest-pinned (tests/test_pq.py)."""
    import numpy as np

    m = len(subs)
    n, dsub = subs[0].shape
    seeded = []
    for j in range(m):
        X = subs[j]
        rng = np.random.default_rng(seeds[j])
        sq = (X * X).sum(axis=1)
        centers = np.empty((k, dsub), dtype=np.float64)
        centers[0] = X[int(rng.integers(n))]
        d2 = np.maximum(
            sq + (centers[0] * centers[0]).sum() - 2.0 * (X @ centers[0]), 0.0
        )
        chosen = 1
        for i in range(1, k):
            tot = float(d2.sum())
            if tot <= 0.0:
                break
            centers[i] = X[int(rng.choice(n, p=d2 / tot))]
            chosen = i + 1
            d2 = np.minimum(
                d2,
                np.maximum(
                    sq
                    + (centers[i] * centers[i]).sum()
                    - 2.0 * (X @ centers[i]),
                    0.0,
                ),
            )
        if chosen < k:
            # degenerate corpus: keep the sequential form everywhere
            return [
                _lloyd_numpy(subs[jj], k, seeds[jj], max_iter)
                for jj in range(m)
            ]
        seeded.append((centers, sq))

    centers = [c for c, _ in seeded]
    sqs = [s for _, s in seeded]
    assign = [None] * m
    active = [True] * m
    d = [None] * m
    for _ in range(max_iter):
        upd = []
        for j in range(m):
            if not active[j]:
                continue
            d[j] = (
                sqs[j][:, None]
                + (centers[j] * centers[j]).sum(axis=1)[None, :]
                - 2.0 * (subs[j] @ centers[j].T)
            )
            na = d[j].argmin(axis=1)
            if assign[j] is not None and np.array_equal(na, assign[j]):
                active[j] = False
                continue
            assign[j] = na
            upd.append(j)
        if not upd:
            break
        rows = np.concatenate([subs[j] for j in upd], axis=0)
        keys = np.concatenate(
            [assign[j] + i * k for i, j in enumerate(upd)]
        )
        sums_all = np.zeros((len(upd) * k, dsub), dtype=np.float64)
        np.add.at(sums_all, keys, rows)
        counts_all = np.bincount(keys, minlength=len(upd) * k).astype(
            np.float64
        )
        for i, j in enumerate(upd):
            counts = counts_all[i * k : (i + 1) * k]
            sums = sums_all[i * k : (i + 1) * k]
            nonempty = counts > 0
            centers[j][nonempty] = sums[nonempty] / counts[nonempty, None]
            if not nonempty.all():
                worst = np.argsort(-d[j][np.arange(n), assign[j]])
                empty = np.flatnonzero(~nonempty)
                centers[j][empty] = subs[j][worst[: empty.size]]
    return [[[float(x) for x in c] for c in cs] for cs in centers]


def train_centroids(
    corpus: DataFrame,
    nlist: int,
    vec_col: str = "embedding",
    seed: int = DEFAULT_SEED,
    max_iter: int = 20,
    max_points_per_centroid: int = MAX_POINTS_PER_CENTROID,
) -> list[list[float]]:
    """I1 — k-means train (reference app.py:52), faiss-style.

    Returns the nlist centroids as plain Python lists (tiny: nlist x dim).
    Like faiss, training sees a deterministic subsample of at most
    `max_points_per_centroid * k` vectors (quantizer quality saturates
    there; cost becomes O(nlist) independent of corpus size). Small
    samples run seeded Lloyd's on the driver (pure numpy, no scheduler
    round-trips); large ones (big nlist at big scale) run distributed
    MLlib KMeans — only the centers ever come back to the driver.
    """
    cached = corpus.select(F.col(vec_col).alias("arr")).cache()
    n = cached.count()
    if n == 0:
        cached.unpersist()
        # mirror the reference's not-built guard (app.py:60-61) with a
        # clear error instead of a downstream argmin-over-empty crash
        raise ValueError("cannot train an IVF index on an empty corpus")

    def first_center() -> list[list[float]]:
        return [[float(x) for x in cached.limit(1).collect()[0].arr]]

    # faiss requires ntotal >= nlist to train; clamp instead: a corpus
    # smaller than nlist simply gets one cell per vector (searches stay
    # exact), and a single-row corpus IS its own centroid.
    k = max(1, min(nlist, n))
    try:
        if k < 2:
            return first_center()
        cap = max_points_per_centroid * k
        if n > cap:
            # deterministic hash sample (stable across partitionings and
            # retries, unlike rand()): keep ~1.2x the target so the
            # clamp below still has headroom, never fewer than ~cap/2
            den = 1_000_003
            num = max(1, min(den, int(den * 1.2 * cap / n)))
            train = cached.filter(F.pmod(F.hash("arr"), den) < num)
            expected = n * num / den
        else:
            train = cached
            expected = n
        if (
            expected <= _MAX_DRIVER_TRAIN_ROWS
            and expected * k <= _MAX_DRIVER_TRAIN_CELLS
        ):
            import numpy as np

            X = np.array(
                [r.arr for r in train.collect()], dtype=np.float64
            )
            if X.shape[0] == 0:
                # hash sampling can zero out a degenerate corpus where
                # every row shares one unlucky vector — fall back to a
                # plain prefix
                X = np.array(
                    [r.arr for r in cached.limit(cap).collect()],
                    dtype=np.float64,
                )
            return _lloyd_numpy(X, min(k, X.shape[0]), seed, max_iter)
        return _train_mllib(train, k, seed, max_iter, first_center)
    finally:
        cached.unpersist()


def _train_mllib(
    train: DataFrame, k: int, seed: int, max_iter: int, first_center
) -> list[list[float]]:
    """Distributed KMeans for train sets too big for the driver."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # KMeans makes ~maxIter + k-means|| init passes over the input; cache
    # it once, and size the partitioning to the data (each pass schedules
    # one task per partition — 32 near-empty partitions cost more in task
    # launch than the distance math; at 100 TB rows/100k keeps thousands
    # of partitions, so nothing is serialized at scale).
    feats = train.select(
        "arr", array_to_vector(F.col("arr")).alias("features")
    ).cache()
    try:
        n = feats.count()
        cur = feats.rdd.getNumPartitions()
        parts = max(1, min(cur, (n + 99_999) // 100_000))
        sized = feats.repartition(parts) if parts < cur else feats
        fit_input = sized.select("features")
        try:
            model = KMeans(k=k, seed=seed, maxIter=max_iter).fit(fit_input)
        except Exception:
            # MLlib's k-means|| assignment kernel dies with
            # ArrayIndexOutOfBoundsException when the corpus has fewer
            # DISTINCT vectors than k (duplicate-heavy input — faiss
            # trains fine on the same data, SURVEY §2.4 I1). The exact
            # distinct count costs a shuffle, so it is computed only on
            # this failure path; the happy path at scale never pays it.
            nd = sized.select("arr").distinct().count()
            k2 = max(1, min(k, nd))
            if k2 >= k:
                raise  # not the duplicate degeneracy — surface the error
            if k2 < 2:
                return first_center()
            model = KMeans(k=k2, seed=seed, maxIter=max_iter).fit(fit_input)
    finally:
        feats.unpersist()
    return [[float(x) for x in c] for c in model.clusterCenters()]


def assign_cells(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "list_id",
) -> DataFrame:
    """I2 — nearest-centroid assignment (reference app.py:55 `index.add`).

    Small nlist*dim (<= _MAX_LITERAL_TERMS): distances to all centroids
    via the HOF fold over the literal centroid matrix (`_centroid_dists`),
    argmin via array_position(array_min) — a pure whole-stage-codegen
    projection, zero shuffle, zero joins. Larger: the Arrow-batched numpy
    argmin (`_assign_cells_arrow`), the matrix shipped as a SparkContext
    broadcast instead of plan literals — still zero shuffle, and the plan
    stays kilobytes at nlist ~ 1e5. Both sum distances left-to-right and
    take the first minimum, so assignments are identical.
    """
    if not _fits_literal(centroids):
        return _assign_cells_arrow(df, centroids, vec_col, out_col)
    dists = _centroid_dists(F.col(vec_col), centroids)
    cell = (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
    return df.withColumn(out_col, cell)


def _assign_cells_arrow(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str,
    out_col: str,
) -> DataFrame:
    """Large-nlist assignment via Arrow-batched numpy — the r16 scale
    path for nlist*dim past the literal cap (guide §4.2: hand whole
    batches to a vectorized native kernel instead of evaluating nlist
    interpreted HOF folds per row — the fold over a broadcast centroid
    column spends ~rows * nlist * dim boxed fold steps, measured ~9 s at
    40k x 300 x 64 vs ~1 s here).

    Bit-identical cells to the literal path: distances
    accumulate per-DIMENSION left-to-right in float64 over exactly
    widened float32 elements — the l2_sq fold's summation order, the
    knn_exact_arrow precedent — NOT via matmul (whose pairwise
    summation differs in the last ulp), and argmin takes the FIRST
    minimum like array_position(array_min). The centroid matrix ships
    as a Python broadcast (fetched once per worker, not per task —
    at nlist ~ 1e5 x dim 64 the matrix is ~50 MB, too big for a task
    closure). Equivalence vs the literal path is pinned in
    tests/test_ivf.py."""
    import numpy as np

    C = np.array([[float(x) for x in c] for c in centroids], dtype=np.float64)
    dim = C.shape[1]
    bc = df.sparkSession.sparkContext.broadcast(C)
    from pyspark.sql.types import IntegerType, StructField, StructType

    out_schema = StructType(
        df.schema.fields + [StructField(out_col, IntegerType())]
    )

    def assign(batches):
        cents = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            acc = np.zeros((X.shape[0], cents.shape[0]), dtype=np.float64)
            for i in range(dim):
                t = X[:, i, None] - cents[None, :, i]
                acc += t * t
            pdf = pdf.copy()
            pdf[out_col] = acc.argmin(axis=1).astype(np.int32)
            yield pdf

    return df.mapInPandas(assign, out_schema)


def probe_cells(
    queries: DataFrame,
    centroids: list[list[float]],
    nprobe: int,
    query_vec_col: str = "query_vec",
    with_rank: bool = False,
) -> DataFrame:
    """Per-query probe set: the nprobe cells nearest each query vector.

    Native plan: zip (distance, cell_id), array_sort (sorts by distance,
    ties by cell id), slice nprobe, explode -> one (query row, list_id) per
    probed cell. Mirrors faiss's quantizer ranking at app.py:69-70.
    Past _MAX_LITERAL_TERMS the matrix rides the one-row centroid
    broadcast (`pack_centroids`) instead of a literal, with the identical
    ranking expressions.

    `with_rank=True` additionally emits `probe_rank` (0-based position
    in the per-query ranking) — a cell is in the nprobe=p probe set iff
    probe_rank < p, which is what lets `ivf_search_curve` evaluate every
    nprobe value from ONE ranked scan.
    """
    nlist = len(centroids)
    nprobe = max(1, min(nprobe, nlist))
    if _fits_literal(centroids):
        dists = _centroid_dists(F.col(query_vec_col), centroids)
        out = queries
    else:
        out = _with_packed(queries, centroids)
        dists = F.transform(
            F.col("__cents"), lambda c: l2_sq(c, F.col(query_vec_col))
        )
    cells = F.sequence(F.lit(0), F.lit(nlist - 1))
    ranked = F.array_sort(
        F.zip_with(dists, cells, lambda d, i: F.struct(d.alias("d"), i.alias("i")))
    )
    probes = F.transform(F.slice(ranked, 1, nprobe), lambda s: s["i"].cast("int"))
    if with_rank:
        cols = [c for c in out.columns if c != "__cents"]
        out = out.select(
            *cols, F.posexplode(probes).alias("probe_rank", "list_id")
        )
        return out
    out = out.withColumn("list_id", F.explode(probes))
    return out.drop("__cents") if "__cents" in out.columns else out


@dataclass
class IvfIndex:
    """Handle to a built IVF index.

    centroids: driver-side list (nlist x dim — tiny by construction);
    postings: DataFrame(list_id int, vec_id long, embedding array<float>),
    partition-pruned on list_id when loaded from a saved index.
    """

    centroids: list[list[float]]
    postings: DataFrame

    @property
    def nlist(self) -> int:
        return len(self.centroids)

    def ntotal(self) -> int:
        """I3 — count of indexed vectors (app.py:56)."""
        return self.postings.count()


def _postings(
    df: DataFrame, centroids: list[list[float]], id_col: str, vec_col: str
) -> DataFrame:
    """(list_id, vec_id, embedding) postings rows for `df` against the
    given centroids — the add step shared by build, add and append."""
    return assign_cells(
        df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")),
        centroids,
        vec_col="embedding",
    ).select("list_id", "vec_id", "embedding")


def ivf_build(
    corpus: DataFrame,
    nlist: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = DEFAULT_SEED,
    max_iter: int = 20,
) -> IvfIndex:
    """Train + add (reference app.py:47-56). Returns an in-memory index.

    The postings DataFrame is lazy; persist with `ivf_save` to get the
    partitioned-parquet layout (and partition pruning on search).
    """
    # A small corpus often arrives as ONE scan split (or AQE-coalesced
    # shuffle), which would serialize every downstream scoring join over
    # the postings. Spread it to the cluster's parallelism; gated inside
    # spread(), so a 100 TB corpus with thousands of natural partitions
    # never shuffles.
    from vector_search_test_spark.io import spread

    corpus = spread(corpus)
    cents = train_centroids(corpus, nlist, vec_col=vec_col, seed=seed, max_iter=max_iter)
    postings = _postings(corpus, cents, id_col, vec_col)
    return IvfIndex(centroids=cents, postings=postings)


def ivf_add(
    index: IvfIndex,
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> IvfIndex:
    """Incremental add (reference app.py:55 `index.add` called after
    train): assign new vectors to the FROZEN centroids and append to the
    postings — no retrain (faiss's train/add split; the streaming twin is
    streaming/ingest.py::stream_assign_cells). Returns a new IvfIndex
    sharing the centroids."""
    new_posts = _postings(df, index.centroids, id_col, vec_col)
    return IvfIndex(
        centroids=index.centroids, postings=index.postings.unionByName(new_posts)
    )


def ivf_append(index: IvfIndex, path: str, df: DataFrame,
               id_col: str = "vec_id", vec_col: str = "embedding") -> None:
    """Append new vectors to a SAVED index: assign against the frozen
    centroids and append into the partitioned postings layout (new files
    land inside the matching list_id= directories; readers pick them up
    with no compaction step)."""
    new_posts = _postings(df, index.centroids, id_col, vec_col)
    new_posts.write.mode("append").partitionBy("list_id").parquet(
        os.path.join(path, "postings")
    )


def rank_cells(
    query_vec: "list[float]", centroids, nprobe: int
) -> "list[int]":
    """The nprobe nearest coarse cells for a query, ranked by exact
    sequential-accumulation L2 (the same left-to-right arithmetic the
    JVM fold, the numpy trainers, and the DuckDB chain SQL all use),
    ties to the lowest cell id — driver-side Python over a KB-sized
    centroid table. THE canonical probe-ranking kernel: ivf_search,
    IVF-PQ's LUT builder, and IVF-SQ8 all call this one function, so
    the ranking/tie-break semantics the oracles replay bit-for-bit
    live in exactly one place."""
    scored = [
        (
            sum(
                (float(a) - float(b)) ** 2 for a, b in zip(c, query_vec)
            ),
            i,
        )
        for i, c in enumerate(centroids)
    ]
    return [i for _, i in sorted(scored)[:nprobe]]


def ivf_rebalance(
    index: IvfIndex,
    max_list_frac: float = 0.1,
    sub_k: int = 4,
    seed: int = DEFAULT_SEED,
) -> IvfIndex:
    """Skew maintenance (extension — faiss leaves rebalancing to the
    operator): split every inverted list holding more than
    `max_list_frac` of the corpus into up to `sub_k` sub-cells, leaving
    every other list untouched. Long-running indexes drift — appends
    concentrate in a few hot cells (new data is rarely uniform over the
    trained quantizer), and a hot list makes every probe that touches
    it scan-heavy. Rebalancing retrains ONLY the hot lists' vectors
    (train_centroids' subsampling applies per list) and reassigns ONLY
    those rows among their own sub-centroids; the first sub-centroid
    reuses the hot list's id, the rest append after nlist — untouched
    postings keep their (vec_id, list_id) pairs bit-for-bit, so a saved
    index only rewrites the hot directories.

    Scale shape: the per-list counts collect is bounded by nlist; each
    hot list's train/reassign reads only that list (partition pruning
    on a saved index); the driver loop runs once per hot list — skew
    means FEW lists by definition. Search semantics are unchanged:
    nprobe=nlist remains exact (pinned in tests), and recall at fixed
    nprobe improves because probes stop paying for the hot list's
    unrelated mass."""
    from functools import reduce

    counts = {
        r.list_id: r.n
        for r in index.postings.groupBy("list_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    total = sum(counts.values())
    if total == 0:
        return index
    hot = sorted(
        l for l, n in counts.items() if n > max_list_frac * total and n > 1
    )
    if not hot:
        return index
    cents = [list(c) for c in index.centroids]
    cols = index.postings.columns
    pieces = [
        index.postings.filter(~F.col("list_id").isin([int(h) for h in hot]))
    ]
    for l in hot:
        rows = index.postings.filter(F.col("list_id") == int(l)).drop(
            "list_id"
        )
        k = min(sub_k, counts[l])
        sub = train_centroids(rows, nlist=k, seed=seed + int(l))
        ids = [int(l)] + list(range(len(cents), len(cents) + len(sub) - 1))
        cents[l] = sub[0]
        cents.extend(sub[1:])
        id_map = F.array(*[F.lit(i).cast("int") for i in ids])
        re = assign_cells(rows, sub, out_col="__sub")
        mapped = re.withColumn(
            "list_id", F.element_at(id_map, F.col("__sub") + 1)
        ).drop("__sub")
        pieces.append(mapped.select(*cols))
    return IvfIndex(
        centroids=cents,
        postings=reduce(lambda a, b: a.unionByName(b), pieces),
    )


def ivf_rebalance_cycle(
    index: IvfIndex,
    queries: DataFrame,
    max_list_frac: float = 0.2,
    sub_k: int = 4,
    nprobe: int = 2,
    k: int = 10,
    seed: int = DEFAULT_SEED,
    stage_times: "dict[str, float] | None" = None,
) -> "tuple[IvfIndex, DataFrame]":
    """The full index-maintenance loop composed as ONE certified
    operator (VERDICT r8 next-#7 — the ivf analogue of what
    curate_corpus did for curation): MEASURE balance (ivf_index_stats'
    imbalance/max_list view) -> DECIDE (the max_list_frac hot-list
    trigger) -> REBALANCE (ivf_rebalance splits only the hot lists) ->
    RE-MEASURE (balance again, plus recall before/after at the caller's
    production nprobe and an exactness audit at nprobe = nlist).

    Returns (rebalanced_index, report); the report is ONE row:

      ntotal, nlist_before/after, n_hot (lists over the trigger),
      max_list_before/after, imbalance_before/after,
      recall_before/after (mean recall@k at `nprobe` vs exact
      brute-force ground truth on `queries`),
      postings_conserved (the (vec_id, count) multiset survived the
      rebalance bit-for-bit — checked as count + an order-free
      xxhash64(vec_id) sum. Search at nprobe = nlist is a pure
      function of the postings SET with deterministic (dist, vec_id)
      tie-breaks, so conservation IS full-probe exactness — the
      per-search equivalence itself is pinned in
      tests/test_ivf.py::test_ivf_rebalance_splits_hot_list_only,
      so the cycle buys the audit with one aggregate instead of a
      third search).

    Honest operational note the report makes visible: a hot list is a
    LATENCY problem (every probe touching it scans its whole mass), but
    if the query workload lives inside that hot list, splitting it can
    LOWER recall at fixed nprobe (the neighborhood now spans several
    sub-cells) — the report carries both recall columns so the operator
    of a drifted index can decide nprobe alongside the rebalance
    instead of discovering the tradeoff in production.

    Scale shape: stats are nlist-bounded aggregates; the decide step is
    driver arithmetic over the stats row; ivf_rebalance reads only the
    hot lists (partition pruning on a saved index); the recall gauges
    run on the caller-bounded `queries` (tens, not the corpus) — the
    exact leg is the only corpus-wide scan, and it is the measurement,
    not the maintenance. The postings should be materialized (saved
    index or checkpoint) — the cycle reads them several times.

    `stage_times` (optional): caller-supplied dict receiving seconds
    for `measure_before` / `measure_after` (each ONE nlist-bounded
    collect: balance stats + hot-list count + conservation audit),
    `rebalance` (the hot-list split incl. the k-means retrain +
    checkpoint — the variance-heavy leg), and `recall_gauge` (exact
    ground truth + BOTH before/after recall gauges in one unioned
    action — valid because the before postings are a frozen
    checkpoint and the rebalance never consumes recall).
    """
    import time as _time
    from decimal import ROUND_HALF_UP, Decimal

    from vector_search_test_spark.operators.evaluate import recall_at_k
    from vector_search_test_spark.operators.knn import knn_exact

    corpus = index.postings.select("vec_id", "embedding")

    def _leg_stats(postings: DataFrame) -> dict:
        """ONE nlist-bounded collect per measure leg: the per-list
        (count, xxhash64 content sum) rows yield the balance view
        (ivf_index_stats' integer-sum formula replayed driver-side —
        Decimal HALF_UP mirrors F.round), the hot-list count, AND the
        order-free conservation audit. r11 timed each measure leg at
        ~3.1 s because stats / n_hot / audit ran as three separate
        actions over the same groupBy — this is the same arithmetic
        in one job (VERDICT r11 next-#5)."""
        rows = (
            postings.groupBy("list_id")
            .agg(
                F.count("*").alias("cnt"),
                # decimal sum: order-free and overflow-proof under ANSI
                # (a long sum of 64-bit hashes overflows at ~2 rows)
                F.sum(F.xxhash64("vec_id").cast("decimal(38,0)")).alias(
                    "h"
                ),
            )
            .collect()
        )
        cnts = [int(r.cnt) for r in rows]
        ntotal = sum(cnts)
        nlist_used = len(cnts)
        sum_sq = sum(c * c for c in cnts)
        imb = (float(nlist_used) * float(sum_sq)) / (
            float(ntotal) * float(ntotal)
        )
        return {
            "ntotal": ntotal,
            "max_list": max(cnts),
            "imbalance": float(
                Decimal(repr(imb)).quantize(
                    Decimal("0.000001"), rounding=ROUND_HALF_UP
                )
            ),
            "n_hot": sum(
                1 for c in cnts if c > max_list_frac * ntotal
            ),
            "audit": (ntotal, sum(int(r.h) for r in rows)),
        }

    _t0 = _time.perf_counter()
    before = _leg_stats(index.postings)
    if stage_times is not None:
        stage_times["measure_before"] = round(_time.perf_counter() - _t0, 4)
        _t0 = _time.perf_counter()

    rebalanced = ivf_rebalance(
        index, max_list_frac=max_list_frac, sub_k=sub_k, seed=seed
    )
    rebalanced.postings = rebalanced.postings.localCheckpoint()
    if stage_times is not None:
        stage_times["rebalance"] = round(_time.perf_counter() - _t0, 4)
        _t0 = _time.perf_counter()
    after = _leg_stats(rebalanced.postings)
    if stage_times is not None:
        stage_times["measure_after"] = round(_time.perf_counter() - _t0, 4)
        _t0 = _time.perf_counter()
    conserved = before["audit"] == after["audit"]

    # BOTH recall gauges in ONE action (VERDICT r11 next-#5): the
    # before-index postings are a frozen checkpoint, so measuring its
    # recall after the rebalance is time-invariant (the rebalance
    # decision consumes balance stats, never recall), and unioning the
    # two per-index aggregates halves the fixed per-action overhead the
    # r11 stage split showed dominating the measure legs. Ground truth
    # is queries*k rows, materialized once for both gauges.
    # NB: deliberately NOT passing dim here — tried r16 and measured
    # WORSE (recall_gauge 2.36 -> 3.11 s): at gauge scale (tens of
    # queries x a few thousand postings) the unrolled chain's codegen
    # compile cost exceeds the whole interpreted fold; unrolling only
    # pays on bulk joins (vector.py envelope note).
    exact = knn_exact(queries, corpus, k=k).localCheckpoint()

    def _gauge(idx: IvfIndex, tag: str) -> DataFrame:
        got = recall_at_k(
            exact, ivf_search_all(idx, queries, k=k, nprobe=nprobe)
        )
        return got.agg(F.avg("recall").alias("r")).select(
            F.lit(tag).alias("t"), "r"
        )

    recalls = {
        r.t: float(r.r)
        for r in _gauge(index, "before")
        .unionByName(_gauge(rebalanced, "after"))
        .collect()
    }
    recall_before, recall_after = recalls["before"], recalls["after"]
    if stage_times is not None:
        stage_times["recall_gauge"] = round(_time.perf_counter() - _t0, 4)

    spark = index.postings.sparkSession
    report = spark.createDataFrame(
        [
            (
                int(before["ntotal"]),
                int(index.nlist),
                int(rebalanced.nlist),
                int(before["n_hot"]),
                int(before["max_list"]),
                int(after["max_list"]),
                float(before["imbalance"]),
                float(after["imbalance"]),
                round(recall_before, 6),
                round(recall_after, 6),
                bool(conserved),
            )
        ],
        "ntotal long, nlist_before int, nlist_after int, n_hot int, "
        "max_list_before long, max_list_after long, "
        "imbalance_before double, imbalance_after double, "
        "recall_before double, recall_after double, "
        "postings_conserved boolean",
    )
    return rebalanced, report


def write_partitioned_postings(
    postings: DataFrame, path: str, nlist: int | None = None
) -> None:
    """THE inverted-list sink all three index families share (float
    IVF, IVF-PQ, IVF-SQ8): shuffle on list_id before the partitioned
    write — without it every input partition writes one file per list
    it touches, parts * nlist files (1000 executors x nlist 1e4 would
    be 10M files). Hashing on list_id alone bounds the file count but
    SERIALIZES the write when nlist < cores: a 4-list index ran 4
    write tasks on a 32-core box, and the r11 stage split measured
    that write at 70% of ivf_persistence_roundtrip's wall. So when the
    caller passes `nlist` (all in-package callers do — it is the
    centroid count they already hold) and nlist < cores, the shuffle
    key becomes (list_id, salt) with salt width cores // nlist: every
    core writes, and the file count stays bounded by max(cores, nlist)
    — locally a 4-list index writes 8 files per list directory (32
    total), a 192-list index still writes 1 per list (salt collapses
    to 1 once nlist >= cores; tasks beyond the core count only add
    scheduler/committer overhead — measured 12.2 s -> 7.8 s at
    nlist=192 on local[32]). On a real cluster defaultParallelism
    tracks total cores, so write parallelism scales with the cluster,
    and at production nlist (1e4+) the salt is 1 — identical layout
    to the unsalted form. `nlist=None` keeps the unsalted hash (no
    data probe: correctness never depends on the salt).

    The salt hashes the id column when the conventional `vec_id` is
    present and falls back to a hash of EVERY column otherwise — the
    sink only requires `list_id`, so a postings table with a
    differently-named id column must not fail here (ADVICE r11;
    spark_partition_id would be constant per input partition and so
    would serialize a hot list whose rows arrive already partitioned by
    list_id — r12 review). Both salts are DETERMINISTIC functions of
    the row: repartitioning on a non-deterministic key (the old
    monotonically_increasing_id fallback) is the classic Spark hazard
    where a shuffle-fetch failure + stage retry recomputes rows into
    DIFFERENT partitions, losing or duplicating written postings
    (ADVICE r12). Identical rows hash to the same salt, which only
    co-locates exact duplicates — harmless for spread, safe on retry."""
    spark = postings.sparkSession
    par = spark.sparkContext.defaultParallelism
    salt_w = max(1, par // max(1, int(nlist))) if nlist else 1
    if salt_w > 1:
        salt_src = (
            F.hash("vec_id")
            if "vec_id" in postings.columns
            else F.hash(*postings.columns)
        )
        (
            postings.withColumn("__salt", F.pmod(salt_src, F.lit(salt_w)))
            .repartition(par, "list_id", "__salt")
            .drop("__salt")
            .write.mode("overwrite")
            .partitionBy("list_id")
            .parquet(path)
        )
    else:
        postings.repartition(par, "list_id").write.mode(
            "overwrite"
        ).partitionBy("list_id").parquet(path)


def write_centroid_table(spark, centroids, path: str) -> None:
    """Persist a (list_id, centroid) table — KBs, one file.

    Built as a SINGLE-slice parallelized relation, NOT createDataFrame
    + coalesce(1): a parallelized local collection defaults to
    defaultParallelism slices, and coalesce(1) makes one task fetch
    all of them from the driver one RPC at a time — measured 5-7 s per
    tiny write on local[32] (it was 70% of ivf_persistence_roundtrip's
    'write' phase, r11 stage split). One slice = one task, no shuffle,
    one file, ~0.4 s."""
    rows = [(i, c) for i, c in enumerate(centroids)]
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        "list_id int, centroid array<float>",
    ).write.mode("overwrite").parquet(path)


def read_centroid_table(spark, path: str) -> list[list[float]]:
    """Load a (list_id, centroid) table back to driver lists."""
    rows = spark.read.parquet(path).orderBy("list_id").collect()
    return [[float(x) for x in r.centroid] for r in rows]


def ivf_save(index: IvfIndex, path: str, corpus: DataFrame | None = None) -> None:
    """S3 — index sink (reference app.py:116-123 `faiss.write_index` + pickle).

    Layout: `<path>/centroids/` (tiny parquet), `<path>/postings/`
    partitioned by list_id (the IVF inverted lists as directories,
    `write_partitioned_postings`), optional `<path>/corpus/`
    (id -> text). Unlike the reference — which drops embeddings on save
    and re-encodes on load (app.py:134-145) — embeddings persist; load
    is pure IO (deliberate fix, SURVEY §2.1 S4).
    """
    spark = index.postings.sparkSession
    write_centroid_table(
        spark, index.centroids, os.path.join(path, "centroids")
    )
    write_partitioned_postings(
        index.postings, os.path.join(path, "postings"), nlist=index.nlist
    )
    if corpus is not None:
        corpus.write.mode("overwrite").parquet(os.path.join(path, "corpus"))


def ivf_save_bucketed(index: IvfIndex, table: str, buckets: int = 8) -> None:
    """Postings as a bucketed AND partitioned managed table (SURVEY §7 P6).

    partitionBy(list_id) keeps probe pruning; bucketBy(vec_id) + sortBy
    pre-shuffles rows by id at WRITE time, so id-keyed joins against any
    table bucketed the same way (result assembly Q4, dedup verify joins)
    plan with NO exchange on the postings side — the shuffle is paid once
    at ingest instead of per query. Managed-table API because Spark only
    records bucket metadata through the catalog."""
    (
        index.postings.write.mode("overwrite")
        .partitionBy("list_id")
        .bucketBy(buckets, "vec_id")
        .sortBy("vec_id")
        .format("parquet")
        .saveAsTable(table)
    )


def ivf_load(spark: SparkSession, path: str) -> IvfIndex:
    """S4 — index source (reference app.py:125-147, minus the re-encode)."""
    cents = read_centroid_table(spark, os.path.join(path, "centroids"))
    postings = spark.read.parquet(os.path.join(path, "postings")).select(
        F.col("list_id").cast("int").alias("list_id"), "vec_id", "embedding"
    )
    return IvfIndex(centroids=cents, postings=postings)


def ivf_search(
    index: IvfIndex,
    query_vec: list[float],
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """Q2 — single-vector ANN search (reference app.py:65-75).

    Probe ranking is done on the driver over the tiny centroid list (the
    same O(nlist) scalar work faiss's quantizer does); the resulting
    `list_id IN (...)` filter is static partition pruning against a saved
    index. Then exact squared-L2 over the probed lists and a global
    top-k (TakeOrderedAndProject — per-partition heaps, no shuffle).
    Returns (vec_id, dist), ascending, ties broken on vec_id.
    """
    nprobe = max(1, min(nprobe, index.nlist))
    probe_ids = rank_cells(query_vec, index.centroids, nprobe)
    if len(query_vec) <= UNROLL_MAX_TERMS:
        dist = l2_sq_const("embedding", list(query_vec))
    else:
        # wide vectors: the unrolled method would run un-JITed (and past
        # ~384 terms the plan build overflows the stack) — evaluate the
        # HOF form against a literal array instead (identical doubles)
        qlit = const_float_array(query_vec)
        dist = l2_sq(qlit, F.col("embedding"))
    return (
        index.postings.filter(F.col("list_id").isin(probe_ids))
        .select("vec_id", dist.alias("dist"))
        .orderBy(F.col("dist").asc(), F.col("vec_id").asc())
        .limit(k)
    )


def ivf_search_all(
    index: IvfIndex,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Q3 — batched ANN search (reference app.py:85 `index.search(all, k)`).

    Plan: per-query probe sets (native array ops, no shuffle) -> equi-join
    with postings on list_id (the only shuffle; AQE splits skewed cells)
    -> exact distance -> per-query window top-k (WindowGroupLimit prunes
    to k rows per query per partition before the final shuffle).

    Scale note: compute is O(sum over probed cells) not O(Q*N) — the
    IVF pruning is what makes this survive 100 TB, unlike knn_exact.
    Returns (query_id, vec_id, dist), <= k rows per query.
    """
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("query_vec"),
    )
    dim = len(index.centroids[0]) if index.centroids else 0
    if nprobe >= index.nlist:
        # exhaustive probe scans every cell for every query — exactly
        # knn_exact's broadcast self-join, minus the probe ranking and
        # the list_id equi-join, which at full probe only add plan (the
        # join predicate matches every (query, cell) pair). Same rows,
        # same doubles, two fewer shuffles. This is the oracle config
        # (SURVEY §2.9 Q3), inherently all-pairs — fine at the small
        # scales where anyone runs it; partial probe is the scale path.
        from vector_search_test_spark.operators.knn import knn_exact

        return knn_exact(
            q,
            index.postings.select("vec_id", "embedding"),
            k=k,
            dim=dim or None,
        )
    probed = probe_cells(q, index.centroids, nprobe, query_vec_col="query_vec")
    dist = (
        l2_sq_unrolled("query_vec", "embedding", dim)
        if 0 < dim <= UNROLL_MAX_TERMS
        else l2_sq(F.col("query_vec"), F.col("embedding"))
    )
    scored = probed.join(index.postings, "list_id").select(
        "query_id", "vec_id", dist.alias("dist")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def ivf_search_filtered(
    index: IvfIndex,
    queries: DataFrame,
    predicate,
    k: int = 10,
    nprobe: int = 2,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Metadata-filtered ANN — the pruned-probe sibling of
    knn.filtered_topk and the composition every retrieval API exposes
    at scale ("nearest vectors WHERE lang = 'en'"). The predicate is a
    plain Catalyst filter over the POSTINGS (which may carry any
    metadata columns alongside list_id/vec_id/embedding), evaluated
    BEFORE the top-k: it pushes into the postings scan (PushedFilters /
    partition pruning when the metadata is a partition column), so
    selective predicates cut IO and scoring together, and the window
    keeps k survivors — post-filtering an unfiltered top-k would
    instead return FEWER than k whenever the filter removes near
    neighbors. Probe selection stays filter-AGNOSTIC (cells ranked by
    query-centroid distance only — the standard IVF-filtered
    behavior): a highly selective predicate can empty the probed
    cells, which is the recall/nprobe trade the caller tunes, not an
    error. Same plan as ivf_search_all otherwise."""
    return ivf_search_all(
        IvfIndex(
            centroids=index.centroids,
            postings=index.postings.filter(predicate),
        ),
        queries,
        k=k,
        nprobe=nprobe,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
    )


def ivf_search_curve(
    index: IvfIndex,
    queries: DataFrame,
    k: int = 10,
    nprobes: "tuple[int, ...]" = (1, 2, 4, 8),
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Batched ANN search at SEVERAL nprobe values from ONE corpus pass
    — the nprobe-tuning sweep as a single plan.

    Running `ivf_search_all` once per nprobe scans the probed postings
    once per value (the largest value's scan repeated, plus all the
    smaller ones) and compiles one plan per search. This operator ranks
    cells once WITH their probe rank (probe_cells with_rank), joins the
    postings once at max(nprobes), replicates each candidate row only
    into the nprobe values whose probe set contains its list
    (probe_rank < p — an explode over the filtered literal array), and
    takes one windowed top-k per (nprobe, query). Row-for-row identical
    to the per-value searches: the probe set at p IS the first p
    entries of the same ranking, distances are the same expression, and
    the (dist, vec_id) tie-break matches. At 100 TB the difference is
    one pruned pass instead of len(nprobes) passes over the hot lists.

    Returns (nprobe int, query_id, vec_id, dist), <= k rows per
    (nprobe, query). Values are clamped to [1, nlist] like probe_cells;
    duplicate post-clamp values are the caller's to dedupe."""
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("query_vec"),
    )
    dim = len(index.centroids[0]) if index.centroids else 0
    pvals = sorted({max(1, min(int(p), index.nlist)) for p in nprobes})
    pr = probe_cells(
        q,
        index.centroids,
        max(pvals),
        query_vec_col="query_vec",
        with_rank=True,
    )
    dist = (
        l2_sq_unrolled("query_vec", "embedding", dim)
        if 0 < dim <= UNROLL_MAX_TERMS
        else l2_sq(F.col("query_vec"), F.col("embedding"))
    )
    parr = F.array(*[F.lit(p) for p in pvals])
    scored = (
        pr.join(index.postings, "list_id")
        .select("query_id", "probe_rank", "vec_id", dist.alias("dist"))
        .withColumn(
            "nprobe",
            F.explode(F.filter(parr, lambda p: p > F.col("probe_rank"))),
        )
    )
    w = Window.partitionBy("nprobe", "query_id").orderBy(
        F.col("dist").asc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("nprobe", "query_id", "vec_id", "dist")
    )
