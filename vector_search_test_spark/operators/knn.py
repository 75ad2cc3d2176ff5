"""Exact (brute-force) k-nearest-neighbor operators.

These are the correctness oracle for the IVF path (SURVEY §5.2) and the
baseline for similarity search. The reference's exact equivalent is
`index.search` with nprobe = nlist (reference app.py:65-75).

Scale notes (100 TB design):
- `topk_global` (one query, N corpus): the query is a literal folded into
  the projection — a single map-only scan, then Catalyst's
  TakeOrderedAndProject merges per-partition top-k heaps on the driver.
  No shuffle at all.
- `knn_exact` (Q queries, N corpus): broadcast the query side (queries are
  small by construction; if not, use the IVF path), BroadcastNestedLoopJoin
  so every corpus partition scores all queries map-side, then a per-query
  window top-k. Spark 3.5+ inserts WindowGroupLimit, which cuts each
  partition to k rows per query BEFORE the shuffle — the shuffle moves
  O(Q * k * partitions) rows, not O(Q * N).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from vector_search_test_spark.functions.vector import (
    UNROLL_MAX_TERMS,
    const_float_array,
    cosine_sim,
    l2_sq,
    l2_sq_const,
    l2_sq_unrolled,
)

_METRICS = {"l2_sq": l2_sq, "cosine": cosine_sim}


def _distance(metric: str, a, b) -> tuple[Column, bool]:
    """Returns (distance column, ascending?)."""
    if metric == "l2_sq":
        return l2_sq(a, b), True
    if metric == "cosine":
        # similarity: higher is closer
        return cosine_sim(a, b), False
    raise ValueError(f"unknown metric {metric!r}; expected one of {sorted(_METRICS)}")


def topk_global(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "l2_sq",
) -> DataFrame:
    """Top-k rows of `corpus` nearest to a single literal query vector.

    Mirrors reference search_by_vector (app.py:65-75) with nprobe=nlist.
    Returns (id_col, dist) with deterministic tie-break on id_col.
    """
    if metric == "l2_sq" and len(query_vec) <= UNROLL_MAX_TERMS:
        # unrolled-to-literals form: pure whole-stage codegen (see vector.py)
        dist, asc = l2_sq_const(vec_col, list(query_vec)), True
    else:
        # wide vectors: the HOF fold (the unrolled method would blow the
        # JIT budget / plan-conversion stack — vector.py UNROLL_MAX_TERMS)
        qlit = const_float_array(query_vec)
        dist, asc = _distance(metric, qlit, F.col(vec_col))
    scored = corpus.select(F.col(id_col), dist.alias("dist"))
    order = [F.col("dist").asc() if asc else F.col("dist").desc(), F.col(id_col).asc()]
    return scored.orderBy(*order).limit(k)


def salted_topk_per_key(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[Column],
    k: int,
    salt: int = 16,
) -> DataFrame:
    """Skew-resistant per-key top-k: two-phase salted windows.

    A plain `Window.partitionBy(key)` sends EVERY row of a hot key to one
    task; WindowGroupLimit softens but cannot split the final per-key
    sort. Phase 1 partitions by (key, salt) — `salt` tasks share each hot
    key — and keeps a local top-k; phase 2 runs the exact window over the
    <= salt*k survivors per key. Result is identical to the unsalted
    window (each key's true top-k survives its salt bucket's local top-k;
    order_cols must totally order rows for determinism).

    The salt is a deterministic row hash, NOT spark_partition_id():
    partition ids change when a map task is recomputed after a fetch
    failure, which could land rows in different salt buckets across
    attempts and drop/duplicate rows from the phase-1 local top-k.
    """
    salted = df.withColumn(
        "__salt",
        F.pmod(F.hash(*[F.col(c) for c in df.columns]), F.lit(salt)).cast("int"),
    )
    w1 = Window.partitionBy(*key_cols, "__salt").orderBy(*order_cols)
    local = (
        salted.withColumn("__rn", F.row_number().over(w1))
        .filter(F.col("__rn") <= k)
        .drop("__rn", "__salt")
    )
    w2 = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return (
        local.withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def knn_exact(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "l2_sq",
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k neighbors in `corpus` for every row of `queries`.

    Reference: batched self-kNN `index.search(self.embeddings, k)` at
    app.py:85, made exact (nprobe = nlist). Output: (query_id, vec_id,
    dist), ≤ k rows per query, deterministic tie-break on vec_id.

    The query side is broadcast, so it must fit in executor memory
    (spark.sql.autoBroadcastJoinThreshold does not apply to an explicit
    hint — an oversized query set will OOM). For a large query set use
    the IVF path (operators/ivf.py), which prunes by cell instead of
    scoring all pairs.

    Pass `dim` (the embedding width) to score with the unrolled codegen
    expression instead of the interpreted HOF — same doubles, ~8x faster
    on bulk joins while dim <= UNROLL_MAX_TERMS (vector.py note); wider
    vectors automatically keep the HOF form (the unrolled method would
    run un-JITed, slower than the fold, and past ~384 terms the plan
    build itself overflows the stack).
    """
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("__qv")
    )
    if metric == "l2_sq" and dim is not None and dim <= UNROLL_MAX_TERMS:
        dist, asc = l2_sq_unrolled("__qv", vec_col, dim), True
    else:
        dist, asc = _distance(metric, F.col("__qv"), F.col(vec_col))
    scored = corpus.join(F.broadcast(q)).select(
        "query_id", F.col(id_col).alias("vec_id"), dist.alias("dist")
    )
    order = [F.col("dist").asc() if asc else F.col("dist").desc(), F.col("vec_id").asc()]
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def range_search(
    queries: DataFrame,
    corpus: DataFrame,
    radius: float,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "l2_sq",
    dim: int | None = None,
) -> DataFrame:
    """ALL neighbors within `radius` of every query — faiss's
    `range_search` (the fixed-threshold twin of `knn_exact`'s fixed-k;
    the reference only exposes the k form, app.py:58). For l2_sq the
    radius is a SQUARED distance, matching the engine-wide metric.

    Output: (query_id, vec_id, dist) — every hit, no cap, so the result
    is output-bound by the data's density at `radius`, not by k.

    Scale shape: broadcast the query side, ONE corpus scan with the
    threshold predicate evaluated inside whole-stage codegen — no
    window, no shuffle, no top-k state at all (strictly cheaper than
    knn_exact at the same broadcast contract). `dim` unrolls the
    distance like knn_exact. For similarity metrics (cosine) hits are
    `dist >= radius`; for distances, `dist <= radius`."""
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("__qv")
    )
    if metric == "l2_sq" and dim is not None and dim <= UNROLL_MAX_TERMS:
        dist, asc = l2_sq_unrolled("__qv", vec_col, dim), True
    else:
        dist, asc = _distance(metric, F.col("__qv"), F.col(vec_col))
    scored = corpus.join(F.broadcast(q)).select(
        "query_id", F.col(id_col).alias("vec_id"), dist.alias("dist")
    )
    pred = (
        F.col("dist") <= F.lit(float(radius))
        if asc
        else F.col("dist") >= F.lit(float(radius))
    )
    return scored.filter(pred)


def mrl_two_stage_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    shortlist_r: int = 20,
    prefix_dim: int = 16,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage Matryoshka search (Kusupati et al. 2022) — the
    PRODUCTION pattern `mrl_recall_curve` (evaluate.py) is the
    evidence for: stage 1 shortlists `shortlist_r` candidates per
    query using only the FIRST `prefix_dim` dimensions (MRL-trained
    embeddings concentrate signal in prefixes, so the scan reads and
    scores prefix_dim/dim of the bytes — with the prefix stored as its
    own column, column pruning makes that literal); stage 2 re-ranks
    ONLY those R rows at full width — the pq_rerank shape applied to
    the dimension axis instead of the code axis.

    Output: (query_id, vec_id, dist), top-k per query by FULL-width
    squared L2 among the stage-1 survivors, ties on vec_id. Exactness
    vs brute force depends on the prefix quality (that is the point);
    determinism does not.

    Scale shape: stage 1 is the knn_exact broadcast-join + window
    pattern with an unrolled prefix-term chain (WindowGroupLimit cuts
    partitions to R rows per query before the only shuffle); stage 2
    joins the R-row-per-query id shortlist back to the float table (a
    broadcast-able join at any corpus size) and scores with the l2_sq
    fold — identical doubles to the unrolled chain, and only R rows
    per query ever carry full-width vectors."""
    if prefix_dim < 1 or prefix_dim > UNROLL_MAX_TERMS:
        raise ValueError(
            f"prefix_dim must be in [1, {UNROLL_MAX_TERMS}], got {prefix_dim}"
        )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("__qv"),
    )
    pdist = l2_sq_unrolled("__qv", vec_col, prefix_dim)
    scored1 = corpus.join(F.broadcast(q)).select(
        "query_id", F.col(id_col).alias("vec_id"), pdist.alias("__pd")
    )
    w1 = Window.partitionBy("query_id").orderBy(
        F.col("__pd").asc(), F.col("vec_id").asc()
    )
    shortlist = (
        scored1.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= int(shortlist_r))
        .select("query_id", "vec_id")
    )
    cand = shortlist.join(
        corpus.select(F.col(id_col).alias("vec_id"), vec_col), "vec_id"
    ).join(F.broadcast(q), "query_id")
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("vec_id").asc()
    )
    return (
        cand.withColumn("dist", l2_sq(vec_col, "__qv"))
        .withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= int(k))
        .select("query_id", "vec_id", "dist")
    )


def contrastive_examples(
    queries: DataFrame,
    corpus: DataFrame,
    n_neg: int = 3,
    exclude_top: int = 10,
    salt: str = "neg",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Contrastive-training example builder: for every anchor, the
    hardest positive (nearest non-self neighbor) plus `n_neg`
    DETERMINISTIC random negatives drawn from outside the anchor's
    `exclude_top` nearest — the (anchor, positive, negatives) table an
    embedding-model trainer consumes. Negatives use the engine's
    portable md5 hash order (sampling.hash_fraction), so the draw is
    RNG-free: stable across runs, partitionings, and engines.

    Semantics: negatives = the `n_neg` hash-smallest corpus ids not in
    the anchor's dist-top-`exclude_top` and != anchor. Output:
    (query_id, vec_id, role 'pos'|'neg', rank, dist).

    Scale shape: ONE broadcast-join corpus scan computes (dist, hash)
    per pair; both rankings are row_number-+ -filter windows that
    Catalyst rewrites to WindowGroupLimit (partial top-k before the
    shuffle): dist-top-M for positives/exclusion and hash-top-(M+k)
    for the negative pool — taking M+k hash-smallest guarantees >= k
    survive the exclusion anti-join, so NO full per-anchor ranking
    ever materializes. The final re-rank runs on (M+k) rows/anchor.
    """
    from vector_search_test_spark.operators.sampling import hash_fraction

    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("__qv")
    )
    if dim is not None and dim <= UNROLL_MAX_TERMS:
        dist = l2_sq_unrolled("__qv", vec_col, dim)
    else:
        dist, _ = _distance("l2_sq", F.col("__qv"), F.col(vec_col))
    scored = (
        corpus.join(F.broadcast(q))
        .select("query_id", F.col(id_col).alias("vec_id"), dist.alias("dist"))
        .filter(F.col("query_id") != F.col("vec_id"))
        .withColumn(
            "__h",
            hash_fraction(
                F.concat_ws(":", F.col("query_id"), F.col("vec_id")), salt
            ),
        )
    )
    wd = Window.partitionBy("query_id").orderBy("dist", "vec_id")
    topm = (
        scored.withColumn("__rd", F.row_number().over(wd))
        .filter(F.col("__rd") <= exclude_top)
    )
    pos = topm.filter(F.col("__rd") == 1).select(
        "query_id",
        "vec_id",
        F.lit("pos").alias("role"),
        F.lit(1).cast("long").alias("rank"),
        F.round("dist", 6).alias("dist"),
    )
    wh = Window.partitionBy("query_id").orderBy("__h", "vec_id")
    pool = (
        scored.withColumn("__rh", F.row_number().over(wh))
        .filter(F.col("__rh") <= exclude_top + n_neg)
    )
    # the exclusion side is output-bound (anchors x exclude_top rows) —
    # broadcast it so the anti-join never shuffles the pool
    survivors = pool.join(
        F.broadcast(topm.select("query_id", "vec_id")),
        ["query_id", "vec_id"],
        "left_anti",
    )
    wh2 = Window.partitionBy("query_id").orderBy("__h", "vec_id")
    negs = (
        survivors.withColumn("__rn", F.row_number().over(wh2))
        .filter(F.col("__rn") <= n_neg)
        .select(
            "query_id",
            "vec_id",
            F.lit("neg").alias("role"),
            F.col("__rn").cast("long").alias("rank"),
            F.round("dist", 6).alias("dist"),
        )
    )
    return pos.unionByName(negs)


def knn_exact_arrow(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """`knn_exact` via Arrow-batched numpy — the wide-dim scale path.

    Above UNROLL_MAX_TERMS (dim ~96) the pure-JVM forms degrade to the
    interpreted HOF fold (~8-13 us/pair); here each corpus partition is
    scored against the whole query matrix with vectorized numpy inside
    `mapInPandas` (~0.1 us/pair at dim 768), emitting only a partition-
    local top-k per query, so the shuffle carries O(partitions * Q * k)
    rows — never the Q x N cross product. A final per-query window top-k
    merges the partition winners (same WindowGroupLimit pruning as
    knn_exact).

    Bit-identical doubles to knn_exact / the DuckDB oracle: distances
    accumulate per-DIMENSION left-to-right in float64 — the same
    summation order as the l2_sq fold — NOT via matmul (whose pairwise
    summation differs in the last ulp).

    The query side is collected to the driver and shipped in the task
    closure (same smallness contract as knn_exact's query broadcast).
    """
    import numpy as np

    rows = queries.select(
        F.col(query_id_col), F.col(query_vec_col)
    ).collect()
    if not rows:
        return knn_exact(queries, corpus, k=k)
    qids = np.array([r[0] for r in rows], dtype=np.int64)
    qmat = np.array([list(r[1]) for r in rows], dtype=np.float64)
    nq, dim = qmat.shape
    kk = k

    def score(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            vids = pdf[id_col].to_numpy(dtype=np.int64)
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            # per-dimension left-to-right accumulation: bit-identical to
            # the sequential fold (all doubles, one addend per step)
            acc = np.zeros((nq, X.shape[0]), dtype=np.float64)
            for i in range(dim):
                t = qmat[:, i, None] - X[None, :, i]
                acc += t * t
            take = min(kk, X.shape[0])
            # exact (dist, vec_id) lexicographic top-k per query: the
            # global merge is correct iff every potential winner survives
            # its batch, which argpartition-with-arbitrary-ties breaks
            idx = np.lexsort((np.broadcast_to(vids, acc.shape), acc), axis=1)[
                :, :take
            ]
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qids, take),
                    "vec_id": vids[idx].ravel(),
                    "dist": np.take_along_axis(acc, idx, axis=1).ravel(),
                }
            )

    cand = corpus.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        score, "query_id long, vec_id long, dist double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("vec_id").asc()
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def filtered_topk(
    corpus: DataFrame,
    query_vec: list,
    predicate,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "l2_sq",
) -> DataFrame:
    """Metadata-filtered vector search (WHERE + ANN in one plan) — the
    composition every retrieval API exposes ("nearest docs where
    lang = 'en'"). The predicate is a plain Catalyst filter evaluated
    BEFORE any distance arithmetic, so it pushes to the parquet scan
    when it references scan columns (PushedFilters / partition pruning)
    and selective predicates cut IO and scoring together; the survivors
    flow into the same TakeOrderedAndProject top-k as the unfiltered
    path. Post-filtering top-k results (the naive composition) would
    instead return FEWER than k rows whenever the filter removes
    near neighbors — this form is correct by construction."""
    return topk_global(
        corpus.filter(predicate),
        query_vec,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        metric=metric,
    )


def knn_label_propagation(
    targets: DataFrame,
    seeds: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    dim: int | None = None,
) -> DataFrame:
    """One-hop kNN label propagation — the embedding-space label
    distillation a FineWeb-Edu-style quality classifier bootstraps
    from: a SMALL labeled seed set spreads its labels onto the
    unlabeled mass by majority vote among each target's k nearest
    seeds. (The reference has no labeling surface; this is the
    extension-op shape of "can these embeddings carry this label",
    the gauge run before paying for model-based annotation at scale.)

    Output: one row per target — (id, pred_label, n_votes,
    n_considered, vote_frac) with n_considered = min(k, |seeds|),
    vote_frac = round(n_votes / n_considered, 6). Vote ties break
    deterministically: most votes, then the label whose NEAREST
    supporting seed ranks best (min rank), then smallest label.

    Scale shape (the inverse of knn_exact's broadcast orientation,
    deliberately): the TARGET side is the 100 TB corpus and stays the
    scanned side; the seed set — small by the economics of labeling —
    broadcasts with its labels, every target partition scores all
    seeds map-side in codegen (`dim` unrolls the distance under
    UNROLL_MAX_TERMS like knn_exact), and WindowGroupLimit cuts each
    partition to k rows per target BEFORE the shuffle, so the only
    shuffle moves O(targets * k) narrow vote rows — never embeddings.
    """
    s = seeds.select(
        F.col(id_col).alias("__sid"),
        F.col(vec_col).alias("__sv"),
        F.col(label_col).alias("__slabel"),
    )
    if dim is not None and dim <= UNROLL_MAX_TERMS:
        dist = l2_sq_unrolled(vec_col, "__sv", dim)
    else:
        dist = l2_sq(F.col(vec_col), F.col("__sv"))
    scored = targets.join(F.broadcast(s)).select(
        F.col(id_col).alias("id"),
        "__sid",
        "__slabel",
        dist.alias("dist"),
    )
    w = Window.partitionBy("id").orderBy(
        F.col("dist").asc(), F.col("__sid").asc()
    )
    topk = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
    )
    votes = topk.groupBy("id", "__slabel").agg(
        F.count("*").alias("n_votes"), F.min("rn").alias("__best_rn")
    )
    votes = votes.withColumn(
        "n_considered",
        F.sum("n_votes").over(Window.partitionBy("id")).cast("long"),
    )
    wv = Window.partitionBy("id").orderBy(
        F.col("n_votes").desc(),
        F.col("__best_rn").asc(),
        F.col("__slabel").asc(),
    )
    return (
        votes.withColumn("__vr", F.row_number().over(wv))
        .filter(F.col("__vr") == 1)
        .select(
            "id",
            F.col("__slabel").alias("pred_label"),
            F.col("n_votes").cast("long").alias("n_votes"),
            "n_considered",
            F.round(F.col("n_votes") / F.col("n_considered"), 6).alias(
                "vote_frac"
            ),
        )
    )


def mmr_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    fetch_n: int = 30,
    lam: float = 0.7,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance diversified top-k (Carbonell &
    Goldstein 1998, SIGIR — eq. 1): greedily pick the candidate
    maximizing  λ·sim(q, d) − (1−λ)·max_{s∈S} sim(d, s)  so the result
    list trades relevance against redundancy — the diversity-selection
    knob retrieval APIs and training-example pickers expose (λ=1 is
    plain top-k; λ→0 is pure anti-redundancy).

    MMR is inherently ITERATIVE (each pick changes every remaining
    score), so it has no declarative SQL twin — certification is the
    pytest numpy cross-check + reduction/invariance properties
    (tests/test_knn.py), the sanctioned weaker gate for iterative
    algorithms.

    Scale shape: the greedy loop NEVER sees the corpus — stage 1 is the
    existing exact cosine top-`fetch_n` (broadcast queries →
    WindowGroupLimit partial top-k, shuffle carries O(Q·fetch_n·parts)
    rows); stage 2 re-attaches candidate embeddings by broadcasting the
    OUTPUT-BOUND candidate list (Q·fetch_n ids) into the corpus scan,
    then runs the O(k·fetch_n) greedy per query inside one
    `applyInPandas` group of ≤ fetch_n rows — bounded memory per group
    regardless of corpus size, Arrow-batched, no per-row Python.
    Deterministic: candidates sort by id inside the group (partition-
    layout invariance) and ties break on (score, id).

    Output: (query_id, rank, vec_id, relevance, mmr) — rank 1..min(k,
    fetch_n available), relevance = cosine(q, d), mmr = the greedy
    objective at pick time (rank 1 reports its relevance).
    """
    import numpy as np
    import pandas as pd

    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    if k > fetch_n:
        raise ValueError(f"k ({k}) must be <= fetch_n ({fetch_n})")
    cand = (
        knn_exact(
            queries,
            corpus,
            k=fetch_n,
            query_id_col=query_id_col,
            query_vec_col=query_vec_col,
            id_col=id_col,
            vec_col=vec_col,
            metric="cosine",
        )
        .select("query_id", F.col("vec_id").alias("__cid"))
    )
    with_emb = corpus.join(
        F.broadcast(cand), F.col(id_col) == F.col("__cid")
    ).select(
        "query_id",
        F.col("__cid").alias("vec_id"),
        F.col(vec_col).alias("__emb"),
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("__qv"),
    )
    grouped = with_emb.join(F.broadcast(q), "query_id")

    kk, ll = int(k), float(lam)

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        qid = pdf["query_id"].iloc[0]
        ids = pdf["vec_id"].to_numpy()
        emb = np.array(pdf["__emb"].tolist(), dtype=np.float64)
        qv = np.array(pdf["__qv"].iloc[0], dtype=np.float64)
        qn = np.linalg.norm(qv)
        en = np.linalg.norm(emb, axis=1)
        rel = emb @ qv / np.where(en * qn == 0.0, 1.0, en * qn)
        # candidate-candidate cosine, fetch_n x fetch_n — bounded
        nemb = emb / np.where(en[:, None] == 0.0, 1.0, en[:, None])
        sim = nemb @ nemb.T
        n = len(ids)
        picked: list[int] = []
        max_sim = np.zeros(n)
        out = []
        remaining = np.ones(n, dtype=bool)
        for rank in range(1, min(kk, n) + 1):
            score = ll * rel - (1.0 - ll) * max_sim if picked else rel.copy()
            score[~remaining] = -np.inf
            # argmax with min-id tie-break: ids are sorted ascending,
            # so the first maximal position IS the smallest id
            best = int(np.argmax(score))
            picked.append(best)
            remaining[best] = False
            max_sim = np.maximum(max_sim, sim[:, best])
            out.append(
                (qid, rank, int(ids[best]),
                 round(float(rel[best]), 6), round(float(score[best]), 6))
            )
        return pd.DataFrame(
            out, columns=["query_id", "rank", "vec_id", "relevance", "mmr"]
        )

    schema = (
        "query_id long, rank int, vec_id long, relevance double, mmr double"
    )
    return grouped.groupBy("query_id").applyInPandas(greedy, schema=schema)
