"""Similarity clustering (reference app.py:77-114, SURVEY §2.6).

Reference pipeline: batched self-kNN (`index.search(self.embeddings, 10)`,
app.py:85) -> edge (i, j) iff `i != j and dist < threshold` (app.py:93)
-> undirected graph keyed by sentence *text* (duplicates collapse,
app.py:88-89) -> `nx.connected_components` (app.py:96) -> components with
>1 member numbered 0..m-1, everything else cluster_id = -1 (app.py:98-110)
-> (sentence, cluster_id) export (app.py:112).

Spark-first mapping:

- self-kNN: full probe (nprobe None or >= nlist, the exact graph) is the
  exact self-kNN (`knn_exact`: each partition scores its rows against
  every query and keeps a local top-k, one window merges them) with no
  index build, so `nlist` and `seed` matter only when nprobe < nlist,
  where an IVF index is trained and probed by `ivf_search_all`, the
  same scan restricted to each query's probed cells. Either way the
  query side, which is the deduped corpus itself, is collected to the
  driver.
- edges (G1): filters P4 (`src != dst`) + P5 (`dist < theta`) over the kNN
  result, canonicalized to (least, greatest) + dropDuplicates — one row
  per undirected edge, which halves the state the CC loop carries. The
  edge list is checkpointed once and read once: one bounded collect of
  at most _DRIVER_MAX_EDGES + 1 rows.
- connected components (G2): under _DRIVER_MAX_EDGES edges, union-find
  on the driver over that collect. Past it, iterative min-label
  propagation over the checkpoint — each round every node takes
  min(own label, neighbors' labels); fixpoint after O(graph diameter)
  rounds. Each round is one shuffle (groupBy id);
  `localCheckpoint()` truncates the lineage so round N's plan does not
  re-execute rounds 1..N-1 (SURVEY §4 hazards). Convergence is detected
  by the sum of labels (strictly decreasing until fixpoint — one cheap
  agg, no extra join). For graphs with large diameter at 100 TB scale the
  large-star/small-star alternation (Kiveris et al., SoCC'14) converges in
  O(log n) rounds with the same per-round primitives; similarity graphs
  from thresholded kNN have small diameter, so min-propagation is the
  simpler right default.
- numbering (G3): multi-member components dense-ranked by their min-id
  label (deterministic — replaces nx's set-iteration order, SURVEY §2.9
  Q6), singletons -> -1. When the union-find labels are on the driver,
  the rank runs in Python and one broadcast left join carries it to the
  corpus (`label_clusters`); past the edge bound, component sizes via
  groupBy and a global rank window over one row per multi-member
  component (`number_clusters`), joined back broadcast.
- text-keyed dedup boundary (G5): `dedupe_by_text` collapses duplicate
  texts to their min-id occurrence BEFORE the graph is built, reproducing
  the reference's node-keyed-by-text semantics (SURVEY §2.9 Q1).
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def similarity_edges(
    knn: DataFrame,
    threshold: float,
    query_col: str = "query_id",
    id_col: str = "vec_id",
    dist_col: str = "dist",
) -> DataFrame:
    """G1 — edge build from a kNN result (app.py:87-94).

    Applies P4 (self-match filter, `i != j`) and P5 (threshold predicate,
    `dist < theta`, strict — app.py:93) and canonicalizes each undirected
    edge to (src=min, dst=max), deduplicated.
    """
    e = knn.filter(
        (F.col(query_col) != F.col(id_col)) & (F.col(dist_col) < F.lit(threshold))
    )
    return e.select(
        F.least(query_col, id_col).alias("src"),
        F.greatest(query_col, id_col).alias("dst"),
    ).dropDuplicates()


def _driver_components(pairs) -> dict[int, int]:
    """Union-find over collected (src, dst) edge pairs: component = min
    node id.

    Unions always attach the larger root under the smaller, so every
    root IS its component's minimum id; path-halving keeps the scan
    near-linear. Only nodes that appear in an edge are returned —
    singletons never leave the cluster.
    """
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in pairs:
        parent.setdefault(s, s)
        parent.setdefault(d, d)
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[max(rs, rd)] = min(rs, rd)
    return {v: find(v) for v in parent}


# Edge lists at or below this ride the driver union-find; above it, the
# distributed label-propagation loop. 4M edges collect to ~100 MB of
# Python dict — trivial for the driver — while the distributed loop's
# per-round fixed cost (6+ shuffles/round) is seconds of pure overhead
# at that size. Thresholded on EDGES, not nodes: a billion-node corpus
# whose threshold graph is sparse still takes the fast path, because
# singletons never leave the cluster.
_DRIVER_MAX_EDGES = 4_000_000


def _read_edges(edges: DataFrame) -> dict[int, int] | None:
    """Read a materialized edge list once: the node -> min-id component
    map from one bounded collect, or None when the list holds more than
    _DRIVER_MAX_EDGES rows — then the caller runs the distributed loop
    over the same materialized list. Materializing (a checkpoint) is
    what keeps the upstream pipeline (kNN scoring + window, or the
    MinHash band joins) to one execution on both paths.
    """
    # coalesce(1): a limit over many partitions collects in rounds of
    # growing partition counts (one job each); over one it is one job.
    # Arrow, not Rows: 4M edges are 64 MB of columns, but ~1.3 GB of Rows
    table = edges.coalesce(1).limit(_DRIVER_MAX_EDGES + 1).toArrow()
    if table.num_rows > _DRIVER_MAX_EDGES:
        return None
    return _driver_components(
        pair
        for batch in table.to_batches(max_chunksize=1 << 16)
        for pair in zip(batch.column(0).to_pylist(), batch.column(1).to_pylist())
    )


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    max_iter: int = 50,
) -> DataFrame:
    """G2 — connected components (app.py:96).

    nodes: one row per node (``id_col``); edges: (src, dst), undirected
    (either orientation). Returns (id, component) where component = min
    node id in the component.

    Edge lists of at most _DRIVER_MAX_EDGES rows: collect edges,
    union-find on the driver, broadcast the (node -> component) map back
    over the distributed node set — one join, no iteration. Larger: the
    min-label-propagation + pointer-jumping loop below — the 100 TB
    path, O(log diameter) checkpointed rounds. Both produce identical
    labels (min id per component).
    """
    edges = edges.select("src", "dst").localCheckpoint()
    comp = _read_edges(edges)
    if comp is None:
        return _propagate_components(nodes, edges, id_col, max_iter)
    ids = nodes.select(F.col(id_col).cast("long").alias("id"))
    if not comp:
        return ids.withColumn("component", F.col("id"))
    mapping = nodes.sparkSession.createDataFrame(
        list(comp.items()), "id long, __label long"
    )
    return ids.join(F.broadcast(mapping), "id", "left").select(
        "id", F.coalesce("__label", "id").alias("component")
    )


def _propagate_components(
    nodes: DataFrame, edges: DataFrame, id_col: str = "id", max_iter: int = 50
) -> DataFrame:
    """The distributed form of connected_components over an already
    checkpointed (src, dst) edge list."""
    # Materialize the symmetrized edge list ONCE, so every iteration's
    # join reads both orientations without re-running the union.
    sym = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    labels = nodes.select(
        F.col(id_col).cast("long").alias("id"), F.col(id_col).cast("long").alias("label")
    ).localCheckpoint()
    prev_sum = labels.agg(F.sum("label")).first()[0]
    def step(lab):
        """One min-label-propagation round + one pointer jump.

        Pointer jumping (label := label(label)) turns O(diameter)
        convergence into O(log diameter) — the large-star trick of
        Kiveris et al., SoCC'14 — since labels are always node ids, so
        the lookup is a self-join.
        """
        nbr = (
            sym.join(lab, sym.src == lab.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = lab.join(nbr, "id", "left").select(
            "id",
            F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias("label"),
        )
        return (
            stepped.alias("x")
            .join(
                stepped.select(
                    F.col("id").alias("jid"), F.col("label").alias("jlabel")
                ),
                F.col("x.label") == F.col("jid"),
                "left",
            )
            .select(
                F.col("x.id").alias("id"),
                F.least(
                    F.col("x.label"), F.coalesce("jlabel", F.col("x.label"))
                ).alias("label"),
            )
        )

    # two steps per checkpoint + convergence check: the materialization
    # job and the sum agg are the per-round fixed costs (they dominate on
    # small/medium graphs); a 2-step lineage is still shallow enough not
    # to re-execute anything expensive. Worst case one extra (no-op)
    # round past the fixpoint.
    for _ in range(max_iter):
        labels = step(step(labels)).localCheckpoint()
        cur_sum = labels.agg(F.sum("label")).first()[0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.withColumnRenamed("label", "component")


def number_clusters(components: DataFrame, id_col: str = "id") -> DataFrame:
    """G3 — multi-member components get 0..m-1 (ranked by min-id label),
    singletons get -1 (app.py:98-110, determinized per SURVEY §2.9 Q6).

    Returns (id, cluster_id).
    """
    sizes = components.groupBy("component").agg(F.count("*").alias("sz"))
    multi = sizes.filter(F.col("sz") > 1).select(
        "component",
        (F.dense_rank().over(Window.orderBy("component")) - 1).alias("cluster_id"),
    )
    return components.join(F.broadcast(multi), "component", "left").select(
        F.col(id_col),
        F.coalesce("cluster_id", F.lit(-1)).cast("long").alias("cluster_id"),
    )


def label_clusters(
    deduped: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
) -> DataFrame:
    """G2 + G3 over a similarity graph: (text, cluster_id), one row per
    `deduped` row, numbered exactly as number_clusters numbers
    connected_components' labels.

    Under _DRIVER_MAX_EDGES the union-find labels are already on the
    driver, and every edge endpoint is a `deduped` row, so the dense
    rank of the multi-member labels runs in Python and one broadcast
    left join of the (id, cluster_id) map finishes the job — no size
    groupBy, no global window. Over the bound: the distributed loop and
    number_clusters.

    `edges` must be materialized (as `similarity_graph` returns it): the
    distributed loop reads it again after the bounded collect."""
    ids = deduped.select(F.col(id_col).alias("id"), F.col(text_col))
    comp = _read_edges(edges)
    if comp is None:
        assign = number_clusters(_propagate_components(ids, edges))
        return assign.join(ids, "id").select(text_col, "cluster_id")
    sizes = Counter(comp.values())
    rank = {
        label: i
        for i, label in enumerate(sorted(c for c, n in sizes.items() if n > 1))
    }
    mapping = deduped.sparkSession.createDataFrame(
        [(v, rank[c]) for v, c in comp.items() if c in rank],
        "id long, cluster_id long",
    )
    return ids.join(F.broadcast(mapping), "id", "left").select(
        text_col, F.coalesce("cluster_id", F.lit(-1)).cast("long").alias("cluster_id")
    )


def dedupe_by_text(
    corpus: DataFrame, id_col: str = "id", text_col: str = "text"
) -> DataFrame:
    """G5 — text-keyed collapse boundary (SURVEY §2.9 Q1).

    Duplicate texts become one row, keeping the minimum id's row (min_by is
    a map-side-combinable agg — one shuffle on text, no window sort).
    """
    others = [c for c in corpus.columns if c not in (id_col, text_col)]
    aggs = [F.min(id_col).alias(id_col)] + [
        F.min_by(c, F.col(id_col)).alias(c) for c in others
    ]
    return corpus.groupBy(text_col).agg(*aggs).select(corpus.columns)


def cluster_members(
    assignments: DataFrame, text_col: str = "text", as_string: bool = True
) -> DataFrame:
    """G4 — membership lists per cluster (app.py:101-103; display-only:
    collect_list never belongs on a 100 TB path, SURVEY §4).

    as_string=True (default) emits `members` as a deterministic
    '|'-joined sorted scalar — hashable by any downstream comparator;
    as_string=False keeps the raw array<string> for programmatic use.
    """
    members = F.sort_array(F.collect_list(text_col))
    if as_string:
        members = F.concat_ws("|", members)
    return (
        assignments.filter(F.col("cluster_id") >= 0)
        .groupBy("cluster_id")
        .agg(
            F.count("*").alias("size"),
            members.alias("members"),
        )
    )


def clusters_by_size(
    assignments: DataFrame, cap_over: int | None = 500, cap_to: int = 100
) -> DataFrame:
    """O2 + O3 — cluster sizes sorted desc (app.py:288), display-capped to
    `cap_to` when there are more than `cap_over` clusters (app.py:293-295).

    cap_over=None disables the display cap (and its extra count job) —
    the right form for programmatic/oracle-checked consumers, where a
    silently truncated result would masquerade as the full answer.
    """
    sizes = (
        assignments.filter(F.col("cluster_id") >= 0)
        .groupBy("cluster_id")
        .agg(F.count("*").alias("size"))
        .orderBy(F.desc("size"), F.asc("cluster_id"))
    )
    if cap_over is None:
        return sizes
    n_clusters = sizes.count()
    return sizes.limit(cap_to) if n_clusters > cap_over else sizes


def semantic_dedup(assignments: DataFrame, text_col: str = "text") -> DataFrame:
    """Semantic dedup over cluster assignments: keep ONE representative
    per multi-member cluster (deterministic: lexicographic min text) and
    every unclustered (-1) text as its own representative — the
    cluster-at-low-θ dedup a training pipeline runs after near-dedup.
    Returns (text, cluster_id) of the KEPT rows."""
    multi = (
        assignments.filter(F.col("cluster_id") >= 0)
        .groupBy("cluster_id")
        .agg(F.min(text_col).alias(text_col))
        .select(text_col, "cluster_id")
    )
    singles = assignments.filter(F.col("cluster_id") == -1).select(
        text_col, "cluster_id"
    )
    return multi.unionByName(singles)


def unassigned(assignments: DataFrame) -> DataFrame:
    """P6 — the cluster_id = -1 rows (app.py:306)."""
    return assignments.filter(F.col("cluster_id") == -1)


def similarity_graph(
    corpus: DataFrame,
    threshold: float = 0.75,
    k: int = 10,
    nlist: int = 4,
    nprobe: int | None = None,
    id_col: str = "id",
    text_col: str = "text",
    vec_col: str = "embedding",
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """The shared dedupe -> self-kNN -> threshold-edges graph build
    (extracted from similarity_clusters so pagerank composes on the
    identical edge list). Returns (deduped_corpus, canonical_edges),
    both checkpointed.

    Full probe (nprobe None or >= nlist) is the exact self-kNN,
    `knn_exact`, with no index build: an exhaustive IVF search is
    the same exact scan, so centroids would be trained for nothing.
    `nlist` and `seed` matter only when nprobe < nlist, where an IVF
    index is trained and probed. Both searches collect their query side
    — here the whole deduped corpus — to the driver, so this graph
    build is for corpora that fit in driver memory."""
    from vector_search_test_spark.io import spread
    from vector_search_test_spark.operators.ivf import ivf_build, ivf_search_all
    from vector_search_test_spark.operators.knn import knn_exact

    # Materialize the deduped corpus once: it feeds the query side, the
    # scanned side (or KMeans train and postings) and the final text
    # join, and Spark does not common-subexpression-eliminate repeated
    # subplans — without this each consumer re-runs the groupBy(text)
    # shuffle.
    deduped = dedupe_by_text(corpus, id_col=id_col, text_col=text_col).localCheckpoint()
    # AQE coalesces the dedup shuffle of a small corpus to ONE partition,
    # which then serializes the O(n^2)-ish self-kNN scoring downstream
    # (measured 4x on 2k x 2k). Spread it back out to the cluster's
    # parallelism (checked AFTER materializing — only the executed plan
    # shows AQE's real partition count); at scale the shuffle already
    # has >= that many partitions and spread() is a no-op.
    respread = spread(deduped)
    if respread is not deduped:
        deduped = respread.localCheckpoint()
    queries = deduped.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
    )
    if nprobe is None or nprobe >= nlist:
        knn = knn_exact(queries, deduped, k=k, id_col=id_col, vec_col=vec_col)
    else:
        idx = ivf_build(deduped, nlist=nlist, id_col=id_col, vec_col=vec_col, seed=seed)
        idx.postings = idx.postings.localCheckpoint()
        knn = ivf_search_all(idx, queries, k=k, nprobe=nprobe)
    return deduped, similarity_edges(knn, threshold).localCheckpoint()


def similarity_clusters(
    corpus: DataFrame,
    threshold: float = 0.75,
    k: int = 10,
    nlist: int = 4,
    nprobe: int | None = None,
    id_col: str = "id",
    text_col: str = "text",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """End-to-end `find_similarity_clusters` (reference app.py:77-114).

    corpus: (id, text, embedding). nprobe=None probes all cells (exact
    graph — the deterministic oracle configuration, SURVEY §2.9 Q3),
    which runs the exact Arrow self-kNN with no index build, so `nlist`
    and `seed` matter only when nprobe < nlist; the reference's own
    defaults are k=10, nprobe=2 (approximate). A text whose embedding
    is invalid (NULL, the wrong width, a NULL or NaN element) gets no
    edge, so it is cluster -1.
    Returns (text, cluster_id): one row per distinct text.
    """
    deduped, edges = similarity_graph(
        corpus,
        threshold=threshold,
        k=k,
        nlist=nlist,
        nprobe=nprobe,
        id_col=id_col,
        text_col=text_col,
        vec_col=vec_col,
        seed=seed,
    )
    return label_clusters(deduped, edges, id_col=id_col, text_col=text_col)


def pagerank(
    edges: DataFrame,
    iters: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank over an undirected similarity graph (Brin & Page 1998;
    power iteration, `iters` fixed rounds) — the centrality gauge of
    the near-dup graph: a high-rank document sits in a dense
    template/boilerplate neighborhood (the canonical pick for "which
    duplicate cluster members matter"), complementing connected
    components (which only says WHICH cluster, not how central).

    `edges`: the canonical (src < dst) deduplicated edge table
    (similarity_edges). Each edge counts in both directions; nodes are
    the edge endpoints (singletons carry no edges and are excluded by
    construction — document-level rank for them is the uniform
    (1-d)/N floor anyway). Returns (id, rank) with rank rounded 6dp;
    ranks sum to ~1 over the node set.

    Plan (100 TB): the directed edge list and the (id, deg, n) rank
    table are localCheckpoint()ed (multi-round consumers); each round
    is ONE shuffle — contributions equi-join ranks on the source and
    aggregate on the destination (map-side combine), the inherent
    power-iteration data motion (Pregel's shape). Rounds are bounded
    (`iters`), so the DuckDB twin unrolls them — fixed rounds are the
    CONTRACT, not a fixpoint claim: the iterate contracts in L1 at
    rate <= `damping` per round (measured 0.84-0.85 on the fixture
    graph, test_pagerank_five_round_contraction_measured), so 5 rounds
    is a bounded-round approximation; production convergence to eps
    needs ~log(eps/d0)/log(damping) rounds, iterated to an L1-delta
    stop. Determinism: the only
    order-sensitive step is the per-destination float sum, so each
    contribution quantizes to a 1e-12 integer first (the repo's
    quantized-sum pattern) and the grouped sum is exact; every other
    step is per-row double arithmetic with identical literals in both
    engines."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    d = float(damping)
    und = (
        edges.select("src", "dst")
        .union(
            edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = und.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("deg"))
    nn = deg.agg(F.count("*").alias("n"))
    ranks = (
        deg.crossJoin(F.broadcast(nn))
        .withColumn("rank", F.lit(1.0) / F.col("n"))
        .localCheckpoint(eager=False)
    )
    for _ in range(int(iters)):
        contribs = und.join(
            ranks.select(
                F.col("id").alias("src"),
                F.round(F.col("rank") / F.col("deg") * F.lit(1e12))
                .cast("long")
                .alias("q"),
            ),
            "src",
        )
        sums = contribs.groupBy(F.col("dst").alias("id")).agg(
            F.sum("q").alias("s")
        )
        ranks = (
            ranks.drop("rank")
            .join(sums, "id")
            .withColumn(
                "rank",
                F.lit(1.0 - d) / F.col("n")
                + F.lit(d) * (F.col("s") / F.lit(1e12)),
            )
            .drop("s")
            .localCheckpoint(eager=False)
        )
    return ranks.select("id", F.round("rank", 6).alias("rank"))
