import numpy as np
from pyspark.sql import functions as F

from vector_search_test_spark.io import load_table
from vector_search_test_spark.operators.knn import knn_exact, topk_global


def _numpy_knn(emb: np.ndarray, ids: np.ndarray, q: np.ndarray, k: int):
    d = ((emb - q) ** 2).sum(axis=1)
    order = np.lexsort((ids, d))[:k]
    return [(int(ids[i]), float(d[i])) for i in order]


def test_topk_global_matches_numpy(spark, sf_dir):
    df = load_table(spark, sf_dir, "embeddings")
    rows = df.collect()
    ids = np.array([r.vec_id for r in rows])
    emb = np.array([r.embedding for r in rows], dtype=np.float64)
    q = emb[0]
    want = _numpy_knn(emb, ids, q, 5)
    got = [(r.vec_id, r.dist) for r in topk_global(df, list(q), k=5).collect()]
    assert [g[0] for g in got] == [w[0] for w in want]
    for g, w in zip(got, want):
        assert abs(g[1] - w[1]) < 1e-9


def test_knn_exact_matches_numpy(spark, sf_dir):
    df = load_table(spark, sf_dir, "embeddings")
    rows = df.collect()
    ids = np.array([r.vec_id for r in rows])
    emb = np.array([r.embedding for r in rows], dtype=np.float64)
    queries = (
        df.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    )
    got = knn_exact(queries, df, k=3).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append((r.vec_id, r.dist))
    for qid in range(5):
        want = _numpy_knn(emb, ids, emb[list(ids).index(qid)], 3)
        assert [g[0] for g in by_q[qid]] == [w[0] for w in want]
        # self is always the nearest neighbor at distance 0
        assert by_q[qid][0][0] == qid and abs(by_q[qid][0][1]) < 1e-12


def test_knn_returns_min_k_candidates(spark, sf_dir):
    # k > ntotal: faiss pads with -1 and the reference drops them
    # (app.py:72-73); we return min(k, n) rows (SURVEY §2.9 Q5).
    df = load_table(spark, sf_dir, "embeddings").limit(3)
    queries = df.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    ).limit(1)
    got = knn_exact(queries, df, k=10).collect()
    assert len(got) == 3


def test_salted_topk_equals_plain_window(spark):
    """Two-phase salted top-k == unsalted window, on a skewed key
    distribution (one key holds 90% of rows) at several salt widths."""
    import random

    from pyspark.sql import Window

    from vector_search_test_spark.operators.knn import salted_topk_per_key

    rng = random.Random(7)
    rows = [("hot" if i % 10 else f"k{i % 7}", i, rng.random()) for i in range(2000)]
    df = spark.createDataFrame(rows, "key string, id long, v double")
    order = [F.desc("v"), F.asc("id")]
    w = Window.partitionBy("key").orderBy(*order)
    want = sorted(
        (r.key, r.id)
        for r in df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 4)
        .collect()
    )
    for salt in (1, 4, 32):
        got = sorted(
            (r.key, r.id)
            for r in salted_topk_per_key(
                df, key_cols=["key"], order_cols=order, k=4, salt=salt
            ).collect()
        )
        assert got == want


def test_search_text_unbuilt_index_guard():
    """Reference RuntimeError guard (app.py:60-61) on an empty index."""
    import pytest

    from vector_search_test_spark.operators.ivf import IvfIndex
    from vector_search_test_spark.operators.search import search_text

    with pytest.raises(RuntimeError, match="Index not built"):
        search_text(IvfIndex(centroids=[], postings=None), "hello")


def test_range_search_contains_knn_and_thresholds(spark, sf_dir):
    """range_search at radius r returns EXACTLY the pairs under r: it
    contains every kNN hit whose dist <= r and nothing above r; a huge
    radius degenerates to the full corpus per query."""
    from vector_search_test_spark.io import load_table, spread
    from vector_search_test_spark.operators.knn import knn_exact, range_search

    emb = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding"
    )
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    r = 1.6
    hits = range_search(q, emb, radius=r)
    rows = hits.collect()
    assert rows and all(row.dist <= r for row in rows)
    knn = knn_exact(q, emb, k=5)
    knn_under = {(x.query_id, x.vec_id) for x in knn.collect() if x.dist <= r}
    got = {(x.query_id, x.vec_id) for x in rows}
    assert knn_under <= got
    n = emb.count()
    assert range_search(q, emb, radius=1e9).count() == 3 * n
    # cosine flavor: similarity >= radius
    cos = range_search(q, emb, radius=0.99, metric="cosine")
    assert all(row.dist >= 0.99 for row in cos.collect())


def test_contrastive_examples_contract(spark, sf_dir):
    """1 pos + n_neg negs per anchor; the positive is the true nearest;
    negatives never collide with the excluded top or the anchor; the
    draw is deterministic across calls."""
    from vector_search_test_spark.io import load_table, spread
    from vector_search_test_spark.operators.knn import (
        contrastive_examples,
        knn_exact,
    )

    emb = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding"
    )
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    out = contrastive_examples(q, emb, n_neg=4, exclude_top=6).collect()
    by_anchor = {}
    for r in out:
        by_anchor.setdefault(r.query_id, []).append(r)
    assert set(by_anchor) == {0, 1, 2, 3, 4}
    # ground truth: top-7 nearest (k=7 > exclude_top=6 incl. self-skip)
    top = {}
    for r in knn_exact(q, emb, k=7).collect():
        if r.query_id != r.vec_id:
            top.setdefault(r.query_id, []).append(r.vec_id)
    for a, rows in by_anchor.items():
        pos = [r for r in rows if r.role == "pos"]
        negs = sorted(
            (r for r in rows if r.role == "neg"), key=lambda r: r.rank
        )
        assert len(pos) == 1 and len(negs) == 4
        assert pos[0].vec_id == top[a][0]          # hardest positive
        excluded = set(top[a][:6]) | {a}
        assert not excluded & {r.vec_id for r in negs}
        assert [r.rank for r in negs] == [1, 2, 3, 4]
    again = contrastive_examples(q, emb, n_neg=4, exclude_top=6).collect()
    key = lambda rs: sorted((r.query_id, r.vec_id, r.role, r.rank) for r in rs)
    assert key(again) == key(out)


# ---------------------------------------------------------------------------
# MMR diversified rerank (knn.py::mmr_rerank — iterative, certified by
# numpy cross-check + reduction/invariance properties, no SQL twin)
# ---------------------------------------------------------------------------


def _numpy_mmr(emb, ids, q, k, fetch_n, lam):
    """Independent greedy reference (sorted-id tie-break like the op)."""
    qn = np.linalg.norm(q)
    en = np.linalg.norm(emb, axis=1)
    cos = emb @ q / np.where(en * qn == 0.0, 1.0, en * qn)
    cand = np.lexsort((ids, -cos))[:fetch_n]
    cid = ids[cand]
    order = np.argsort(cid)
    cid, cemb = cid[order], emb[cand][order]
    cn = np.linalg.norm(cemb, axis=1)
    rel = cemb @ q / np.where(cn * qn == 0.0, 1.0, cn * qn)
    nemb = cemb / np.where(cn[:, None] == 0.0, 1.0, cn[:, None])
    sim = nemb @ nemb.T
    n, out, rem = len(cid), [], np.ones(len(cid), dtype=bool)
    max_sim = np.zeros(n)
    for rank in range(1, min(k, n) + 1):
        score = (lam * rel - (1 - lam) * max_sim) if out else rel.copy()
        score[~rem] = -np.inf
        b = int(np.argmax(score))
        rem[b] = False
        max_sim = np.maximum(max_sim, sim[:, b])
        out.append((rank, int(cid[b]), round(float(rel[b]), 6),
                    round(float(score[b]), 6)))
    return out


def test_mmr_matches_numpy_reference(spark, sf_dir):
    from vector_search_test_spark.io import spread
    from vector_search_test_spark.operators.knn import mmr_rerank

    df = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding"
    )
    rows = df.collect()
    ids = np.array([r.vec_id for r in rows])
    emb = np.array([r.embedding for r in rows], dtype=np.float64)
    qdf = df.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    got = mmr_rerank(qdf, df, k=5, fetch_n=20, lam=0.7).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(
            (r.rank, r.vec_id, r.relevance, r.mmr)
        )
    for qid in range(4):
        want = _numpy_mmr(
            emb, ids, emb[list(ids).index(qid)], 5, 20, 0.7
        )
        assert sorted(by_q[qid]) == want


def test_mmr_lam1_reduces_to_cosine_topk(spark, sf_dir):
    from vector_search_test_spark.io import spread
    from vector_search_test_spark.operators.knn import knn_exact, mmr_rerank

    df = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding"
    )
    qdf = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    got = {
        (r.query_id, r.rank): r.vec_id
        for r in mmr_rerank(qdf, df, k=5, fetch_n=20, lam=1.0).collect()
    }
    base = knn_exact(qdf, df, k=5, metric="cosine").collect()
    by_q = {}
    for r in base:
        by_q.setdefault(r.query_id, []).append(r.vec_id)
    for qid, picks in by_q.items():
        assert [got[(qid, i + 1)] for i in range(5)] == picks


def test_mmr_diversity_and_invariance(spark):
    """A near-duplicate of the top hit is picked by λ=1 but SKIPPED by
    λ=0.5 in favor of a diverse doc; result is partition-invariant."""
    from vector_search_test_spark.operators.knn import mmr_rerank

    rows = [
        (1, [1.0, 0.0, 0.0]),        # top hit
        (2, [0.98, 0.0, 0.0]),       # exact duplicate direction of 1
        (3, [0.5, 0.85, 0.0]),       # diverse, still relevant
        (4, [0.1, 0.2, 0.97]),       # diverse, less relevant
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # query NOT parallel to doc 1 — otherwise rel(d) == sim(d, doc1)
    # and every λ=0.5 score degenerates to 0
    q = spark.createDataFrame(
        [(0, [0.9, 0.4, 0.1])], "query_id long, query_vec array<double>"
    )
    dup = [
        r.vec_id
        for r in mmr_rerank(q, df, k=2, fetch_n=4, lam=1.0)
        .orderBy("rank").collect()
    ]
    assert dup == [1, 2]
    div = [
        r.vec_id
        for r in mmr_rerank(q, df, k=2, fetch_n=4, lam=0.5)
        .orderBy("rank").collect()
    ]
    assert div[0] == 1 and div[1] != 2
    again = [
        r.vec_id
        for r in mmr_rerank(q, df.repartition(5), k=2, fetch_n=4, lam=0.5)
        .orderBy("rank").collect()
    ]
    assert again == div


def test_mmr_validation(spark):
    import pytest

    from vector_search_test_spark.operators.knn import mmr_rerank

    df = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    q = spark.createDataFrame(
        [(0, [1.0, 0.0])], "query_id long, query_vec array<double>"
    )
    with pytest.raises(ValueError):
        mmr_rerank(q, df, k=5, fetch_n=3)
    with pytest.raises(ValueError):
        mmr_rerank(q, df, lam=1.5)


def test_label_propagation_planted_clusters(spark):
    """Two well-separated seed clusters: every target takes its
    cluster's label unanimously."""
    from vector_search_test_spark.operators.knn import knn_label_propagation

    seeds = spark.createDataFrame(
        [(0, [0.0, 0.0], 7), (1, [0.1, 0.0], 7),
         (2, [10.0, 10.0], 3), (3, [10.1, 10.0], 3)],
        "vec_id long, embedding array<float>, label int",
    )
    targets = spark.createDataFrame(
        [(10, [0.05, 0.05]), (11, [9.9, 10.2])],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["id"]: r
        for r in knn_label_propagation(targets, seeds, k=2).collect()
    }
    assert got[10]["pred_label"] == 7 and got[10]["vote_frac"] == 1.0
    assert got[11]["pred_label"] == 3 and got[11]["n_votes"] == 2
    assert got[10]["n_considered"] == 2


def test_label_propagation_tie_breaks_on_best_rank_then_label(spark):
    """k=2 with one vote per label: the label of the NEAREST seed wins
    (best supporting rank), not the smaller label."""
    from vector_search_test_spark.operators.knn import knn_label_propagation

    seeds = spark.createDataFrame(
        [(0, [1.0, 0.0], 9), (1, [2.0, 0.0], 1)],
        "vec_id long, embedding array<float>, label int",
    )
    targets = spark.createDataFrame(
        [(10, [0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    r = knn_label_propagation(targets, seeds, k=2).collect()[0]
    # seed 0 (label 9) is nearer -> rank 1 beats label 1's rank 2
    assert r["pred_label"] == 9 and r["n_votes"] == 1
    assert r["vote_frac"] == 0.5
    # exact equidistance: same dist -> rank by seed id -> seed 0 again
    seeds_eq = spark.createDataFrame(
        [(0, [1.0, 0.0], 9), (1, [-1.0, 0.0], 1)],
        "vec_id long, embedding array<float>, label int",
    )
    r2 = knn_label_propagation(targets, seeds_eq, k=2).collect()[0]
    assert r2["pred_label"] == 9


def test_label_propagation_broadcasts_seeds_not_targets(spark):
    """The 100 TB orientation: the seed side must be the broadcast
    side so the target corpus never moves."""
    from vector_search_test_spark.operators.knn import knn_label_propagation

    seeds = spark.createDataFrame(
        [(0, [0.0, 0.0], 1)], "vec_id long, embedding array<float>, label int"
    )
    targets = spark.createDataFrame(
        [(10, [1.0, 1.0])], "vec_id long, embedding array<float>"
    )
    plan = knn_label_propagation(targets, seeds, k=1)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan


def test_mrl_two_stage_equals_exact_at_full_shortlist(spark, sf_dir):
    """With shortlist_r >= corpus size, stage 1 keeps everything and
    the two-stage result IS exact brute-force top-k."""
    from vector_search_test_spark.io import load_table, spread
    from vector_search_test_spark.operators.knn import (
        knn_exact,
        mrl_two_stage_topk,
    )

    emb = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding"
    )
    n = emb.count()
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    got = {
        (r.query_id, r.vec_id): round(r.dist, 6)
        for r in mrl_two_stage_topk(
            q, emb, k=5, shortlist_r=n, prefix_dim=16
        ).collect()
    }
    want = {
        (r.query_id, r.vec_id): round(r.dist, 6)
        for r in knn_exact(q, emb, k=5).collect()
    }
    assert got == want


def test_mrl_two_stage_planted_semantics(spark):
    """Planted geometry: a decoy with a perfect PREFIX but a huge tail
    is shortlisted by stage 1 and correctly re-ranked out by stage 2;
    a vector close at full width but far in the prefix never enters
    the shortlist (the recall cost the curve measures)."""
    from vector_search_test_spark.operators.knn import mrl_two_stage_topk

    # 4-dim embeddings, prefix_dim=2, R=2, k=2.  Query = [0,0,0,0].
    rows = [
        (0, [0.0, 0.0, 0.0, 0.0]),     # the query itself: dist 0
        (1, [0.0, 0.0, 9.0, 9.0]),     # perfect prefix, huge tail
        (2, [0.1, 0.1, 0.0, 0.0]),     # near-perfect everywhere
        (3, [5.0, 5.0, 0.0, 0.0]),     # bad prefix, tail identical
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0, 0.0])], "query_id long, query_vec array<float>"
    )
    # stage 1 prefix order: 0 (0.0), 1 (0.0, tie -> id), 2 (0.02), 3 (50)
    # R=2 shortlist = {0, 1}; stage 2 full dists: 0 -> 0.0, 1 -> 162
    out = [
        (r.vec_id, round(r.dist, 4))
        for r in mrl_two_stage_topk(
            q, emb, k=2, shortlist_r=2, prefix_dim=2
        ).orderBy("dist").collect()
    ]
    assert out == [(0, 0.0), (1, 162.0)]
    # R=3 admits vec 2, which then beats the big-tail decoy
    out3 = [
        r.vec_id
        for r in mrl_two_stage_topk(
            q, emb, k=2, shortlist_r=3, prefix_dim=2
        ).orderBy("dist").collect()
    ]
    assert out3 == [0, 2]
    import pytest

    with pytest.raises(ValueError):
        mrl_two_stage_topk(q, emb, prefix_dim=0)


def test_mrl_two_stage_plan_shape(spark, sf_dir):
    """Stage-1 window must carry WindowGroupLimit (partition-local
    top-R before the shuffle) and the full-width vectors must only
    ride the R-row candidate join, never the stage-1 score."""
    from vector_search_test_spark.io import load_table, spread
    from vector_search_test_spark.operators.knn import mrl_two_stage_topk

    emb = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding"
    )
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    plan = (
        mrl_two_stage_topk(q, emb, k=5, shortlist_r=20, prefix_dim=16)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan
