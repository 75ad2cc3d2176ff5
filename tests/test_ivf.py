"""IVF index tests (SURVEY §5.2, §5.6).

Exactness gate: with nprobe = nlist every inverted list is scanned, so the
IVF path must match the brute-force oracle bit-for-bit (reference
semantics: faiss IndexIVFFlat degenerates to exact search when all cells
are probed, app.py:65-75). Recall at nprobe < nlist is pinned to a floor.
"""

from pyspark.sql import functions as F

from vector_search_test_spark.io import load_table
from vector_search_test_spark.operators.ivf import (
    ivf_build,
    ivf_load,
    ivf_save,
    ivf_search,
    ivf_search_all,
)
from vector_search_test_spark.operators.knn import knn_exact, topk_global


def _queries(df, n):
    return df.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def test_ivf_assignment_total_and_exclusive(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    idx = ivf_build(emb, nlist=4)
    n = emb.count()
    assert idx.ntotal() == n
    cells = idx.postings.groupBy("list_id").count().collect()
    assert sum(r["count"] for r in cells) == n
    assert all(0 <= r.list_id < 4 for r in cells)
    # every vector lands in exactly one cell
    assert idx.postings.select("vec_id").distinct().count() == n


def test_ivf_search_exact_at_full_probe(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    idx = ivf_build(emb, nlist=4)
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first().embedding]
    got = ivf_search(idx, qvec, k=5, nprobe=4).collect()
    want = topk_global(emb, qvec, k=5).collect()
    assert [(r.vec_id, r.dist) for r in got] == [(r.vec_id, r.dist) for r in want]


def test_ivf_search_curve_rows_match_per_value_searches(spark, sf_dir):
    """The one-pass multi-nprobe sweep (ivf_search_curve) must be
    ROW-IDENTICAL to running ivf_search_all once per nprobe value —
    including the clamp/dedupe contract (requested 8 on an nlist=4
    index clamps to 4 and dedupes against the requested 4)."""
    from vector_search_test_spark.operators.ivf import ivf_search_curve

    emb = load_table(spark, sf_dir, "embeddings")
    idx = ivf_build(emb, nlist=4)
    q = _queries(emb, 8)
    got = sorted(
        (r.nprobe, r.query_id, r.vec_id, round(r.dist, 9))
        for r in ivf_search_curve(idx, q, k=3, nprobes=(1, 2, 4, 8)).collect()
    )
    want = sorted(
        (p, r.query_id, r.vec_id, round(r.dist, 9))
        for p in (1, 2, 4)  # 8 clamps to nlist=4 and dedupes away
        for r in ivf_search_all(idx, q, k=3, nprobe=p).collect()
    )
    assert got == want


def test_ivf_search_all_exact_at_full_probe(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    idx = ivf_build(emb, nlist=4)
    q = _queries(emb, 10)
    got = sorted(
        (r.query_id, r.vec_id, r.dist)
        for r in ivf_search_all(idx, q, k=3, nprobe=4).collect()
    )
    want = sorted(
        (r.query_id, r.vec_id, r.dist) for r in knn_exact(q, emb, k=3).collect()
    )
    assert got == want


def test_ivf_recall_at_partial_probe(spark, sf_dir):
    """Partial-probe recall@5 must clear floors pinned on the fixture.

    Approximation is part of the spec (SURVEY §2.9 Q3). Floors are
    calibrated for BALANCED centroids (seeded Lloyd's): on the sf0.001
    fixture nprobe=2/8 scans ~25% of the corpus and observes recall
    ~0.60; nprobe=4 scans ~50% and observes ~0.83. (The old 0.70 floor
    at nprobe=2 was an artifact of MLlib k-means|| producing singleton
    cells + one 129/500 mega-cell — probing 2 cells then scanned ~47%
    of all points. Higher recall, but only by scanning twice the data;
    balanced cells are strictly better at fixed scan cost and are what
    even partition sizes at 100 TB require.)
    """
    emb = load_table(spark, sf_dir, "embeddings")
    idx = ivf_build(emb, nlist=8)
    q = _queries(emb, 50)
    exact_sets = {}
    for r in knn_exact(q, emb, k=5).collect():
        exact_sets.setdefault(r.query_id, set()).add(r.vec_id)
    total = sum(len(s) for s in exact_sets.values())
    for nprobe, floor in [(2, 0.50), (4, 0.70)]:
        approx_sets = {}
        for r in ivf_search_all(idx, q, k=5, nprobe=nprobe).collect():
            approx_sets.setdefault(r.query_id, set()).add(r.vec_id)
        hits = sum(
            len(approx_sets.get(q, set()) & s) for q, s in exact_sets.items()
        )
        assert hits / total >= floor, f"recall@5 at nprobe={nprobe}"


def test_ivf_save_load_roundtrip(spark, sf_dir, tmp_path):
    """S3/S4: persisted index returns bit-identical search results
    (SURVEY §5.6 — the reference re-encodes on load, app.py:134-145;
    we persist embeddings so load is pure IO)."""
    emb = load_table(spark, sf_dir, "embeddings")
    idx = ivf_build(emb, nlist=4)
    path = str(tmp_path / "ivf_index")
    ivf_save(idx, path)
    idx2 = ivf_load(spark, path)
    assert idx2.nlist == 4 and idx2.ntotal() == idx.ntotal()
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 7).first().embedding]
    before = [(r.vec_id, r.dist) for r in ivf_search(idx, qvec, k=5, nprobe=4).collect()]
    after = [(r.vec_id, r.dist) for r in ivf_search(idx2, qvec, k=5, nprobe=4).collect()]
    assert before == after
    # partition pruning: the probed read should touch only nprobe partitions
    plan = ivf_search(idx2, qvec, k=5, nprobe=2)._jdf.queryExecution().executedPlan().toString()
    assert "list_id" in plan


def test_postings_write_salted_layout(spark, sf_dir, tmp_path):
    """r11: when nlist < cores the postings sink salts its shuffle key
    so every core writes — file count bounded by max(cores, nlist),
    never parts * nlist, and every row still lands in its list_id
    partition directory (pruning intact)."""
    import glob
    import os

    from vector_search_test_spark.operators.ivf import (
        write_partitioned_postings,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    idx = ivf_build(emb, nlist=4)
    path = str(tmp_path / "salted_postings")
    write_partitioned_postings(idx.postings, path, nlist=4)
    par = spark.sparkContext.defaultParallelism
    files = glob.glob(os.path.join(path, "list_id=*", "*.parquet"))
    dirs = {os.path.basename(os.path.dirname(f)) for f in files}
    assert dirs == {f"list_id={i}" for i in range(4)}
    assert len(files) <= max(par, 4)
    # roundtrip: contents identical to the unsalted layout
    back = spark.read.parquet(path)
    assert back.count() == idx.postings.count()
    got = {(r.vec_id, r.list_id) for r in back.select("vec_id", "list_id").collect()}
    want = {(r.vec_id, r.list_id) for r in idx.postings.select("vec_id", "list_id").collect()}
    assert got == want


def test_ivf_add_matches_full_build_at_exact_probe(spark, sf_dir):
    """train-on-half + add-the-rest, searched at nprobe=nlist, must equal
    exact brute force over the FULL corpus (cell layout is irrelevant
    when every cell is probed — the faiss train/add split semantics)."""
    from vector_search_test_spark.operators.ivf import ivf_add, ivf_build, ivf_search
    from vector_search_test_spark.operators.knn import topk_global

    emb = load_table(spark, sf_dir, "embeddings")
    half1 = emb.filter(F.col("vec_id") % 2 == 0)
    half2 = emb.filter(F.col("vec_id") % 2 == 1)
    idx = ivf_add(ivf_build(half1, nlist=4), half2)
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 3).first().embedding]
    got = [(r.vec_id, round(r.dist, 9)) for r in ivf_search(idx, qvec, k=7, nprobe=4).collect()]
    want = [(r.vec_id, round(r.dist, 9)) for r in topk_global(emb, qvec, k=7).collect()]
    assert got == want


def test_ivf_append_grows_saved_index(spark, sf_dir, tmp_path):
    from vector_search_test_spark.operators.ivf import (
        ivf_append,
        ivf_build,
        ivf_load,
        ivf_save,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    half1 = emb.filter(F.col("vec_id") % 2 == 0)
    half2 = emb.filter(F.col("vec_id") % 2 == 1)
    idx = ivf_build(half1, nlist=4)
    path = str(tmp_path / "idx")
    ivf_save(idx, path)
    ivf_append(idx, path, half2)
    reloaded = ivf_load(spark, path)
    assert reloaded.ntotal() == emb.count()
    # appended rows landed in the partitioned layout with valid cells
    cells = {r.list_id for r in reloaded.postings.select("list_id").distinct().collect()}
    assert cells <= set(range(4))


def test_train_survives_fewer_distinct_vectors_than_k(spark):
    """Duplicate-heavy corpora: MLlib's k-means|| crashes when distinct
    vectors < k; train_centroids must clamp and return the distinct
    points instead (faiss trains fine on duplicates, app.py:52)."""
    from vector_search_test_spark.operators.ivf import train_centroids

    rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(5)]
    df = spark.createDataFrame(rows, "id long, embedding array<float>")
    cents = train_centroids(df, nlist=3)
    assert cents == [[1.0, 2.0, 3.0, 4.0]]

    rows2 = [(i, [float(i % 2)] * 4) for i in range(6)]
    df2 = spark.createDataFrame(rows2, "id long, embedding array<float>")
    cents2 = sorted(train_centroids(df2, nlist=4))
    assert cents2 == [[0.0] * 4, [1.0] * 4]


def test_size_rule_paths_match_literal_path(spark, sf_dir, monkeypatch):
    """Past _MAX_LITERAL_TERMS, assign_cells takes the Arrow numpy kernel
    and probe_cells the one-row centroid broadcast; both must reproduce
    the literal path bit-for-bit (same argmin ties, same probe ranking).
    The cap is lowered so one small config runs on both sides of it."""
    import random

    from vector_search_test_spark.operators import ivf
    from vector_search_test_spark.operators.ivf import assign_cells, probe_cells

    rng = random.Random(3)
    cents = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(12)]
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.slice("embedding", 1, 8).alias("embedding")
    )
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )

    def plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    def run(past_cap):
        assigned = assign_cells(emb, cents)
        probed = probe_cells(q, cents, nprobe=3)
        assert ("MapInPandas" in plan(assigned)) == past_cap
        assert ("Join Cross" in plan(probed)) == past_cap
        return (
            {(r.vec_id, r.list_id) for r in assigned.collect()},
            {(r.query_id, r.list_id) for r in probed.collect()},
        )

    lit, plit = run(False)  # 96 terms: literal assign and probe
    monkeypatch.setattr(ivf, "_MAX_LITERAL_TERMS", 8 * 12 - 1)
    ar, pbc = run(True)
    # per-dimension left-to-right float64 accumulation is the same
    # summation order as the fold; argmin takes the first minimum
    assert lit == ar
    assert plit == pbc


def test_ivf_search_wide_embedding_falls_back_interpreted(spark):
    """dim > the unroll cap must not compile a janino-rejected method;
    results still exact."""
    from vector_search_test_spark.operators.ivf import IvfIndex, ivf_search

    dim = 17000  # > _MAX_UNROLLED_TERMS
    rows = [(i, [float(i)] * dim) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    idx = IvfIndex(
        centroids=[[0.0] * dim], postings=df.select(F.lit(0).alias("list_id"), "*")
    )
    got = [r.vec_id for r in ivf_search(idx, [2.0] * dim, k=2, nprobe=1).collect()]
    assert got == [2, 1] or got == [2, 3]  # vec 2 exact, then tie on dist


def test_ivf_rebalance_splits_hot_list_only(spark):
    """A hot list holding two separable clusters splits into sub-cells;
    untouched lists keep their (vec_id, list_id) pairs bit-for-bit;
    ntotal is preserved; nprobe=nlist search stays exact; a balanced
    index is returned unchanged."""
    from vector_search_test_spark.operators.ivf import (
        IvfIndex,
        assign_cells,
        ivf_rebalance,
        ivf_search,
    )

    rows = (
        [(i, [0.0 + i * 0.01, 0.0]) for i in range(40)]
        + [(100 + i, [5.0 + i * 0.01, 5.0]) for i in range(40)]
        + [(200 + i, [100.0, 100.0 + i]) for i in range(5)]
    )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = [[0.0, 0.0], [100.0, 100.0]]
    postings = assign_cells(df, cents).select("list_id", "vec_id", "embedding")
    idx = IvfIndex(centroids=cents, postings=postings)
    before = {
        r.list_id: r.n
        for r in postings.groupBy("list_id").agg(F.count("*").alias("n")).collect()
    }
    assert before[0] == 80 and before[1] == 5  # cell 0 is hot

    out = ivf_rebalance(idx, max_list_frac=0.5, sub_k=2)
    assert out.nlist == 3  # hot slot reused + one appended
    after = {
        r.list_id: r.n
        for r in out.postings.groupBy("list_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert after[1] == 5  # untouched list intact
    assert sum(after.values()) == 85  # ntotal preserved
    assert max(after.values()) < before[0]  # the hot list actually split
    # the two planted clusters land in different sub-cells
    pairs = {
        r.vec_id: r.list_id for r in out.postings.select("vec_id", "list_id").collect()
    }
    assert len({pairs[i] for i in range(40)}) == 1
    assert len({pairs[100 + i] for i in range(40)}) == 1
    assert pairs[0] != pairs[100]
    assert all(pairs[200 + i] == 1 for i in range(5))

    # exactness at nprobe = nlist survives the rebalance
    got = [
        r.vec_id
        for r in ivf_search(out, [5.05, 5.0], k=3, nprobe=out.nlist).collect()
    ]
    want = [
        r.vec_id for r in topk_global(df, [5.05, 5.0], k=3).collect()
    ]
    assert got == want

    balanced = ivf_rebalance(out, max_list_frac=0.9, sub_k=2)
    assert balanced is out  # nothing hot -> unchanged handle


def test_ivf_rebalance_cycle_report_contract(spark):
    """The composed measure -> decide -> rebalance -> re-measure loop
    (VERDICT r8 next-#7): the one-row report carries the maintenance
    contract — ntotal conserved, the hot list detected and split,
    max_list/imbalance strictly improved, postings multiset conserved
    bit-for-bit (= full-probe exactness, see the operator docstring) —
    and the returned index is the rebalanced handle the report
    describes."""
    from vector_search_test_spark.operators.ivf import (
        IvfIndex,
        assign_cells,
        ivf_rebalance_cycle,
    )

    rows = (
        [(i, [0.0 + i * 0.01, 0.0]) for i in range(40)]
        + [(100 + i, [5.0 + i * 0.01, 5.0]) for i in range(40)]
        + [(200 + i, [100.0, 100.0 + i]) for i in range(5)]
    )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = [[0.0, 0.0], [100.0, 100.0]]
    postings = (
        assign_cells(df, cents)
        .select("list_id", "vec_id", "embedding")
        .localCheckpoint()
    )
    idx = IvfIndex(centroids=cents, postings=postings)
    queries = spark.createDataFrame(
        [(0, [5.05, 5.0]), (1, [0.05, 0.0])],
        "query_id long, query_vec array<float>",
    )

    out, report = ivf_rebalance_cycle(
        idx, queries, max_list_frac=0.5, sub_k=2, nprobe=1, k=3
    )
    r = report.first()
    assert r.ntotal == 85
    assert r.n_hot == 1
    assert r.nlist_before == 2 and r.nlist_after == out.nlist == 3
    assert r.max_list_after < r.max_list_before == 80
    assert r.imbalance_after < r.imbalance_before
    assert r.postings_conserved
    # planted clusters are separable: splitting the hot list cannot
    # hurt these queries at nprobe=1 (each lands in its own sub-cell)
    assert r.recall_after >= r.recall_before == 1.0
    assert out.postings.count() == 85


def test_ivf_filtered_search_prefilters_not_postfilters(spark):
    """Planted geometry: the k nearest unfiltered neighbors all fail
    the predicate — pre-filtering still returns k matching rows
    (post-filtering would return zero), and every hit satisfies the
    predicate."""
    from pyspark.sql import functions as F

    from vector_search_test_spark.operators.ivf import (
        IvfIndex,
        assign_cells,
        ivf_search_all,
        ivf_search_filtered,
    )

    # cluster A near origin (labels odd), cluster B far away (even)
    rows = []
    for i in range(6):
        rows.append((i, [0.1 * i, 0.0], 1))         # near, odd label
    for i in range(6, 12):
        rows.append((i, [10.0 + 0.1 * i, 0.0], 2))  # far, even label
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    cents = [[0.0, 0.0], [10.0, 0.0]]
    postings = assign_cells(emb, cents).select(
        "list_id", "vec_id", "embedding", "label"
    )
    idx = IvfIndex(centroids=cents, postings=postings)
    q = spark.createDataFrame(
        [(0, [0.0, 0.0])], "query_id long, query_vec array<float>"
    )
    # unfiltered top-3 are all odd-labeled near vectors
    plain = ivf_search_all(idx, q, k=3, nprobe=2).collect()
    assert all(r["vec_id"] < 6 for r in plain)
    # filtered to even labels: still 3 rows, all from the far cluster
    filt = ivf_search_filtered(
        idx, q, F.col("label") % 2 == 0, k=3, nprobe=2
    ).collect()
    assert len(filt) == 3
    assert all(r["vec_id"] >= 6 for r in filt)
    # probe pruning still applies: nprobe=1 probes only the near cell,
    # where nothing passes the filter -> empty result (documented
    # filter-agnostic probe behavior, not an error)
    assert (
        ivf_search_filtered(
            idx, q, F.col("label") % 2 == 0, k=3, nprobe=1
        ).count()
        == 0
    )
