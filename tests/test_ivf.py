"""IVF index tests (SURVEY §5.2, §5.6).

Exactness gate: with nprobe = nlist every inverted list is scanned, so the
IVF path must match the brute-force oracle bit-for-bit (reference
semantics: faiss IndexIVFFlat degenerates to exact search when all cells
are probed, app.py:65-75). Recall at nprobe < nlist is pinned to a floor.
"""

import pytest
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


@pytest.mark.parametrize("nprobe", [4, 2])
def test_ivf_search_all_edge_rule(spark, sf_dir, nprobe):
    """At full and at partial probe a NULL, empty, short, long or
    NaN-holding vector in the postings is never a result, and a
    malformed query returns no rows: the batched search and the nprobe
    sweep return exactly the clean index's rows."""
    from vector_search_test_spark.operators.ivf import IvfIndex, ivf_search_curve

    emb = load_table(spark, sf_dir, "embeddings")
    idx = ivf_build(emb, nlist=4)
    dim = len(idx.centroids[0])
    bad = [
        (0, 10**9, None),
        (1, 10**9 + 1, []),
        (2, 10**9 + 2, [0.0] * (dim - 1)),
        (3, 10**9 + 3, [0.0] * (dim + 1)),
        (0, 10**9 + 4, [float("nan")] + [0.0] * (dim - 1)),
    ]
    dirty = IvfIndex(
        centroids=idx.centroids,
        postings=idx.postings.unionByName(
            spark.createDataFrame(
                bad, "list_id int, vec_id long, embedding array<float>"
            )
        ),
    )
    q = _queries(emb, 10).unionByName(
        spark.createDataFrame(
            [(-1, None), (-2, [0.0] * (dim - 1))],
            "query_id long, query_vec array<float>",
        )
    )
    for search in (
        lambda index: ivf_search_all(index, q, k=5, nprobe=nprobe),
        lambda index: ivf_search_curve(index, q, k=5, nprobes=(1, nprobe)),
    ):
        want = sorted(tuple(r) for r in search(idx).collect())
        got = sorted(tuple(r) for r in search(dirty).collect())
        assert got == want
        assert {r[-3] for r in got} == set(range(10))


def test_single_and_batched_search_probe_the_same_cells(spark):
    """Both searches rank cells against the float32 centroids: 1.00000001
    rounds to 1.0, so the query at the origin is equidistant from both
    cells and probes the lower id, cell 0, at nprobe 1."""
    from vector_search_test_spark.operators.ivf import IvfIndex

    postings = spark.createDataFrame(
        [(0, 0, [1.0, 0.0]), (1, 1, [-1.0, 0.0])],
        "list_id int, vec_id long, embedding array<float>",
    )
    idx = IvfIndex(centroids=[[1.00000001, 0.0], [-1.0, 0.0]], postings=postings)
    q = spark.createDataFrame(
        [(7, [0.0, 0.0])], "query_id long, query_vec array<float>"
    )
    single = [tuple(r) for r in ivf_search(idx, [0.0, 0.0], k=1, nprobe=1).collect()]
    batched = [
        (r.vec_id, r.dist)
        for r in ivf_search_all(idx, q, k=1, nprobe=1).collect()
    ]
    assert single == batched == [(0, 1.0)]


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


def test_ivf_append_adds_bounded_files_per_list(spark, sf_dir, tmp_path):
    """An append goes through the postings sink's shuffle: each list_id=
    directory gains at most max(1, cores // nlist) files, however many
    partitions the appended frame has (unshuffled, each partition wrote
    one file into every list it touched)."""
    from vector_search_test_spark.operators.ivf import (
        ivf_append,
        ivf_build,
        ivf_save,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    idx = ivf_build(emb.filter(F.col("vec_id") % 2 == 0), nlist=4)
    path = tmp_path / "idx"
    ivf_save(idx, str(path))

    def files():
        return {
            d.name: len(list(d.glob("*.parquet")))
            for d in (path / "postings").glob("list_id=*")
        }

    before = files()
    par = spark.sparkContext.defaultParallelism
    added = emb.filter(F.col("vec_id") % 2 == 1).repartition(2 * par)
    ivf_append(idx, str(path), added)
    after = files()
    assert set(after) == set(before)
    gained = {d: after[d] - before[d] for d in after}
    assert sum(gained.values()) > 0
    assert max(gained.values()) <= max(1, par // 4), gained


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


def _planted(nlist, dim, n_rows, seed):
    """float32-valued centroids and rows with two planted exact ties:
    cell nlist-1 duplicates cell 1, row 0 sits ON cell 1 (distance 0
    to both copies), and row 1 is equidistant (exactly 0.25) from cells
    2 and 3, its nearest pair."""
    import random

    import numpy as np

    rng = random.Random(seed)

    def vec():
        return [float(np.float32(rng.uniform(-1, 1))) for _ in range(dim)]

    cents = [vec() for _ in range(nlist)]
    cents[-1] = list(cents[1])
    mid = vec()
    mid[0] = 0.25
    cents[2] = [0.75] + mid[1:]
    cents[3] = [-0.25] + mid[1:]
    rows = [list(cents[1]), mid] + [vec() for _ in range(n_rows - 2)]
    return cents, rows


@pytest.mark.parametrize("nlist,dim", [(12, 8), (1000, 64)])
def test_kernels_match_python_ranker(spark, nlist, dim):
    """assign_cells and the searches' driver ranker reproduce the
    pure-Python ranker row for row at a small and a large nlist, exact
    ties included: the first minimum / lowest cell id wins. The
    centroids and rows are float32 values, so the float32 ranking and
    `rank_cells`' float64 one see the same numbers."""
    import numpy as np

    from vector_search_test_spark.operators.ivf import (
        _rank_probes,
        assign_cells,
        rank_cells,
    )

    cents, rows = _planted(nlist, dim, 24, seed=nlist)
    emb = spark.createDataFrame(
        list(enumerate(rows)), "vec_id long, embedding array<float>"
    )
    nprobe = 3
    ranked = {i: rank_cells(v, cents, nprobe) for i, v in enumerate(rows)}
    assert ranked[0][:2] == [1, nlist - 1] and ranked[1][:2] == [2, 3]

    def argmin(v):
        dists = [sum((a - b) ** 2 for a, b in zip(v, c)) for c in cents]
        return dists.index(min(dists))

    got = {r.vec_id: r.list_id for r in assign_cells(emb, cents).collect()}
    assert got == {i: argmin(v) for i, v in enumerate(rows)}
    assert got[0] == 1 and got[1] == 2
    got = _rank_probes(np.array(rows, dtype=np.float64), cents, nprobe)
    assert got.tolist() == [ranked[i] for i in range(len(rows))]


# Edge inputs at the kernel boundary: (id, vector) with the vector
# well-formed, NULL, short, empty, long, holding a NULL, holding a NaN
_EDGE_CENTS = [[0.0, 0.0], [1.0, 1.0], [2.0, 0.0]]
_EDGE_ROWS = [
    (0, [0.9, 1.2]),
    (1, None),
    (2, [1.0]),
    (3, []),
    (4, [1.0, 1.0, 1.0]),
    (5, [1.0, None]),
    (6, [float("nan"), 1.0]),
    (7, [1.0, 0.0]),  # equidistant from all three cells
    (8, [2.0, 0.0]),
]


def _edge_frame(spark, id_col, vec_col, slices):
    """The edge rows over `slices` partitions: more slices than rows
    leaves some partitions empty and others holding a single row."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(_EDGE_ROWS, slices),
        f"{id_col} long, {vec_col} array<float>",
    )


@pytest.mark.parametrize("slices", [1, 16])
def test_assign_cells_edge_matrix(spark, slices):
    """NULL, wrong-length and NULL/NaN-holding vectors get list_id NULL;
    zero-row and single-row partitions pass through."""
    import pandas as pd
    from pandas.testing import assert_frame_equal

    from vector_search_test_spark.operators.ivf import assign_cells

    df = _edge_frame(spark, "vec_id", "embedding", slices)
    got = (
        assign_cells(df, _EDGE_CENTS)
        .select("vec_id", "list_id")
        .toPandas()
        .sort_values("vec_id", ignore_index=True)
    )
    got["list_id"] = got["list_id"].astype("Int32")
    want = pd.DataFrame(
        {
            "vec_id": range(9),
            "list_id": pd.array(
                [1, None, None, None, None, None, None, 0, 2], dtype="Int32"
            ),
        }
    )
    assert_frame_equal(got, want, check_dtype=False)
    assert assign_cells(df.limit(0), _EDGE_CENTS).collect() == []


@pytest.mark.parametrize("slices", [1, 16])
def test_ivf_search_edge_matrix(spark, slices):
    """The edge rows as queries of the partial-probe searches (2 of 3
    cells) over the index of the well-formed rows: a malformed query
    gives no rows, the well-formed ones get exactly their probed cells'
    top-k, and a zero-row query frame gives an empty result."""
    import numpy as np

    from vector_search_test_spark.operators.ivf import (
        IvfIndex,
        assign_cells,
        ivf_search_curve,
    )

    q = _edge_frame(spark, "query_id", "query_vec", slices)
    corpus = spark.createDataFrame(
        [(i, v) for i, v in _EDGE_ROWS if i in (0, 7, 8)],
        "vec_id long, embedding array<float>",
    )
    idx = IvfIndex(
        centroids=_EDGE_CENTS,
        postings=assign_cells(corpus, _EDGE_CENTS).select(
            "list_id", "vec_id", "embedding"
        ),
    )
    vec = {i: np.array(v, dtype=np.float32).astype(float) for i, v in _EDGE_ROWS}

    def rows(hits):  # (query_id, vec_id) -> probed top-k, nearest first
        return sorted(
            (p, qi, vi, float(((vec[qi] - vec[vi]) ** 2).sum()))
            for p, cands in hits.items()
            for qi, vis in cands.items()
            for vi in vis
        )

    # query 0 probes cells 1, 0; query 7 (equidistant) cells 0, 1;
    # query 8 cells 2, 1 — holding vec 0 (cell 1), 7 (cell 0), 8 (cell 2)
    at = {1: {0: [0], 7: [7], 8: [8]}, 2: {0: [0, 7], 7: [7, 0], 8: [8, 0]}}
    got = sorted(
        (2, r.query_id, r.vec_id, r.dist)
        for r in ivf_search_all(idx, q, k=3, nprobe=2).collect()
    )
    assert got == rows({2: at[2]})
    got = sorted(
        tuple(r) for r in ivf_search_curve(idx, q, k=3, nprobes=(1, 2)).collect()
    )
    assert got == rows(at)
    assert ivf_search_all(idx, q.limit(0), k=3, nprobe=2).collect() == []
    assert ivf_search_curve(idx, q.limit(0), k=3, nprobes=(1, 2)).collect() == []


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
