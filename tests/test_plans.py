"""Physical-plan assertions — the plan IS the product at 100 TB.

Each test pins a plan property the engine's design depends on, so a
regression that silently degrades the plan (lost pushdown, a broadcast
that becomes a shuffle, a window that loses its group-limit) fails CI
even though results stay correct. Pinned against pyspark 4.1.2.
"""

import pytest
from pyspark.sql import functions as F

from vector_search_test_spark.io import load_table
from vector_search_test_spark.operators.ivf import ivf_build, ivf_search, ivf_search_all
from vector_search_test_spark.operators.knn import topk_global


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_and_projection_reach_parquet_scan(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    df = li.filter(F.col("l_quantity") > 40).select("l_orderkey", "l_quantity")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40" in plan
    # column pruning: the scan reads 2 columns, not all 11
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_small_dims_broadcast_not_shuffle(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    df = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_global_topk_is_take_ordered_no_shuffle(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.first().embedding]
    plan = _plan(topk_global(emb, qvec, k=5))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan  # per-partition heaps, merged on driver


def test_ivf_single_search_prunes_and_avoids_shuffle(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    idx = ivf_build(emb, nlist=4)
    qvec = [float(x) for x in emb.first().embedding]
    plan = _plan(ivf_search(idx, qvec, k=5, nprobe=2))
    # probe filter present (above the assign kernel on an in-memory
    # index — the saved-index test pins pruning by name) and top-k
    # without a shuffle
    assert "Filter" in plan and "TakeOrderedAndProject" in plan
    # the SEARCH must add no exchange beyond what the build lineage
    # already carries (ivf_build's gated small-corpus spread is one)
    assert plan.count("Exchange") == _plan(idx.postings).count("Exchange")


def test_batched_knn_window_has_group_limit(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    idx = ivf_build(emb, nlist=4)
    q = emb.limit(10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    plan = _plan(ivf_search_all(idx, q, k=5, nprobe=4))
    # WindowGroupLimit cuts each partition to k rows per query BEFORE the
    # window shuffle — the difference between shuffling O(matches) and
    # O(Q*k) at scale
    assert "WindowGroupLimit" in plan


def test_partitioned_index_scan_prunes_partitions(spark, sf_dir, tmp_path):
    from vector_search_test_spark.operators.ivf import ivf_load, ivf_save

    emb = load_table(spark, sf_dir, "embeddings")
    ivf_save(ivf_build(emb, nlist=4), str(tmp_path / "idx"))
    loaded = ivf_load(spark, str(tmp_path / "idx"))
    pruned = loaded.postings.filter(F.col("list_id").isin([0, 1]))
    plan = _plan(pruned)
    # static partition pruning: the scan enumerates only the probed
    # list_id directories
    assert "PartitionFilters" in plan and "list_id" in plan


def test_bucketed_postings_join_without_exchange(spark, sf_dir):
    """SURVEY §7 P6: bucketed+partitioned postings — an id-keyed
    self-join of the bucketed table plans with no hash exchange (the
    shuffle was paid once at write time)."""
    from vector_search_test_spark.operators.ivf import ivf_build, ivf_save_bucketed

    emb = load_table(spark, sf_dir, "embeddings")
    tbl = "sg_postings_bucketed_test"
    ivf_save_bucketed(ivf_build(emb, nlist=4), tbl, buckets=4)
    try:
        t = spark.table(tbl)
        joined = t.alias("x").join(
            t.alias("y"), F.col("x.vec_id") == F.col("y.vec_id")
        )
        plan = _plan(joined)
        assert "Exchange hashpartitioning" not in plan
        assert joined.count() >= emb.count()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


@pytest.mark.parametrize("nlist,dim", [(4, 4), (1000, 64)])
def test_assign_and_probe_plans_carry_no_centroid_matrix(spark, sf_dir, nlist, dim):
    """Assignment and the batched search run Arrow kernels at every
    nlist: the centroid matrix ships as a SparkContext broadcast or
    stays on the driver, never as a plan literal or a join, and
    assignment shuffles nothing. At nlist 1000 x dim 64 a literal matrix
    would be 64k CAST terms in the plan text."""
    import random

    from vector_search_test_spark.operators.ivf import IvfIndex, assign_cells

    rng = random.Random(7)
    cents = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(nlist)]
    emb = load_table(spark, sf_dir, "embeddings").limit(50).select(
        "vec_id", F.slice("embedding", 1, dim).alias("embedding")
    )
    q = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    postings = assign_cells(emb, cents).select("list_id", "vec_id", "embedding")
    search = ivf_search_all(IvfIndex(cents, postings), q, k=5, nprobe=4)
    for df in (postings, search):
        optimized = df._jdf.queryExecution().optimizedPlan().toString()
        executed = _plan(df)
        assert "MapInPandas" in optimized
        # no Join Cross / BroadcastNestedLoopJoin carrying a packed
        # matrix, and no postings join
        assert "Join" not in optimized and "Join" not in executed
        assert len(optimized) < 100_000
    assert "Exchange hashpartitioning" not in _plan(postings)


def test_ivf_search_all_prunes_saved_index_partitions(spark, sf_dir, tmp_path):
    """The batched search keeps the probed cells as a Catalyst filter, so
    a saved index reads only the probed list_id directories."""
    from vector_search_test_spark.operators.ivf import ivf_load, ivf_save

    emb = load_table(spark, sf_dir, "embeddings")
    ivf_save(ivf_build(emb, nlist=4), str(tmp_path / "idx"))
    loaded = ivf_load(spark, str(tmp_path / "idx"))
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    plan = _plan(ivf_search_all(loaded, q, k=5, nprobe=1))
    filters = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "list_id" in filters


def test_top_fraction_never_sorts_the_corpus(spark, sf_dir):
    """top_fraction_by_score's whole point: NO full-table sort. The only
    SMJ/Sort allowed operate on the score histogram / boundary class,
    never feed a global SinglePartition sort of the document scan; the
    corpus joins the histogram via broadcast."""
    from vector_search_test_spark.functions import textstats as ts
    from vector_search_test_spark.operators.sampling import (
        top_fraction_by_score,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.round(ts.quality_score("text"), 6).alias("s")
    )
    plan = _plan(top_fraction_by_score(docs, "s", 0.2))
    # corpus-side joins against the histogram are broadcast
    assert "BroadcastHashJoin" in plan
    # the declarative equivalent would be a global row_number: a window
    # over ONE partition of the full corpus. The histogram plan's only
    # single-partition windows run over grouped (score) rows — i.e.
    # every Window sits above an Aggregate or a boundary filter, and no
    # rangepartitioning(s ...) of the raw scan output exists.
    assert "rangepartitioning(s" not in plan.lower().replace("#", "").replace(
        " ", ""
    )


def test_range_search_is_scan_plus_filter(spark, sf_dir):
    """range_search compiles to broadcast-join + Filter in codegen — no
    Window, no Sort, no shuffle Exchange."""
    from vector_search_test_spark.io import spread
    from vector_search_test_spark.operators.knn import range_search

    emb = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding"
    )
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    plan = _plan(range_search(q, emb, radius=1.5))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "Window" not in plan and "SortMergeJoin" not in plan
    assert "Exchange hashpartitioning" not in plan


def test_epoch_upsample_is_scan_only(spark, sf_dir):
    """epoch_upsample is projection + Generate: no join, no Exchange."""
    from vector_search_test_spark.operators.sampling import epoch_upsample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    plan = _plan(epoch_upsample(docs, {"src0": 2.5, "src1": 0.25}))
    assert "Generate explode" in plan
    assert "Exchange" not in plan and "Join" not in plan


def test_contrastive_examples_group_limits_and_broadcast_anti(spark, sf_dir):
    """contrastive_examples: both rankings are WindowGroupLimit (no full
    per-anchor sort survives) and the exclusion anti-join broadcasts
    its output-bound side — no SortMergeJoin anywhere."""
    from vector_search_test_spark.io import spread
    from vector_search_test_spark.operators.knn import contrastive_examples

    emb = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding"
    )
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    plan = _plan(contrastive_examples(q, emb))
    assert "WindowGroupLimit" in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan  # the exclusion anti-join


def test_semdedup_pair_join_is_salted_not_coalesced(spark, sf_dir):
    """The SemDeDup pair join's output is quadratic in cluster size
    while its input is corpus-sized; AQE's byte-based coalescing would
    serialize the cosine work onto nlist tasks (measured 6x on this
    fixture). Pin the fix: the pair join keys carry the salt column
    and the layout comes from an explicit round-robin-proof
    hashpartitioning on (list_id, salt)."""
    from vector_search_test_spark.io import load_table, spread
    from vector_search_test_spark.operators.dedup import semdedup_prune

    from __spark_entry__ import _partial_probe_centroids

    emb = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding"
    )
    out = semdedup_prune(emb, _partial_probe_centroids(sf_dir), tau=0.35)
    plan = _plan(out)
    norm = plan.lower().replace("#", "").replace(" ", "")
    assert "hashpartitioning(list_id" in norm and "__salt" in norm
    # y-side replication across the salt space is a generator explode,
    # not a shuffle-side blowup
    assert "Generate explode" in plan


def test_prebuilt_minhash_paths_never_rehash(spark, sf_dir):
    """The shared-corpus-asset seams (r12): with prebuilt tables, the
    pairs/verify plans must contain NO md5 — the fingerprints come from
    the checkpointed asset, restricted by semi-join, never recomputed.
    (The from-scratch path necessarily md5s once per shingle.)"""
    from vector_search_test_spark.operators.dedup import (
        jaccard_join,
        minhash_tables,
        neardup_minhash,
    )

    docs = load_table(spark, sf_dir, "documents")
    tables = minhash_tables(docs)

    pairs_plan = _plan(neardup_minhash(docs, prebuilt=tables))
    assert "md5" not in pairs_plan

    jac_plan = _plan(jaccard_join(docs, prebuilt_sh=tables.sh))
    assert "md5" not in jac_plan

    # the from-scratch path DOES hash (sanity: the assertion above is
    # not vacuous because md5 never shows up in these plan strings)
    scratch_plan = _plan(
        docs.select(F.md5("text").alias("h"))
    )
    assert "md5" in scratch_plan


def test_paragraph_dedup_keep_decision_has_no_window_on_paragraph_key(
    spark, sf_dir
):
    """The paragraph-dedup keep decision must be the map-side-combinable
    groupBy(norm).agg(min(struct(id, pos))) + join-back, NEVER a window
    partitioned by the normalized paragraph: that key is maximally
    skewed by construction (boilerplate headers/footers duplicate
    across millions of pages) and a window's per-partition sort cannot
    be split, while the aggregate combines before the shuffle and the
    join-back is AQE-skew-splittable (VERDICT r15 #2). The winner rule
    (lexicographic min over (id, pos)) is unchanged, so the oracle
    stays BITEXACT."""
    from vector_search_test_spark.operators.dedup import paragraph_dedup

    docs = load_table(spark, sf_dir, "documents")
    plan = _plan(paragraph_dedup(docs))
    # no Window/Sort anywhere on the paragraph path: the only sort the
    # operator needs is the in-row array_sort of kept paragraphs
    assert "Window" not in plan
    assert "row_number" not in plan
    # the keep decision's partial aggregate combines map-side
    assert "partial_min" in plan
