"""Deterministic sampling / splitting / decontamination
(operators/sampling.py): cross-engine bit-equality with DuckDB twins,
split-contract properties, and the scale-critical plan shapes (scan-only
splits, broadcast-semi contamination)."""

import duckdb
import pytest
from pyspark.sql import functions as F

from vector_search_test_spark.io import load_table
from vector_search_test_spark.operators.sampling import (
    contamination_report,
    contamination_report_sql,
    hash_fraction,
    hash_fraction_sql,
    hash_sample,
    hash_split,
    hash_split_sql,
    stratified_sample,
)

WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _ddb(sf_dir):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    return con


def test_hash_fraction_matches_duckdb_bitwise(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    got = {
        r.doc_id: r.f
        for r in docs.select(
            "doc_id", hash_fraction("doc_id", "s1").alias("f")
        ).collect()
    }
    con = _ddb(sf_dir)
    want = dict(
        con.execute(
            f"SELECT doc_id, {hash_fraction_sql('doc_id', 's1')} FROM documents"
        ).fetchall()
    )
    assert got == want  # bit-for-bit, not approximately


def test_hash_split_matches_duckdb_and_contract(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    got = {
        r.doc_id: r.split
        for r in hash_split(docs, WEIGHTS).select("doc_id", "split").collect()
    }
    con = _ddb(sf_dir)
    want = dict(
        con.execute(
            f"SELECT doc_id, {hash_split_sql(WEIGHTS, 'doc_id')} FROM documents"
        ).fetchall()
    )
    assert got == want
    # disjoint + exhaustive: every row got exactly one named split
    n = docs.count()
    assert len(got) == n
    assert set(got.values()) <= set(WEIGHTS)
    # proportions near the weights (binomial tolerance at n=500)
    for name, w in WEIGHTS.items():
        frac = sum(1 for v in got.values() if v == name) / n
        assert abs(frac - w) < 0.08, (name, frac)


def test_hash_split_stable_and_salt_sensitive(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    a = {r.doc_id: r.split for r in hash_split(docs, WEIGHTS).collect()}
    b = {r.doc_id: r.split for r in hash_split(docs, WEIGHTS).collect()}
    assert a == b  # re-run identical
    c = {r.doc_id: r.split for r in hash_split(docs, WEIGHTS, salt="v2").collect()}
    assert a != c  # a new salt is a new split


def test_hash_sample_subset_of_larger_fraction(spark, sf_dir):
    """Monotone thresholds: the 10% sample is a strict subset of the 30%
    sample under the same salt — what makes progressive corpus scaling
    reproducible (growing the budget only ADDS rows)."""
    docs = load_table(spark, sf_dir, "documents")
    small = {r.doc_id for r in hash_sample(docs, 0.1, salt="s").collect()}
    big = {r.doc_id for r in hash_sample(docs, 0.3, salt="s").collect()}
    assert small and small < big


def test_split_and_sample_are_scan_only(spark, sf_dir):
    """The 100 TB contract: split/sample plans contain NO shuffle — a
    projection/filter over the scan."""
    docs = load_table(spark, sf_dir, "documents")
    assert "Exchange" not in _plan(hash_split(docs, WEIGHTS))
    assert "Exchange" not in _plan(hash_sample(docs, 0.25))
    assert "Exchange" not in _plan(
        stratified_sample(docs, {"web": 0.1}, strata_col="source")
    )


def test_stratified_sample_matches_duckdb(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    sources = [r.source for r in docs.select("source").distinct().collect()]
    fractions = {sources[0]: 1.0, sources[-1]: 0.2}
    got = {
        r.doc_id
        for r in stratified_sample(
            docs, fractions, strata_col="source"
        ).collect()
    }
    thr = " ".join(
        f"WHEN source = '{s}' THEN {f}" for s, f in fractions.items()
    )
    con = _ddb(sf_dir)
    want = {
        i
        for (i,) in con.execute(
            f"SELECT doc_id FROM documents WHERE {hash_fraction_sql('doc_id', 'strata')} < "
            f"(CASE {thr} ELSE 0.0 END)"
        ).fetchall()
    }
    assert got == want
    # the 100%-stratum is fully kept
    all_first = {
        r.doc_id
        for r in docs.filter(F.col("source") == sources[0]).collect()
    }
    assert all_first <= got


def test_contamination_planted_benchmark(spark, sf_dir):
    """Plant the benchmark as 5 verbatim documents + 1 unseen text: the
    copied docs must flag contaminated at overlap 1.0; a doc sharing no
    3-gram stays at overlap 0."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") < 5).select("text")
    rep = contamination_report(docs, bench, n=3, threshold=0.8)
    rows = {r.id: r for r in rep.collect()}
    planted = {r.doc_id for r in docs.filter(F.col("doc_id") < 5).collect()} & set(rows)
    assert planted
    for i in planted:
        assert rows[i].overlap == 1.0 and rows[i].contaminated, rows[i]
    assert any(not r.contaminated for r in rows.values())
    # every overlap is a valid fraction
    assert all(0.0 <= r.overlap <= 1.0 for r in rows.values())


def test_contamination_matches_duckdb(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") < 5).select("text")
    got = sorted(
        (r.id, r.n_shingles, r.n_hits, r.overlap, r.contaminated)
        for r in contamination_report(docs, bench, n=3, threshold=0.5).collect()
    )
    con = _ddb(sf_dir)
    want = sorted(
        (int(i), int(ns), int(nh), float(ov), bool(c))
        for i, ns, nh, ov, c in con.execute(
            contamination_report_sql(
                n=3,
                threshold=0.5,
                bench_sql="SELECT text FROM documents WHERE doc_id < 5",
            )
        ).fetchall()
    )
    assert got == want


def test_contamination_plan_broadcasts_benchmark(spark, sf_dir):
    """Scale shape: ONE scan through the Arrow kernel — no join, no gram
    explode, no Exchange anywhere (the benchmark set rides the task
    closure)."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") < 5).select("text")
    plan = _plan(contamination_report(docs, bench, n=3))
    assert "MapInPandas" in plan
    assert "Generate" not in plan and "Join" not in plan


def test_contamination_null_and_short_documents(spark):
    """Edge rows the fixture corpus lacks: a NULL text is the [NULL]
    shingle (one counted row, never a hit); a document shorter than n
    tokens is one whole-text gram, and it hits a benchmark text equal
    to it."""
    docs = spark.createDataFrame(
        [(1, None), (2, "one two"), (3, "Three four five six")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [("one two",), ("three four five",)], "text string"
    )
    got = {
        r.id: (r.n_shingles, r.n_hits, r.overlap, r.contaminated)
        for r in contamination_report(docs, bench, n=3, threshold=0.5).collect()
    }
    assert got == {
        1: (1, 0, 0.0, False),
        2: (1, 1, 1.0, True),
        3: (2, 1, 0.5, True),
    }


def test_hash_split_rejects_bad_weights(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    with pytest.raises(ValueError):
        hash_split(docs, {})
    with pytest.raises(ValueError):
        hash_split(docs, {"a": 0.0})


def test_mix_corpus_matches_duckdb_and_semantics(spark, sf_dir):
    """(doc_id, epoch) multiset equals the DuckDB twin exactly; integer
    weights give exact copy counts; fractional weights land near the
    expected multiplicity; the mix is scan-only."""
    from vector_search_test_spark.operators.sampling import (
        mix_corpus,
        mix_corpus_sql,
    )

    docs = load_table(spark, sf_dir, "documents")
    sources = sorted(r.source for r in docs.select("source").distinct().collect())
    weights = {sources[0]: 3.0, sources[1]: 0.5, sources[-1]: 1.25}
    mixed = mix_corpus(docs, weights, default_weight=1.0)
    got = sorted((r.doc_id, r.epoch) for r in mixed.select("doc_id", "epoch").collect())
    con = _ddb(sf_dir)
    want = sorted(
        (int(i), int(e))
        for i, e in con.execute(mix_corpus_sql(weights)).fetchall()
    )
    assert got == want

    # integer weight -> exact copies with epochs 0..w-1
    n_s0 = docs.filter(F.col("source") == sources[0]).count()
    s0_rows = [e for i, e in got if i in
               {r.doc_id for r in docs.filter(F.col("source") == sources[0]).collect()}]
    assert len(s0_rows) == 3 * n_s0
    # fractional stratum lands near expected multiplicity
    n_s1 = docs.filter(F.col("source") == sources[1]).count()
    s1_ids = {r.doc_id for r in docs.filter(F.col("source") == sources[1]).collect()}
    n_kept = sum(1 for i, _ in got if i in s1_ids)
    assert abs(n_kept / n_s1 - 0.5) < 0.15
    assert "Exchange" not in _plan(mixed)


def test_mix_downsample_equals_stratified_sample(spark, sf_dir):
    """w < 1 under a shared salt picks the SAME rows as
    stratified_sample — mixing and sampling are one consistent family."""
    from vector_search_test_spark.operators.sampling import mix_corpus

    docs = load_table(spark, sf_dir, "documents")
    sources = sorted(r.source for r in docs.select("source").distinct().collect())
    frac = {sources[0]: 0.3}
    a = {r.doc_id for r in mix_corpus(
        docs, frac, salt="strata", default_weight=0.0).collect()}
    b = {r.doc_id for r in stratified_sample(
        docs, frac, strata_col="source").collect()}
    assert a == b and a


def test_top_fraction_boundary_ties_and_edges(spark):
    """The histogram plan must equal the declarative top-k: boundary
    ties are broken by id ASC, and frac 0/1 are the empty/full sets."""
    import pytest

    from vector_search_test_spark.operators.sampling import (
        top_fraction_by_score,
    )

    # scores: 9.0 x2, 5.0 x4 (tie class straddles the cutoff), 1.0 x4
    data = [(i, 9.0) for i in (7, 3)] + [(i, 5.0) for i in (12, 4, 9, 6)]
    data += [(i, 1.0) for i in (20, 21, 22, 23)]
    df = spark.createDataFrame(data, "doc_id long, q_score double")
    # k = floor(0.4 * 10) = 4 -> both 9.0s + the two LOWEST-id 5.0s
    got = sorted(
        r.doc_id for r in top_fraction_by_score(df, "q_score", 0.4).collect()
    )
    assert got == [3, 4, 6, 7]
    assert top_fraction_by_score(df, "q_score", 0.0).count() == 0
    assert sorted(
        r.doc_id for r in top_fraction_by_score(df, "q_score", 1.0).collect()
    ) == sorted(d for d, _ in data)
    with pytest.raises(ValueError):
        top_fraction_by_score(df, "q_score", 1.5)


def test_top_fraction_histogram_cardinality_guard(spark):
    """VERDICT r8 next-#5: the histogram plan assumes bounded distinct
    scores — a continuous score would turn the single-partition window
    into the global sort the operator exists to avoid. The guard rides
    the same window pass and fails the JOB (not silently spills) when
    the class count exceeds max_score_classes; at or under the bound
    results are unchanged."""
    import pytest

    from vector_search_test_spark.operators.sampling import (
        top_fraction_by_score,
    )

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "doc_id long, s double"
    )
    with pytest.raises(Exception, match="distinct 's' classes"):
        top_fraction_by_score(df, "s", 0.5, max_score_classes=3).collect()
    # exactly at the bound: guard passes, selection is the plain top-k
    got = sorted(
        r.doc_id
        for r in top_fraction_by_score(
            df, "s", 0.5, max_score_classes=10
        ).collect()
    )
    assert got == [5, 6, 7, 8, 9]


def test_top_fraction_equals_declarative_sort(spark, sf_dir):
    """On the real fixture, the histogram plan's kept set equals the
    row_number-over-full-order form at several fractions."""
    from pyspark.sql import Window

    from vector_search_test_spark.functions import textstats as ts
    from vector_search_test_spark.operators.sampling import (
        top_fraction_by_score,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.round(ts.quality_score("text"), 6).alias("s")
    )
    n = docs.count()
    w = Window.orderBy(F.desc("s"), F.asc("doc_id"))
    ranked = docs.withColumn("rn", F.row_number().over(w))
    for frac in (0.1, 0.33, 0.9):
        want = sorted(
            r.doc_id
            for r in ranked.filter(F.col("rn") <= int(frac * n)).collect()
        )
        got = sorted(
            r.doc_id
            for r in top_fraction_by_score(docs, "s", frac).collect()
        )
        assert got == want, frac


def test_epoch_upsample_multiplicities(spark):
    """Integer epochs are exact per row; fractional epochs hit the
    expected rate; weight 0 drops the stratum; copies are numbered."""
    import pytest

    from vector_search_test_spark.operators.sampling import epoch_upsample

    rows = [(i, "a") for i in range(50)] + [(i + 100, "b") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = epoch_upsample(df, {"a": 3.0, "b": 0.5}, default_weight=1.0)
    per = {
        (r.source, r.doc_id): r.cnt
        for r in out.groupBy("source", "doc_id")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    a_counts = [v for (s, _), v in per.items() if s == "a"]
    assert a_counts and all(v == 3 for v in a_counts)  # exact integer part
    b_docs = sum(1 for (s, _) in per if s == "b")
    assert 10 <= b_docs <= 40  # ~50% Bernoulli of 50, deterministic
    # copy_id runs 1..n
    copies = sorted(
        r.copy_id
        for r in out.filter(
            (F.col("source") == "a") & (F.col("doc_id") == 0)
        ).collect()
    )
    assert copies == [1, 2, 3]
    # weight 0 drops the stratum entirely; determinism across calls
    gone = epoch_upsample(df, {"a": 0.0, "b": 0.0})
    assert gone.count() == 0
    again = {
        (r.source, r.doc_id): r.cnt
        for r in epoch_upsample(df, {"a": 3.0, "b": 0.5})
        .groupBy("source", "doc_id")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert again == per
    with pytest.raises(ValueError):
        epoch_upsample(df, {"a": -1.0})


# ---------------------------------------------------------------------------
# DSIR importance resampling (Xie et al. 2023; sampling.py::dsir_*)
# ---------------------------------------------------------------------------


def test_dsir_logweights_matches_duckdb(spark, sf_dir):
    """Cross-engine value equality of the quantized log-likelihood
    ratios: md5 buckets, add-alpha smoothing, and the 1e-9 integer
    quantization must replay bit-for-bit in DuckDB."""
    from vector_search_test_spark.operators.sampling import (
        dsir_select,
        dsir_select_sql,
    )

    docs = load_table(spark, sf_dir, "documents")
    got = {
        (r.doc_id, r.n_grams, r.logw, r.score)
        for r in dsir_select(
            docs, F.col("lang") == "en", 0.4, n_buckets=256
        ).collect()
    }
    con = _ddb(sf_dir)
    want = set(
        con.execute(
            dsir_select_sql("documents", "lang = 'en'", 0.4, n_buckets=256)
        ).fetchall()
    )
    assert got == want


def test_dsir_select_contract(spark, sf_dir):
    """Selection-set algebra: exactly floor(frac * n_raw) rows, all
    drawn from the raw side, deterministic across repartitioning, and
    monotone in frac (top-20% is a subset of top-40%)."""
    from vector_search_test_spark.operators.sampling import (
        dsir_logweights,
        dsir_select,
    )

    docs = load_table(spark, sf_dir, "documents")
    is_t = F.col("lang") == "en"
    n_raw = docs.filter(~is_t).count()
    sel40 = dsir_select(docs, is_t, 0.4, n_buckets=256)
    ids40 = {r.doc_id for r in sel40.collect()}
    assert len(ids40) == int(0.4 * n_raw)
    raw_ids = {r.doc_id for r in docs.filter(~is_t).select("doc_id").collect()}
    assert ids40 <= raw_ids
    # every raw doc gets a weight; no target doc does
    lw = dsir_logweights(docs, is_t, n_buckets=256)
    assert lw.count() == n_raw
    # partition-layout invariance
    ids40_rep = {
        r.doc_id
        for r in dsir_select(
            docs.repartition(7), is_t, 0.4, n_buckets=256
        ).collect()
    }
    assert ids40_rep == ids40
    ids20 = {
        r.doc_id for r in dsir_select(docs, is_t, 0.2, n_buckets=256).collect()
    }
    assert ids20 <= ids40 and len(ids20) == int(0.2 * n_raw)


def test_dsir_weights_favor_target_like_text(spark):
    """Sanity on the estimator itself: raw docs written in the target's
    vocabulary outscore raw docs from a disjoint vocabulary."""
    from vector_search_test_spark.operators.sampling import dsir_logweights

    rows = (
        # target corpus: "alpha beta" world
        [(i, "alpha beta alpha beta gamma", True) for i in range(20)]
        # raw docs that look like the target
        + [(100 + i, "alpha beta gamma alpha", False) for i in range(5)]
        # raw docs from another world
        + [(200 + i, "zeta eta theta iota kappa", False) for i in range(5)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, t boolean")
    lw = {
        r.doc_id: r.logw
        for r in dsir_logweights(df, F.col("t"), n_buckets=512).collect()
    }
    like = min(lw[100 + i] for i in range(5))
    unlike = max(lw[200 + i] for i in range(5))
    assert like > unlike


def test_dsir_select_plan_has_no_corpus_sort(spark, sf_dir):
    """Scale shape: the scoring join broadcasts the bucket table and
    the selection inherits the histogram plan — no global Sort over
    the corpus, no SortMergeJoin."""
    from vector_search_test_spark.operators.sampling import dsir_select

    docs = load_table(spark, sf_dir, "documents")
    plan = _plan(dsir_select(docs, F.col("lang") == "en", 0.4, n_buckets=256))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# ---------------------------------------------------------------------------
# temperature mixing (mT5 / XLM-R α-smoothing; sampling.py::temperature_mixture)
# ---------------------------------------------------------------------------


def test_temperature_mixture_matches_duckdb(spark, sf_dir):
    from vector_search_test_spark.operators.sampling import (
        temperature_mixture,
        temperature_mixture_sql,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    got = {
        (r.doc_id, r.source, r.epoch)
        for r in temperature_mixture(docs, alpha=0.3, budget=800).collect()
    }
    con = _ddb(sf_dir)
    want = set(
        con.execute(temperature_mixture_sql(alpha=0.3, budget=800)).fetchall()
    )
    assert got == want


def test_temperature_mixture_contract(spark, sf_dir):
    """α=1 is the identity mix (every row exactly once, epoch 0); α<1
    boosts the rarest source above the head source; α must be >= 0."""
    from vector_search_test_spark.operators.sampling import (
        temperature_mixture,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    ident = temperature_mixture(docs, alpha=1.0)
    assert ident.count() == docs.count()
    assert ident.agg(F.max("epoch")).first()[0] == 0
    # the sf fixture's sources are uniform (25 docs each), so the
    # boost/damp assertion needs a skewed frame: 160 head vs 10 rare
    skew = spark.createDataFrame(
        [(i, "head") for i in range(160)] + [(1000 + i, "rare") for i in range(10)],
        "doc_id long, source string",
    )
    mult = {
        r.source: r.m
        for r in temperature_mixture(skew, alpha=0.2)
        .groupBy("source")
        .agg((F.count("*")).alias("m"))
        .collect()
    }
    assert mult["rare"] / 10 > 1 > mult["head"] / 160
    with pytest.raises(ValueError):
        temperature_mixture(docs, alpha=-0.1)


def test_temperature_mixture_plan_broadcasts_weights(spark, sf_dir):
    from vector_search_test_spark.operators.sampling import (
        temperature_mixture,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    plan = _plan(temperature_mixture(docs, alpha=0.3))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_top_fraction_per_stratum(spark, sf_dir):
    """strata mode: per-source counts = floor(frac * n_s); equals
    running the GLOBAL selector on each stratum separately; the plan
    still contains no corpus-wide Sort."""
    from vector_search_test_spark.functions.textstats import quality_score
    from vector_search_test_spark.operators.sampling import (
        top_fraction_by_score,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.round(quality_score("text"), 6).alias("q")
    )
    out = top_fraction_by_score(docs, "q", 0.3, strata_col="source")
    rows = out.collect()
    n_s = {r.source: r["count"] for r in docs.groupBy("source").count().collect()}
    got_s = {}
    for r in rows:
        got_s[r.source] = got_s.get(r.source, 0) + 1
    assert got_s == {s: int(0.3 * n) for s, n in n_s.items() if int(0.3 * n)}
    # equality with per-stratum global selection
    whole = {(r.source, r.doc_id) for r in rows}
    for s in list(n_s)[:3]:
        sub = {
            (s, r.doc_id)
            for r in top_fraction_by_score(
                docs.filter(F.col("source") == s), "q", 0.3
            ).collect()
        }
        assert sub == {p for p in whole if p[0] == s}
    plan = out._jdf.queryExecution().executedPlan().toString()
    # same pin as test_plans.py::test_top_fraction_never_sorts_the_corpus:
    # corpus joins the histogram via broadcast; no range-partitioned
    # global sort of the scan output (the only Sorts sit above the
    # bounded histogram / boundary rows)
    assert "BroadcastHashJoin" in plan
    norm = plan.lower().replace("#", "").replace(" ", "")
    assert "rangepartitioning(q" not in norm


def test_null_stratum_is_its_own_group(spark):
    """A NULL stratum is a legitimate group in both per-stratum
    operators (null-safe join-backs): its rows are selected/weighted
    within the NULL group instead of silently vanishing — matching the
    declarative PARTITION BY semantics of the oracles."""
    from vector_search_test_spark.operators.sampling import (
        temperature_mixture,
        top_fraction_by_score,
    )

    df = spark.createDataFrame(
        [
            (1, "a", 0.9), (2, "a", 0.5), (3, "a", 0.1), (4, "a", 0.3),
            (5, None, 0.8), (6, None, 0.2), (7, None, 0.6), (8, None, 0.4),
        ],
        "doc_id long, source string, q double",
    )
    kept = top_fraction_by_score(df, "q", 0.5, strata_col="source").collect()
    by_src = {}
    for r in kept:
        by_src.setdefault(r.source, set()).add(r.doc_id)
    # top-2 of each group, including the NULL group
    assert by_src[None] == {5, 7}
    assert by_src["a"] == {1, 2}
    # temperature: alpha=1 identity must keep NULL-source rows too
    mix = temperature_mixture(df.select("doc_id", "source"), alpha=1.0)
    assert mix.count() == 8
    assert mix.filter(F.col("source").isNull()).count() == 4


# --------------------------------------------------------------------------
# Bloom-filter contamination prefilter
# --------------------------------------------------------------------------


def test_bloom_report_matches_duckdb(spark, sf_dir):
    """Full cross-engine value equality of the bloom-prefiltered report —
    bitmap decisions included (n_pass / n_false_pos are bitmap-derived)."""
    from vector_search_test_spark.operators.sampling import (
        bloom_contamination_report,
        bloom_contamination_report_sql,
    )

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter("doc_id < 8").select("text")
    got = sorted(
        tuple(str(x) for x in r)
        for r in bloom_contamination_report(
            docs, bench, n=3, m_bits=1024, k=3, threshold=0.5
        ).collect()
    )
    con = _ddb(sf_dir)
    want = sorted(
        tuple(str(x) for x in r)
        for r in con.execute(
            bloom_contamination_report_sql(
                n=3,
                m_bits=1024,
                k=3,
                threshold=0.5,
                bench_sql="SELECT text FROM documents WHERE doc_id < 8",
            )
        ).fetchall()
    )
    assert got == want and len(got) > 0


def test_bloom_no_false_negatives_and_agrees_with_exact(spark, sf_dir):
    """The prefilter must never lose a true match: n_hits (and so
    overlap/contaminated) must equal the exact contamination_report even
    through a deliberately tiny, saturated bitmap."""
    from vector_search_test_spark.operators.sampling import (
        bloom_contamination_report,
    )

    docs = load_table(spark, sf_dir, "documents").limit(200)
    bench = docs.filter("doc_id < 8").select("text")
    bloom = {
        r["id"]: (r["n_shingles"], r["n_hits"], r["overlap"], r["contaminated"])
        for r in bloom_contamination_report(
            docs, bench, n=3, m_bits=64, k=2, threshold=0.5
        ).collect()
    }
    exact = {
        r["id"]: (r["n_shingles"], r["n_hits"], r["overlap"], r["contaminated"])
        for r in contamination_report(docs, bench, n=3, threshold=0.5).collect()
    }
    assert bloom == exact
    # planted benchmark docs self-contaminate fully
    for i in range(8):
        assert exact[i][2] == 1.0 and exact[i][3] is True


def test_bloom_pass_counts_bound_hits(spark, sf_dir):
    """n_pass >= n_hits, n_false_pos = n_pass - n_hits >= 0, and with a
    realistic bitmap the pass sliver is far below the shingle total
    (the prefilter actually prefilters)."""
    from vector_search_test_spark.operators.sampling import (
        bloom_contamination_report,
    )

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter("doc_id < 8").select("text")
    rows = bloom_contamination_report(
        docs, bench, n=3, m_bits=16384, k=3, threshold=0.5
    ).collect()
    assert all(r["n_pass"] >= r["n_hits"] >= 0 for r in rows)
    assert all(r["n_false_pos"] == r["n_pass"] - r["n_hits"] for r in rows)
    clean = [r for r in rows if r["id"] >= 8]
    assert sum(r["n_pass"] for r in clean) < 0.2 * sum(
        r["n_shingles"] for r in clean
    )


def test_bloom_bitmap_bit63_and_word_boundaries(spark):
    """The literal-bitmap probe must extract bits correctly across word
    boundaries and at bit 63 (negative Java long)."""
    from vector_search_test_spark.operators.sampling import bloom_pass_expr

    # bitmap with ONLY bits 0, 63, 64, 127 set (words: 1|1<<63, 1|1<<63)
    w = [(1 | (1 << 63)) - (1 << 64), (1 | (1 << 63)) - (1 << 64)]
    df = spark.createDataFrame(
        [(p,) for p in [0, 1, 62, 63, 64, 65, 126, 127]], "h long"
    )
    # k=1 probe whose position is the raw h value: monkey-patch via a
    # direct expression — replicate bloom_pass_expr's bit test with the
    # identity position
    arr = "array(" + ",".join(f"{int(x)}L" for x in w) + ")"
    got = {
        r["h"]: r["p"]
        for r in df.selectExpr(
            "h",
            f"((shiftright(element_at({arr}, CAST(h DIV 64 AS INT) + 1), "
            f"CAST(h % 64 AS INT))) & 1L) = 1L AS p",
        ).collect()
    }
    assert got == {0: True, 1: False, 62: False, 63: True,
                   64: True, 65: False, 126: False, 127: True}
    # and the real pass expr agrees with python-side set membership
    from vector_search_test_spark.functions.hashing import minhash_ab, MINHASH_P
    from vector_search_test_spark.operators.sampling import (
        BLOOM_MEMBER_BASE,
        bloom_build,
    )

    bench = spark.createDataFrame(
        [("red green blue cyan magenta yellow",)], "text string"
    )
    words = bloom_build(bench, n=3, m_bits=256, k=3)
    hs = spark.createDataFrame([(i * 7919,) for i in range(50)], "h long")
    got2 = {
        r["h"]: r["p"]
        for r in hs.select(
            "h", bloom_pass_expr("h", words, 256, 3).alias("p")
        ).collect()
    }
    setbits = set()
    for wi, wv in enumerate(words):
        uv = wv + (1 << 64) if wv < 0 else wv
        for b in range(64):
            if (uv >> b) & 1:
                setbits.add(wi * 64 + b)
    for h, p in got2.items():
        exp = all(
            ((minhash_ab(BLOOM_MEMBER_BASE + j)[0] * (h % MINHASH_P)
              + minhash_ab(BLOOM_MEMBER_BASE + j)[1]) % MINHASH_P) % 256
            in setbits
            for j in range(3)
        )
        assert p == exp


def test_bloom_verify_join_sees_only_the_pass_sliver(spark, sf_dir):
    """Scale-shape pin: the exact-verification broadcast join's probe side
    is filtered by the bitmap predicate BEFORE the join (the sliver), and
    the corpus side of the report is never shuffled at full width."""
    from vector_search_test_spark.operators.sampling import (
        bloom_contamination_report,
    )

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter("doc_id < 8").select("text")
    rep = bloom_contamination_report(docs, bench, n=3, m_bits=16384, k=3)
    plan = _plan(rep)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    # the bitmap test (shiftright over the literal array) appears as a
    # filter in the plan, upstream of the semi join
    assert "shiftright" in plan
    assert plan.index("shiftright") > plan.index("BroadcastHashJoin")


# --------------------------------------------------------------------------
# Leakage-safe splits
# --------------------------------------------------------------------------


def test_leakage_safe_splits_zero_crossing_pairs(spark, sf_dir):
    """The guarantee itself: zero near-dup pairs straddle splits under
    the group-keyed assignment, while the id-keyed hash_split DOES leak
    on the same corpus (the failure mode the operator exists to stop)."""
    from vector_search_test_spark.operators.dedup import neardup_minhash
    from vector_search_test_spark.operators.sampling import (
        leakage_safe_splits,
        split_leakage_count,
    )

    docs = load_table(spark, sf_dir, "documents")
    asg = leakage_safe_splits(docs, WEIGHTS)
    pairs = neardup_minhash(docs)
    assert pairs.count() > 0
    assert split_leakage_count(asg, pairs) == 0
    naive = hash_split(docs.selectExpr("doc_id AS id"), WEIGHTS, id_col="id")
    assert split_leakage_count(naive, pairs) > 0


def test_leakage_safe_splits_contract(spark, sf_dir):
    """One row per document, every split named, duplicates inherit their
    representative's assignment, singletons represent themselves."""
    from vector_search_test_spark.operators.sampling import (
        leakage_safe_splits,
    )

    docs = load_table(spark, sf_dir, "documents")
    rows = leakage_safe_splits(docs, WEIGHTS).collect()
    assert len(rows) == docs.count()
    assert {r["split"] for r in rows} <= set(WEIGHTS)
    by_id = {r["id"]: r for r in rows}
    rep_split = {}
    for r in rows:
        assert r["rep_id"] in by_id and r["rep_id"] <= r["id"]
        rep_split.setdefault(r["rep_id"], r["split"])
        assert rep_split[r["rep_id"]] == r["split"]
    # the rep itself must be assigned where its group is
    for rep, s in rep_split.items():
        assert by_id[rep]["split"] == s


def test_leakage_safe_splits_prebuilt_seam(spark, sf_dir):
    """The persistent-signature seam produces the identical assignment
    (superset tables semi-filtered), and a parameter mismatch raises."""
    import pytest as _pytest

    from vector_search_test_spark.operators.dedup import minhash_tables
    from vector_search_test_spark.operators.sampling import (
        leakage_safe_splits,
    )

    docs = load_table(spark, sf_dir, "documents").limit(300)
    tables = minhash_tables(docs)
    a = sorted(map(tuple, leakage_safe_splits(docs, WEIGHTS).collect()))
    b = sorted(
        map(tuple, leakage_safe_splits(docs, WEIGHTS, prebuilt=tables).collect())
    )
    assert a == b
    with _pytest.raises(ValueError):
        leakage_safe_splits(docs, WEIGHTS, bands=8, prebuilt=tables)


# --------------------------------------------------------------------------
# Training shards — the deterministic global shuffle
# --------------------------------------------------------------------------


def test_training_shards_matches_duckdb(spark, sf_dir):
    from vector_search_test_spark.operators.sampling import (
        training_shards,
        training_shards_sql,
    )

    docs = load_table(spark, sf_dir, "documents")
    got = sorted(
        tuple(str(x) for x in r)
        for r in training_shards(docs, 8, seed="t1").collect()
    )
    con = _ddb(sf_dir)
    want = sorted(
        tuple(str(x) for x in r)
        for r in con.execute(training_shards_sql(8, seed="t1")).fetchall()
    )
    assert got == want and len(got) == 8


def test_training_shards_contract(spark, sf_dir):
    """Partition: every doc in exactly one shard; seeds give different
    permutations; the fingerprint is order-sensitive (a transposition
    changes it)."""
    from vector_search_test_spark.operators.sampling import (
        shard_assignment,
        training_shards,
    )

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    rows = training_shards(docs, 8, seed="t1").collect()
    assert sum(r["n_docs"] for r in rows) == n
    rows2 = training_shards(docs, 8, seed="t2").collect()
    assert {r["shard"]: r["order_fp"] for r in rows} != {
        r["shard"]: r["order_fp"] for r in rows2
    }
    # determinism: same seed, same audit
    again = training_shards(docs, 8, seed="t1").collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    # shard balance in expectation: no shard more than 2x the mean
    sizes = [r["n_docs"] for r in rows]
    assert max(sizes) < 2 * (n / 8)
    # assignment is scan-only (no shuffle in shard_assignment itself)
    plan = _plan(shard_assignment(docs, 8))
    assert "Exchange" not in plan


def test_write_training_shards_roundtrip_order(spark, sf_dir, tmp_path):
    """Every shard directory reads back in exactly the h-ascending
    permutation the audit fingerprints (the writer's dynamic-partition
    sort must not disturb it)."""
    from vector_search_test_spark.operators.sampling import (
        write_training_shards,
    )

    docs = load_table(spark, sf_dir, "documents").limit(300)
    path = str(tmp_path / "shards")
    write_training_shards(docs, path, 4, seed="t1")
    total = 0
    for s in range(4):
        hs = [
            r["h"]
            for r in spark.read.parquet(f"{path}/shard={s}")
            .select("h")
            .collect()
        ]
        assert hs == sorted(hs) and len(hs) > 0
        total += len(hs)
    assert total == 300


def test_token_budget_plan_arithmetic(spark):
    """Planted two-source corpus: shares, targets, epochs, and the
    clamped sample rate follow the documented arithmetic; α=1 gives
    proportional allocation, α=0 gives the uniform split."""
    from vector_search_test_spark.operators.sampling import (
        token_budget_plan,
    )

    rows = [
        (0, "a b c d", "big"),      # 4 tokens
        (1, "a b c d", "big"),      # 8 total for big
        (2, "x y", "small"),        # 2 tokens for small
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    # alpha=1: proportional -> big 80%, small 20% of a 100-token budget
    out = {r["source"]: r for r in token_budget_plan(docs, 100, alpha=1.0).collect()}
    assert out["big"]["n_tokens"] == 8 and out["small"]["n_tokens"] == 2
    assert out["big"]["nat_share"] == 0.8 and out["small"]["nat_share"] == 0.2
    assert out["big"]["target_tokens"] == 80
    assert out["small"]["target_tokens"] == 20
    assert out["small"]["epochs"] == 10.0      # 20 tokens from a 2-token source
    assert out["small"]["sample_rate"] == 1.0  # clamped
    assert out["big"]["n_docs"] == 2
    # alpha=0: uniform target shares regardless of size
    out0 = {r["source"]: r for r in token_budget_plan(docs, 100, alpha=0.0).collect()}
    assert out0["big"]["target_share"] == 0.5 == out0["small"]["target_share"]
    # sub-epoch case: tiny budget -> sample_rate < 1 on the big source
    outs = {r["source"]: r for r in token_budget_plan(docs, 5, alpha=1.0).collect()}
    assert outs["big"]["epochs"] == 0.5 and outs["big"]["sample_rate"] == 0.5


def test_quality_signal_agreement_extremes(spark):
    """A source whose two rankings coincide gives rho=1 and full
    overlap; cross-check rho against a pure-python Spearman on a
    mixed source."""
    from vector_search_test_spark.operators.sampling import (
        quality_signal_agreement,
    )

    # 5 docs with strictly increasing quality AND strictly increasing
    # LM fit (longer, cleaner sentences of common words)
    rows = [(i, "word " * (i + 3) + "common text here", "mono") for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["source"]: r for r in quality_signal_agreement(docs, p=0.4).collect()}
    r = out["mono"]
    assert r["n_docs"] == 5
    assert -1.0 <= r["spearman_rho"] <= 1.0
    # cutoff = floor(0.4*5) = 2 -> overlap is k/2 for k in {0,1,2}
    assert r["topp_overlap"] in (0.0, 0.5, 1.0)
    # identical signals -> identical ranks -> rho exactly 1
    same = spark.createDataFrame(
        [(i, "alpha beta gamma delta", "same") for i in range(3)],
        "doc_id long, text string, source string",
    )
    rr = quality_signal_agreement(same, p=0.5).collect()[0]
    # identical texts tie everywhere; id tie-break gives equal ranks
    assert rr["spearman_rho"] == 1.0 and rr["topp_overlap"] == 1.0


def test_excess_loss_mixture_invariants(spark, sf_dir):
    """Weights are a probability distribution; zero-excess corpora
    reduce to the natural shares; excess is clipped at 0."""
    from vector_search_test_spark.io import load_table
    from vector_search_test_spark.operators.sampling import (
        excess_loss_mixture,
    )

    docs = load_table(spark, sf_dir, "documents")
    rows = excess_loss_mixture(docs).collect()
    assert len(rows) == docs.select("source").distinct().count()
    assert abs(sum(r.weight for r in rows) - 1.0) < 1e-4
    assert all(r.excess >= 0.0 for r in rows)
    assert all(0.0 <= r.weight <= 1.0 for r in rows)
    assert abs(sum(r.nat_share for r in rows) - 1.0) < 1e-4
    # the bigram proxy cannot be WORSE than unigram on the corpus it
    # was fit to at interpolation lam=0.7 — excess is genuinely
    # positive somewhere on the fixture (non-vacuous reweighting)
    assert any(r.excess > 0 for r in rows)
    # weight ordering follows excess when shares are near-uniform:
    # the max-excess source must gain vs its natural share
    best = max(rows, key=lambda r: r.excess)
    assert best.weight >= best.nat_share


def test_excess_loss_mixture_eta_zero_is_natural_share(spark, sf_dir):
    """eta = 0 turns the exponentiated-gradient step off: weights ==
    natural token shares exactly (both 6dp-rounded from the same
    integer sums)."""
    from vector_search_test_spark.io import load_table
    from vector_search_test_spark.operators.sampling import (
        excess_loss_mixture,
    )

    docs = load_table(spark, sf_dir, "documents").limit(200)
    for r in excess_loss_mixture(docs, eta=0.0).collect():
        assert abs(r.weight - r.nat_share) < 2e-6


def test_curriculum_order_phases_and_keys(spark, sf_dir):
    """Curriculum schedule invariants: phases partition the corpus and
    are difficulty-disjoint (equal difficulties always share a phase;
    every doc in phase i is no harder than any doc in phase i+1), the
    shuffle key is the salted md5 (deterministic across runs), and the
    phase count is bounded by n_phases."""
    import hashlib

    from vector_search_test_spark.io import load_table
    from vector_search_test_spark.operators.sampling import (
        curriculum_order,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = curriculum_order(docs, n_phases=4, salt="cur1").collect()
    assert len(out) == docs.count()
    by_phase = {}
    for r in out:
        assert 0 <= r.phase < 4
        by_phase.setdefault(r.phase, []).append(float(r.difficulty))
        assert (
            r.order_key
            == hashlib.md5(f"cur1:{r.doc_id}".encode()).hexdigest()
        )
    phases = sorted(by_phase)
    # difficulty-disjoint: max of phase i <= min of phase i+1
    for a, b in zip(phases, phases[1:]):
        assert max(by_phase[a]) <= min(by_phase[b])
    # equal difficulties share a phase
    seen = {}
    for r in out:
        d = float(r.difficulty)
        assert seen.setdefault(d, r.phase) == r.phase
    # deterministic across a second run
    again = curriculum_order(docs, n_phases=4, salt="cur1").collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_curriculum_order_validates_phases(spark, sf_dir):
    import pytest

    from vector_search_test_spark.io import load_table
    from vector_search_test_spark.operators.sampling import (
        curriculum_order,
    )

    with pytest.raises(ValueError):
        curriculum_order(
            load_table(spark, sf_dir, "documents"), n_phases=1
        )
