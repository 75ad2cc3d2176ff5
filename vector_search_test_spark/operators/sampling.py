"""Deterministic sampling / dataset-splitting / decontamination operators
for training-data pipelines (extension — the reference has no sampling or
split surface; its corpus is one in-memory CSV, app.py:198-228).

Everything here is built for the 100 TB case:

- `hash_fraction` maps a key to a uniform [0,1) double via md5 — a pure
  per-row projection, so `hash_sample` / `hash_split` /
  `stratified_sample` are SCAN-ONLY: no shuffle, no sort, no state, and
  the same row always lands in the same split on any cluster size or
  partitioning (re-runs and incremental appends stay consistent). md5 is
  chosen over xxhash64 deliberately: every engine speaks it, so the
  DuckDB twin reproduces the assignment BIT-FOR-BIT (pinned in
  tests/test_sampling.py) and a downstream system can re-derive splits
  without Spark.
- `contamination_report` (benchmark-decontamination) shingles the corpus
  per row (projection), broadcasts the DISTINCT benchmark shingle set
  (benchmarks are tiny next to a training corpus), and left-semi joins —
  the corpus is never shuffled at full width; only (id, hit-count) pairs
  move, after map-side partial aggregation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vector_search_test_spark.operators.dedup import shingles, shingles_sql

_HASH_DENOM = float(1 << 32)


def hash_fraction(key: Column | str, salt: str) -> Column:
    """Deterministic uniform [0,1) from a key: first 8 hex digits of
    md5(key ':' salt) as an unsigned 32-bit integer, scaled. Engine-
    portable — DuckDB twin: `('0x' || substring(md5(key || ':salt'),
    1, 8))::UBIGINT / 4294967296.0` (bit-identical, see tests)."""
    k = F.col(key) if isinstance(key, str) else key
    h = F.md5(F.concat(k.cast("string"), F.lit(":" + salt)))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("double") / F.lit(_HASH_DENOM)


def hash_fraction_sql(key_expr: str, salt: str) -> str:
    """DuckDB twin of `hash_fraction` (same digest, same scaling)."""
    return (
        f"CAST(('0x' || substring(md5(CAST({key_expr} AS VARCHAR) || ':{salt}'), 1, 8)) "
        f"AS UBIGINT) / {_HASH_DENOM}"
    )


def hash_sample(
    df: DataFrame, fraction: float, id_col: str = "doc_id", salt: str = "sample"
) -> DataFrame:
    """Deterministic `fraction`-sample: keep rows whose hash fraction is
    below `fraction`. A pure filter over a projection — scan-only, no
    shuffle — and stable under re-runs, repartitioning, and incremental
    appends (a row's membership never changes)."""
    return df.filter(hash_fraction(id_col, salt) < F.lit(float(fraction)))


def hash_split(
    df: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "split",
) -> DataFrame:
    """Add a `split` column assigning each row to exactly one named split
    (e.g. {'train': .8, 'val': .1, 'test': .1}) by hash-fraction ranges.
    Deterministic and id-stable: disjoint, exhaustive, and independent of
    partitioning or row order; weights are normalized. Scan-only."""
    if not weights:
        raise ValueError("weights must be a non-empty {name: weight} dict")
    total = float(sum(weights.values()))
    if total <= 0:
        raise ValueError("weights must sum to a positive value")
    frac = hash_fraction(id_col, salt)
    names = list(weights)
    expr = None
    cum = 0.0
    for name in names[:-1]:
        cum += float(weights[name]) / total
        cond = frac < F.lit(cum)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    # last split takes the remainder so rounding can't orphan rows
    expr = F.lit(names[-1]) if expr is None else expr.otherwise(F.lit(names[-1]))
    return df.withColumn("split", expr)


def hash_split_sql(
    weights: dict[str, float], key_expr: str, salt: str = "split"
) -> str:
    """DuckDB twin of `hash_split`'s `split` column (same ranges)."""
    total = float(sum(weights.values()))
    frac = hash_fraction_sql(key_expr, salt)
    names = list(weights)
    parts = []
    cum = 0.0
    for name in names[:-1]:
        cum += float(weights[name]) / total
        parts.append(f"WHEN {frac} < {cum} THEN '{name}'")
    if not parts:
        return f"'{names[-1]}'"
    return "CASE " + " ".join(parts) + f" ELSE '{names[-1]}' END"


def stratified_sample(
    df: DataFrame,
    fractions: dict,
    strata_col: str,
    id_col: str = "doc_id",
    salt: str = "strata",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling: keep a row of stratum `s` iff
    its hash fraction is below `fractions[s]` (strata absent from the
    dict keep `default_fraction`). The per-stratum threshold is a literal
    CASE over `strata_col` — still scan-only, no shuffle, no per-stratum
    pass. This is the down-weight/up-weight knob of corpus mixing (e.g.
    keep 100% of books, 10% of common-crawl)."""
    thr = None
    for sval, fr in fractions.items():
        cond = F.col(strata_col) == F.lit(sval)
        thr = F.when(cond, F.lit(float(fr))) if thr is None else thr.when(cond, F.lit(float(fr)))
    thr = (
        F.lit(float(default_fraction))
        if thr is None
        else thr.otherwise(F.lit(float(default_fraction)))
    )
    return df.filter(hash_fraction(id_col, salt) < thr)


def top_fraction_by_score(
    df: DataFrame,
    score_col: str,
    frac: float,
    id_col: str = "doc_id",
    max_score_classes: int = 1_000_000,
    strata_col: str | None = None,
) -> DataFrame:
    """EXACT global top-`frac` selection by (`score_col` DESC, `id_col`
    ASC) — the "keep the best X% by quality" curation knob (the
    FineWeb / DCLM selection step) with top-k semantics a SQL engine can
    replay (`row_number() OVER (ORDER BY score DESC, id) <= floor(frac*n)`),
    but WITHOUT the global sort that QUALIFY implies.

    Scale design: exact global top-k via a score HISTOGRAM —
    1. group the corpus by score value (bounded cardinality: scores are
       rounded composites, ~1e6 distinct values regardless of corpus
       size) with map-side combine;
    2. running count over the tiny histogram (single-partition window
       over distinct SCORES, not rows — documented driver-side-small);
    3. broadcast the annotated histogram back: whole score classes with
       cum <= k are kept by a scan-side filter, and ONLY the single
       boundary class (cum_prev < k < cum) pays a row_number window,
       partitioned by its one score value — the tie mass at the cutoff,
       not the corpus.
    The corpus itself is never sorted or shuffled; at 100 TB the only
    non-scan costs are the histogram aggregate and the boundary-class
    window. Returns the kept rows of `df` unchanged (same columns).

    The whole design leans on the histogram being SMALL (it runs
    through a single-partition window and a broadcast): a raw
    continuous score silently turns it back into the global sort this
    function exists to avoid. `max_score_classes` enforces that
    assumption at execution time — the cardinality check rides the SAME
    single-partition window pass (a row_number folded into the `__cum`
    expression via assert_true, so no extra action or scan), and the
    job fails loudly instead of spilling a corpus-sized "histogram".
    Callers with continuous scores must round/bucket first.

    `strata_col` generalizes the same plan to PER-STRATUM selection
    ("keep the best X% of every source/domain" — the knob that stops
    global selection from collapsing onto one domain): the histogram
    keys on (stratum, score), the running count and the boundary
    window partition by stratum, and `frac` applies to each stratum's
    own count. Same single histogram aggregate, same broadcast, same
    corpus-never-sorted guarantee; the class-cardinality guard bounds
    the WHOLE (stratum, score) histogram.
    """
    from pyspark.sql import Window

    if not 0.0 <= frac <= 1.0:
        raise ValueError(f"frac must be in [0, 1], got {frac}")
    skeys = [strata_col] if strata_col else []
    # the histogram is materialized once (guard-bounded broadcast-small)
    # and the per-stratum totals DERIVE from it (sum of class counts ==
    # row count, same rows grouped) — without this the histogram
    # broadcast build, the totals broadcast build, and the two output
    # branches (full + boundary) each re-ran the scoring scan over df
    # (r16: 6 executions of the caller's quality-score pipeline per
    # action, now 3 — the two output branches still scan df, which is
    # the design's one intended re-read)
    hist = (
        df.groupBy(*skeys, score_col)
        .agg(F.count("*").alias("__n"))
        .localCheckpoint()
    )
    wg = Window.orderBy(F.desc(score_col))
    w = (
        Window.partitionBy(*skeys).orderBy(F.desc(score_col))
        if skeys
        else wg
    )
    guard = F.assert_true(
        F.row_number().over(wg) <= F.lit(int(max_score_classes)),
        F.lit(
            f"top_fraction_by_score: more than {max_score_classes} "
            f"distinct {(strata_col, score_col) if strata_col else score_col!r} "
            "classes — round or bucket the score so the histogram "
            "stays broadcast-sized"
        ),
    )
    hist = hist.select(
        *skeys,
        score_col,
        "__n",
        # assert_true returns NULL (or raises), so the when() always
        # takes the sum branch; folding it in keeps the guard from
        # being pruned out of the executed plan
        F.when(guard.isNull(), F.sum("__n").over(w))
        .otherwise(F.lit(None))
        .alias("__cum"),
    ).withColumn("__cum_prev", F.col("__cum") - F.col("__n"))
    total = hist.groupBy(*skeys).agg(
        F.sum("__n").cast("long").alias("__total")
    )
    # all histogram joins are NULL-SAFE on the stratum key: groupBy
    # keeps a NULL stratum as its own group and the declarative twin
    # (row_number PARTITION BY stratum) puts NULLs in one partition —
    # a null-unsafe join-back would silently drop those rows instead
    # of selecting within them
    if skeys:
        t = total.select(
            F.col(strata_col).alias("__ts"), "__total"
        )
        hist = hist.join(
            F.broadcast(t), F.col(strata_col).eqNullSafe(F.col("__ts"))
        ).drop("__ts")
    else:
        hist = hist.crossJoin(F.broadcast(total))
    hist = hist.withColumn(
        "__k", F.floor(F.lit(float(frac)) * F.col("__total")).cast("long")
    )
    h = hist.select(
        *[F.col(k).alias(f"__h_{k}") for k in skeys],
        F.col(score_col).alias("__h_score"),
        "__cum",
        "__cum_prev",
        "__k",
    )
    mcond = F.col(score_col) == F.col("__h_score")
    for k in skeys:
        mcond = mcond & F.col(k).eqNullSafe(F.col(f"__h_{k}"))
    marked = df.join(F.broadcast(h), mcond).drop(
        "__h_score", *[f"__h_{k}" for k in skeys]
    )
    full = marked.filter(F.col("__cum") <= F.col("__k"))
    boundary = marked.filter(
        (F.col("__cum_prev") < F.col("__k")) & (F.col("__k") < F.col("__cum"))
    )
    wb = Window.partitionBy(*skeys, score_col).orderBy(id_col)
    bkeep = (
        boundary.withColumn("__rn", F.row_number().over(wb))
        .filter(F.col("__rn") <= F.col("__k") - F.col("__cum_prev"))
        .drop("__rn")
    )
    drop = ["__cum", "__cum_prev", "__k"]
    return full.unionByName(bkeep).drop(*drop).select(*df.columns)


def epoch_upsample(
    df: DataFrame,
    weights: dict,
    strata_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "epoch",
    default_weight: float = 1.0,
) -> DataFrame:
    """FRACTIONAL-epoch source mixing — the pretraining recipe knob
    "2.5 epochs of wiki, 0.25 of common-crawl": every row of stratum s
    with weight w appears floor(w) times, plus once more iff its
    deterministic hash fraction < frac(w). Expected multiplicity is
    exactly w per stratum; the integer part is exact per ROW, and the
    fractional part is the same scan-only hash Bernoulli as
    `hash_sample`, so re-runs, incremental appends, and downstream
    engines reproduce the copy set bit-for-bit (no RNG state).

    Output adds `copy_id` (1..n for each row's n copies) so downstream
    packing/shuffling can distinguish copies. Scale shape: a pure
    projection + explode of a per-row 1..n sequence — no shuffle, no
    join; output size is sum(w_s * |s|) by construction. Weights < 1
    downsample (floor 0 + Bernoulli), making this a strict superset of
    `stratified_sample`."""
    for s, w in weights.items():
        if w < 0:
            raise ValueError(f"negative weight for {s!r}: {w}")
    wi = None
    wf = None
    for s, w in weights.items():
        w = float(w)
        cond = F.col(strata_col) == F.lit(s)
        i_, f_ = int(w), w - int(w)
        wi = F.when(cond, F.lit(i_)) if wi is None else wi.when(cond, F.lit(i_))
        wf = F.when(cond, F.lit(f_)) if wf is None else wf.when(cond, F.lit(f_))
    dw = float(default_weight)
    di, dfrac = int(dw), dw - int(dw)
    wi = F.lit(di) if wi is None else wi.otherwise(F.lit(di))
    wf = F.lit(dfrac) if wf is None else wf.otherwise(F.lit(dfrac))
    n_rep = wi + (hash_fraction(id_col, salt) < wf).cast("int")
    seq = F.when(n_rep >= 1, F.sequence(F.lit(1), n_rep)).otherwise(
        F.array().cast("array<int>")
    )
    return df.withColumn("copy_id", F.explode(seq))


def epoch_upsample_sql(
    weights: dict,
    strata_expr: str = "source",
    id_expr: str = "doc_id",
    salt: str = "epoch",
    default_weight: float = 1.0,
) -> str:
    """DuckDB twin of epoch_upsample's per-row copy count + lateral
    expansion, as a FROM-clause fragment producing `copy_id` (pair with
    `FROM documents, unnest(range(1, {n_rep}+1)) AS r(copy_id)`)."""
    cases = " ".join(
        f"WHEN {strata_expr} = '{s}' THEN {int(float(w))}"
        for s, w in weights.items()
    )
    fcases = " ".join(
        f"WHEN {strata_expr} = '{s}' THEN {float(w) - int(float(w))!r}"
        for s, w in weights.items()
    )
    dw = float(default_weight)
    wi = f"(CASE {cases} ELSE {int(dw)} END)" if cases else f"{int(dw)}"
    wf = (
        f"(CASE {fcases} ELSE {dw - int(dw)!r} END)"
        if fcases
        else f"{dw - int(dw)!r}"
    )
    bern = f"(CASE WHEN {hash_fraction_sql(id_expr, salt)} < {wf} THEN 1 ELSE 0 END)"
    return f"({wi} + {bern})"


def mix_corpus(
    df: DataFrame,
    weights: dict,
    strata_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "mix",
    default_weight: float = 1.0,
) -> DataFrame:
    """Deterministic corpus mixing with BOTH up- and down-sampling: a
    stratum with weight w contributes floor(w) full copies of every row
    plus one extra copy for the hash-chosen frac(w) of rows (so the
    expected multiplicity is exactly w). Output rows carry an `epoch`
    column (0-based copy index) so repeats stay distinguishable through
    downstream shuffles and packing. w < 1 is plain down-sampling —
    bit-identical row choice to `stratified_sample` under the same salt.

    Scan-only like the rest of this module: the weight is a literal CASE
    over `strata_col`, the extra-copy choice is the md5 hash fraction,
    and the duplication is `explode(sequence(...))` — a generator, not a
    shuffle; multiplicities are id-stable across re-runs and engines."""
    w = None
    for sval, wt in weights.items():
        cond = F.col(strata_col) == F.lit(sval)
        w = F.when(cond, F.lit(float(wt))) if w is None else w.when(cond, F.lit(float(wt)))
    w = (
        F.lit(float(default_weight))
        if w is None
        else w.otherwise(F.lit(float(default_weight)))
    )
    n_full = F.floor(w).cast("int")
    extra = (hash_fraction(id_col, salt) < (w - F.floor(w))).cast("int")
    copies = n_full + extra
    return (
        df.withColumn("__copies", copies)
        .filter(F.col("__copies") > 0)
        .withColumn(
            "epoch", F.explode(F.sequence(F.lit(0), F.col("__copies") - 1))
        )
        .drop("__copies")
    )


def mix_corpus_sql(
    weights: dict,
    strata_col: str = "source",
    key_expr: str = "doc_id",
    salt: str = "mix",
    default_weight: float = 1.0,
    table: str = "documents",
) -> str:
    """DuckDB twin of `mix_corpus`, yielding ({key}, epoch) rows."""
    parts = " ".join(
        f"WHEN {strata_col} = '{s}' THEN CAST({float(w)} AS DOUBLE)"
        for s, w in weights.items()
    )
    w = f"(CASE {parts} ELSE CAST({float(default_weight)} AS DOUBLE) END)"
    frac = hash_fraction_sql(key_expr, salt)
    copies = f"(CAST(floor({w}) AS INT) + CASE WHEN {frac} < {w} - floor({w}) THEN 1 ELSE 0 END)"
    return f"""
        SELECT {key_expr}, UNNEST(range(0, {copies})) AS epoch
        FROM {table}
        WHERE {copies} > 0
    """


_TEMP_QUANT = 10**9  # per-source weight quantization (cross-engine exact)


def temperature_mixture(
    df: DataFrame,
    alpha: float = 0.5,
    budget: int | None = None,
    strata_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "temp",
) -> DataFrame:
    """α-smoothed multinomial source mixing (the mT5 / XLM-R sampling
    temperature): source s is drawn with p_s ∝ n_s^α, so low-resource
    sources are boosted and head sources damped as α → 0. Realized as a
    per-row multiplicity w_s = budget · p_s / n_s (expected output rows
    = budget): floor(w_s) exact copies plus one hash-Bernoulli extra for
    the fractional part, with a 0-based `epoch` copy index — the exact
    `mix_corpus` contract, but with the weights COMPUTED from the corpus
    instead of supplied.

    Scale shape: one count aggregate bounded at |sources| rows; its
    normalization rides a broadcast cross join of the 1-row total; the
    annotated weight table broadcasts back into the scan — no corpus
    shuffle, no driver collect.

    Determinism: pow(n_s, α) — the only transcendental — is quantized
    to an integer IMMEDIATELY, so the normalizer is an integer sum
    (exact, partition-order-free — the DSIR pattern) instead of a
    float sum whose value would depend on summation order. Every
    remaining operation is a correctly-rounded IEEE double op in one
    fixed expression order over identical integer inputs, then one
    final 1e-9 quantization feeding pure-integer floor/Bernoulli
    arithmetic — so re-runs, repartitionings, and the DuckDB twin
    reproduce the exact copy set. (As with every quantized-
    transcendental twin in this repo — DSIR, the bigram LM — a 1-ulp
    cross-engine pow difference could in principle land one source's
    weight on the far side of a 1e-9 rounding boundary; measure-zero
    in practice, and the oracle gate would catch it.)

    NULL stratum values are a legitimate stratum: the count aggregate
    keeps them as their own group and the weight join-back is
    null-safe, so NULL-source rows are weighted and emitted like any
    other stratum instead of silently dropping out."""
    if alpha < 0:
        raise ValueError(f"alpha must be >= 0, got {alpha}")
    counts = df.groupBy(strata_col).agg(F.count("*").alias("__n"))
    cq = counts.select(
        strata_col,
        "__n",
        F.round(
            F.pow(F.col("__n"), F.lit(float(alpha))) * F.lit(_TEMP_QUANT), 0
        )
        .cast("decimal(38,0)")
        .alias("__qp"),
    )
    tot = cq.agg(
        F.sum("__qp").alias("__qz"),
        F.sum("__n").alias("__total"),
    )
    b = (
        F.lit(int(budget)).cast("double")
        if budget is not None
        else F.col("__total").cast("double")
    )
    w = (
        b
        * F.col("__qp").cast("double")
        / F.col("__qz").cast("double")
        / F.col("__n").cast("double")
    )
    qw = (
        cq.crossJoin(F.broadcast(tot))
        .select(
            strata_col,
            F.round(w * F.lit(float(_TEMP_QUANT)), 0)
            .cast("long")
            .alias("__qw"),
        )
    )
    rem = F.pmod(F.col("__qw"), F.lit(_TEMP_QUANT))
    # (qw - rem) is an exact multiple of the quantum, so the double
    # division is exact — matches DuckDB's integer // bit-for-bit
    n_full = ((F.col("__qw") - rem) / F.lit(_TEMP_QUANT)).cast("long")
    fpart = rem.cast("double") / F.lit(float(_TEMP_QUANT))
    copies = (
        n_full + (hash_fraction(id_col, salt) < fpart).cast("long")
    ).cast("int")
    # null-safe join-back: a NULL stratum is a real group (see
    # docstring); plain join-on-name would silently drop its rows
    qw2 = qw.select(F.col(strata_col).alias("__ws"), "__qw")
    return (
        df.join(
            F.broadcast(qw2), F.col(strata_col).eqNullSafe(F.col("__ws"))
        )
        .drop("__ws")
        .withColumn("__copies", copies)
        .filter(F.col("__copies") > 0)
        .withColumn(
            "epoch", F.explode(F.sequence(F.lit(0), F.col("__copies") - 1))
        )
        .drop("__copies", "__qw")
        .select(*df.columns, "epoch")
    )


def temperature_mixture_sql(
    alpha: float = 0.5,
    budget: int | None = None,
    strata_col: str = "source",
    key_expr: str = "doc_id",
    salt: str = "temp",
    table: str = "documents",
) -> str:
    """DuckDB twin of `temperature_mixture`, yielding ({key}, {strata},
    epoch) rows — same immediately-quantized pow, same integer
    normalizer sum, same fixed-order double chain, same md5
    Bernoulli."""
    a = float(alpha)
    b = (
        f"CAST({int(budget)} AS DOUBLE)"
        if budget is not None
        else "CAST(t.total AS DOUBLE)"
    )
    frac = hash_fraction_sql(key_expr, salt)
    return f"""
        WITH c AS (
            SELECT {strata_col}, count(*)::BIGINT AS n
            FROM {table} GROUP BY {strata_col}
        ),
        cq AS (
            SELECT {strata_col}, n,
                   CAST(round(pow(n, {a!r}) * {_TEMP_QUANT})
                        AS DECIMAL(38,0)) AS qp
            FROM c
        ),
        t AS (
            SELECT sum(qp) AS qz, sum(n)::BIGINT AS total FROM cq
        ),
        w AS (
            SELECT cq.{strata_col},
                   round({b} * CAST(qp AS DOUBLE) / CAST(qz AS DOUBLE)
                         / CAST(n AS DOUBLE)
                         * {float(_TEMP_QUANT)!r})::BIGINT AS qw
            FROM cq CROSS JOIN t
        ),
        m AS (
            SELECT d.{key_expr}, d.{strata_col},
                   (qw // {_TEMP_QUANT}
                    + CASE WHEN {frac} < (qw % {_TEMP_QUANT})::DOUBLE
                                          / {float(_TEMP_QUANT)!r}
                           THEN 1 ELSE 0 END)::INT AS copies
            FROM {table} d JOIN w
              ON d.{strata_col} IS NOT DISTINCT FROM w.{strata_col}
        )
        SELECT {key_expr}, {strata_col},
               UNNEST(range(0, copies))::BIGINT AS epoch
        FROM m WHERE copies > 0
    """


def contamination_report(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: for each document, the fraction of its
    distinct word n-gram shingles that appear anywhere in the benchmark
    set, with `contaminated = overlap >= threshold`. Returns
    (id, n_shingles, n_hits, overlap, contaminated) for every document
    with at least one shingle.

    Plan shape (the 100 TB story): the benchmark's DISTINCT shingle set
    is bounded (benchmark suites are MBs against a corpus of TBs) and
    ships to every task; the corpus side is ONE scan. The per-doc
    (n_shingles, n_hits) pair is computed by an Arrow batch kernel
    against the task-local benchmark set — tokenization (lower +
    single-space split) stays JVM-side, shared with `shingles`; the
    kernel only joins the token code points into gram strings and counts
    distinct grams / set membership — one kernel scan instead of an
    interpreted HOF gram chain inside a Generate, a broadcast join, two
    HashAggregates and an id Exchange (measured ~3x faster at sf0.1, r17).
    Values match the DuckDB twin (pytest-pinned). A NULL text
    yields the single [NULL] shingle, counted in n_shingles and never a
    hit."""
    bench_sh = (
        benchmark.select(F.explode(shingles(bench_text_col, n)).alias("s"))
        .distinct()
    )
    agg = _contamination_counts_kernel(
        docs, bench_sh, n=n, id_col=id_col, text_col=text_col
    )
    overlap = F.col("n_hits") / F.col("n_shingles")
    return agg.withColumn("overlap", F.round(overlap, 6)).withColumn(
        "contaminated", overlap >= F.lit(float(threshold))
    )


def _contamination_counts_kernel(
    docs: DataFrame,
    bench_sh: DataFrame,
    n: int,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """(id, n_shingles, n_hits) via one Arrow kernel scan of the corpus.

    The benchmark shingle set is collected once (bounded by the
    benchmark suite's size) and closed over by the kernel, so each task
    holds exactly one Python set. Gram semantics replicate grams_of +
    array_distinct: every n-token window joined with ' ' (whole text
    when shorter than n tokens), first-occurrence-distinct; set
    membership is Python string equality = UTF8 byte equality = Spark
    string equality. A NULL token array (NULL text) is `shingles`'
    [NULL] shingle: one counted row, never a hit."""
    import pandas as pd

    from vector_search_test_spark.operators.dedup import tokens

    nn = int(n)
    id_type = docs.schema[id_col].dataType.simpleString()
    bench_set = frozenset(
        r[0] for r in bench_sh.collect() if r[0] is not None
    )

    def _kernel(batches):
        for pdf in batches:
            ns_out: "list[int]" = []
            nh_out: "list[int]" = []
            for toks in pdf["__toks"]:
                if toks is None:
                    ns_out.append(1)
                    nh_out.append(0)
                    continue
                toks = list(toks)
                if len(toks) >= nn:
                    grams = {
                        " ".join(toks[i : i + nn])
                        for i in range(len(toks) - nn + 1)
                    }
                else:
                    grams = {" ".join(toks)}
                ns_out.append(len(grams))
                nh_out.append(len(grams & bench_set))
            yield pd.DataFrame(
                {"id": pdf["id"], "n_shingles": ns_out, "n_hits": nh_out}
            )

    # A/B (r17): dropping io.spread here, raw scan 0.77 -> 0.63 s,
    # curation decontam stage 1.13 -> 0.84 s.
    base = docs.select(F.col(id_col).alias("id"), F.col(text_col)).select(
        "id", tokens(text_col).alias("__toks")
    )
    return base.mapInPandas(
        _kernel, f"id {id_type}, n_shingles bigint, n_hits bigint"
    )


def contamination_report_sql(
    n: int = 3,
    threshold: float = 0.8,
    docs_table: str = "documents",
    bench_sql: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of `contamination_report` (same shingles via
    shingles_sql, same overlap arithmetic). `bench_sql` is a subquery
    producing the benchmark rows with a `text` column."""
    bench_sql = bench_sql or f"SELECT {text_col} AS text FROM {docs_table} LIMIT 0"
    doc_sh = shingles_sql(text_col, n)
    return f"""
WITH doc_shingles AS (
  SELECT {id_col} AS id, UNNEST({doc_sh}) AS s FROM {docs_table}
),
doc_tot AS (
  SELECT {id_col} AS id, len({doc_sh}) AS n_shingles
  FROM {docs_table}
  WHERE len({doc_sh}) > 0
),
bench_sh AS (
  SELECT DISTINCT UNNEST({shingles_sql('text', n)}) AS s FROM ({bench_sql})
),
hits AS (
  SELECT id, COUNT(*) AS n_hits
  FROM doc_shingles WHERE s IN (SELECT s FROM bench_sh)
  GROUP BY id
)
SELECT t.id,
       t.n_shingles,
       COALESCE(h.n_hits, 0) AS n_hits,
       ROUND(COALESCE(h.n_hits, 0) / CAST(t.n_shingles AS DOUBLE), 6) AS overlap,
       COALESCE(h.n_hits, 0) / CAST(t.n_shingles AS DOUBLE) >= {float(threshold)} AS contaminated
FROM doc_tot t LEFT JOIN hits h ON t.id = h.id
"""


# --------------------------------------------------------------------------
# DSIR — Data Selection via Importance Resampling (Xie et al.,
# NeurIPS 2023, arXiv:2302.03169). Select raw documents whose hashed
# n-gram distribution looks like a TARGET domain: fit bag-of-hashed-
# ngram models p (target) and q (raw), weight every raw document by
# log w = sum_grams [log p(bucket) - log q(bucket)], perturb with
# deterministic Gumbel noise, keep the top fraction. The published
# method behind "make the web corpus look like Wikipedia" selection —
# an extension operator (the reference has no selection surface).
#
# 100 TB shape: the feature space is FIXED (n_buckets, paper uses
# 10k), so the two "models" are one bucket-keyed aggregate with
# map-side combine — bounded rows regardless of corpus size — and the
# log-ratio table broadcasts back for per-doc scoring (scan + one
# (id)-keyed sum). Selection reuses top_fraction_by_score's histogram
# plan: no global sort anywhere. Buckets/Gumbel derive from md5 (the
# hash_fraction rationale: every engine speaks it, so the DuckDB twin
# replays the selection bit-for-bit and a downstream system can
# re-derive it without Spark).
# --------------------------------------------------------------------------

_DSIR_QUANT = 1e9  # per-bucket log-ratio quantization (order-free sums)


def _dsir_grams(text_col: str) -> Column:
    """Unigram + bigram feature stream as ONE array column (paper §3:
    hashed unigrams and bigrams): whitespace tokens plus 'u v' joined
    bigrams via the shifted-slice zip — no per-gram element_at."""
    toks = F.split(F.lower(F.col(text_col)), " ")
    n = F.size(toks)
    bi = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(toks, bi)


def dsir_bucket(gram: Column, n_buckets: int, salt: str = "dsir") -> Column:
    """Hashed-feature bucket in [0, n_buckets): first 8 md5 hex digits
    of (gram ':salt') as uint32, mod n_buckets. Engine-portable."""
    h = F.md5(F.concat(gram, F.lit(":" + salt)))
    return F.pmod(
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long"),
        F.lit(int(n_buckets)),
    )


def dsir_logweights(
    docs: DataFrame,
    is_target: Column,
    n_buckets: int = 1024,
    alpha: float = 1.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "dsir",
) -> DataFrame:
    """Importance log-weights for every RAW document (is_target false):
    (id_col, n_grams, logw) where logw = sum over the doc's hashed
    grams of log p_target(bucket) - log q_raw(bucket), both models
    add-alpha smoothed over the fixed bucket space. Per-bucket
    log-ratios are quantized to 1e-9 integers before the per-doc sum
    (exact, order-free — the bigram_lm determinism pattern), so the
    DuckDB twin is value-identical.

    Plan: one gram explode -> bucket-keyed count aggregate carrying
    both corpora (ct/cr split by the flag — ONE pass, bounded rows);
    scalars ride a broadcast cross join; the log-ratio table (<=
    n_buckets rows) broadcasts into the raw-side scoring join. Two
    corpus scans total (model fit + scoring), no corpus-width shuffle:
    the only shuffles are bucket-keyed (bounded) and id-keyed (the
    per-doc sum)."""
    from vector_search_test_spark.io import spread

    t = is_target.cast("boolean").alias("t")
    # spread: the gram explode + bucket hashing is the compute-heavy
    # stage and must not inherit a 1-2-file source's parallelism
    # (no-op at real scale)
    gb = spread(
        docs.select(F.col(id_col).alias("id"), t, F.col(text_col)), "id"
    ).select(
        "id", "t", F.explode(_dsir_grams(text_col)).alias("g")
    ).select(
        "id", "t", dsir_bucket(F.col("g"), n_buckets, salt).alias("bucket")
    )
    # n_buckets rows, materialized once: the (nt, nr) scalar frame
    # broadcast-builds from this aggregate, and without the barrier
    # that build re-ran the corpus n-gram explode + bucket shuffle (r16)
    counts = gb.groupBy("bucket").agg(
        F.sum(F.when(F.col("t"), 1).otherwise(0)).cast("long").alias("ct"),
        F.sum(F.when(~F.col("t"), 1).otherwise(0)).cast("long").alias("cr"),
    ).localCheckpoint()
    nn = counts.agg(
        F.sum("ct").cast("long").alias("nt"),
        F.sum("cr").cast("long").alias("nr"),
    )
    a = float(alpha)
    ab = a * int(n_buckets)
    llr = (
        counts.crossJoin(F.broadcast(nn))
        .select(
            "bucket",
            F.round(
                (
                    F.log((F.col("ct") + F.lit(a)) / (F.col("nt") + F.lit(ab)))
                    - F.log((F.col("cr") + F.lit(a)) / (F.col("nr") + F.lit(ab)))
                )
                * F.lit(_DSIR_QUANT),
                0,
            )
            .cast("long")
            .alias("qllr"),
        )
    )
    return (
        gb.filter(~F.col("t"))
        .join(F.broadcast(llr), "bucket")
        .groupBy("id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.round(F.sum("qllr") / F.lit(_DSIR_QUANT), 6).alias("logw"),
        )
        .select(F.col("id").alias(id_col), "n_grams", "logw")
    )


def gumbel_noise(key: Column | str, salt: str) -> Column:
    """Deterministic standard Gumbel draw from a key: g = -ln(-ln(u))
    with u = (uint32(md5) + 0.5) / 2^32 — the +0.5 keeps u strictly
    inside (0, 1) so both ln calls are finite. Engine-portable like
    hash_fraction; replayable, partition-invariant, re-run-stable."""
    k = F.col(key) if isinstance(key, str) else key
    h = F.md5(F.concat(k.cast("string"), F.lit(":" + salt)))
    u = (
        F.conv(F.substring(h, 1, 8), 16, 10).cast("double") + F.lit(0.5)
    ) / F.lit(_HASH_DENOM)
    return -F.log(-F.log(u))


def gumbel_noise_sql(key_expr: str, salt: str) -> str:
    """DuckDB twin of `gumbel_noise` (same digest, same arithmetic)."""
    u = (
        f"(CAST(('0x' || substring(md5(CAST({key_expr} AS VARCHAR) "
        f"|| ':{salt}'), 1, 8)) AS UBIGINT) + 0.5) / {_HASH_DENOM}"
    )
    return f"(-ln(-ln({u})))"


def dsir_select(
    docs: DataFrame,
    is_target: Column,
    frac: float,
    n_buckets: int = 1024,
    alpha: float = 1.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "dsir",
    score_decimals: int = 2,
) -> DataFrame:
    """DSIR selection: keep the top `frac` of RAW documents by
    Gumbel-perturbed importance log-weight (score DESC, id ASC —
    exact top-k semantics a SQL engine replays with one QUALIFY).
    Returns (id_col, n_grams, logw, score) for the kept rows.

    The Gumbel perturbation IS the paper's importance resampling
    (sampling without replacement proportional to w) — here drawn
    deterministically from md5(id) so the selected set is a pure
    function of the corpus, not of an RNG stream or partition layout.
    The score is rounded to `score_decimals` BEFORE selection so
    top_fraction_by_score's histogram plan applies (bounded score
    classes -> no global sort; ties at the boundary broken by id —
    semantics the oracle replays exactly)."""
    lw = dsir_logweights(
        docs, is_target, n_buckets, alpha, id_col, text_col, salt
    )
    scored = lw.withColumn(
        "score",
        F.round(
            F.col("logw") + gumbel_noise(id_col, salt + "-gumbel"),
            int(score_decimals),
        ),
    )
    # A/B (r17): an eager checkpoint of `scored`, 2.36 -> 3.28 s, reverted.
    return top_fraction_by_score(scored, "score", frac, id_col=id_col)


def dsir_select_sql(
    docs_table: str,
    target_pred: str,
    frac: float,
    n_buckets: int = 1024,
    alpha: float = 1.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "dsir",
    score_decimals: int = 2,
) -> str:
    """DuckDB twin of dsir_select: same grams (string_split + lateral
    bigrams), same md5 buckets, same add-alpha quantized log-ratios,
    same Gumbel, declarative QUALIFY row_number selection in place of
    the histogram plan."""
    a = float(alpha)
    ab = a * int(n_buckets)
    b = int(n_buckets)
    gum = gumbel_noise_sql(id_col, salt + "-gumbel")
    return f"""
WITH tk AS (
  SELECT {id_col}, ({target_pred}) AS t,
         string_split(lower({text_col}), ' ') AS tks
  FROM {docs_table}
),
grams AS (
  SELECT {id_col}, t, unnest(tks) AS g FROM tk
  UNION ALL
  SELECT {id_col}, t, tks[i] || ' ' || tks[i + 1] AS g
  FROM tk, unnest(range(1, len(tks))) AS r(i)
),
gb AS (
  SELECT {id_col}, t,
         CAST(CAST(('0x' || substring(md5(g || ':{salt}'), 1, 8))
              AS UBIGINT) % {b} AS BIGINT) AS bucket
  FROM grams
),
counts AS (
  SELECT bucket,
         sum(CASE WHEN t THEN 1 ELSE 0 END)::BIGINT AS ct,
         sum(CASE WHEN NOT t THEN 1 ELSE 0 END)::BIGINT AS cr
  FROM gb GROUP BY bucket
),
nn AS (
  SELECT sum(ct)::BIGINT AS nt, sum(cr)::BIGINT AS nr FROM counts
),
llr AS (
  SELECT bucket,
         round((ln((ct + CAST({a!r} AS DOUBLE)) / (nt + CAST({ab!r} AS DOUBLE)))
              - ln((cr + CAST({a!r} AS DOUBLE)) / (nr + CAST({ab!r} AS DOUBLE))))
               * {_DSIR_QUANT})::BIGINT AS qllr
  FROM counts CROSS JOIN nn
),
dw AS (
  SELECT gb.{id_col},
         count(*)::BIGINT AS n_grams,
         round(sum(l.qllr) / {_DSIR_QUANT}, 6) AS logw
  FROM gb JOIN llr l USING (bucket)
  WHERE NOT gb.t
  GROUP BY gb.{id_col}
),
scored AS (
  SELECT {id_col}, n_grams, logw,
         round(logw + {gum}, {int(score_decimals)}) AS score
  FROM dw
)
SELECT {id_col}, n_grams, logw, score FROM scored
QUALIFY row_number() OVER (ORDER BY score DESC, {id_col})
    <= (SELECT floor({float(frac)!r} * count(*)) FROM scored)
"""


# --------------------------------------------------------------------------
# Bloom-filter contamination prefilter — the shape exact decontamination
# takes when the reference set itself is too large to broadcast exactly.
#
# `contamination_report` above broadcasts the benchmark's DISTINCT shingle
# set — right when the benchmark is MBs. When the reference side is a
# blocklist of billions of shingles (held-out eval suites aggregated
# across releases, copyright blocklists, the previous crawl's corpus), the
# exact set no longer fits an executor broadcast. The production answer is
# a Bloom filter: a fixed m-bit bitmap with k probe hashes, built once
# over the reference side and broadcast to every task as plain bytes. A
# corpus shingle that misses ANY probe bit is provably absent (no false
# negatives), so the exact verification join only has to touch the sliver
# of shingles the bitmap lets through; the false-positive rate is
# (1 - e^{-kn/m})^k, tunable by sizing m. Spark itself uses the identical
# trick for runtime join pruning (spark.sql.optimizer.runtime.bloomFilter)
# — here it is surfaced as an operator with the FPR measured per document
# (n_pass - n_hits), because at 100 TB you want the filter's health
# observable, not assumed.
#
# Probe hashes reuse the affine family over the portable 48-bit base hash
# (functions/hashing.py::minhash_member) at member indices
# BLOOM_MEMBER_BASE+j, far above the MinHash signature range (0..H-1), so
# bloom probes and MinHash signatures stay uncorrelated. Both engines
# derive positions from the same arithmetic, so the DuckDB oracle replays
# the bitmap decision bit-for-bit via set membership of the same
# positions (a bitmap test IS set membership of its set bits).
# --------------------------------------------------------------------------

BLOOM_MEMBER_BASE = 1009  # prime offset, outside every signature family in use


def _bloom_pos_sql(hexpr: str, j: int, m_bits: int) -> str:
    """Position of probe j in the m-bit bitmap, as engine-portable SQL
    (valid in both Spark SQL and DuckDB): affine member over the 48-bit
    base hash, reduced mod m."""
    from vector_search_test_spark.functions.hashing import minhash_member_sql

    return f"({minhash_member_sql(hexpr, BLOOM_MEMBER_BASE + j)} % {int(m_bits)})"


def bloom_reference_hashes(
    bench: DataFrame, n: int = 3, text_col: str = "text"
) -> DataFrame:
    """The reference side reduced once to its distinct 48-bit shingle
    hashes — the single projection BOTH the bitmap build and the exact
    verification derive from (hashing the reference twice is a second
    full scan + md5 pass at blocklist scale)."""
    from vector_search_test_spark.functions.hashing import portable_hash48

    return (
        bench.select(F.explode(shingles(text_col, n)).alias("s"))
        .distinct()
        .select(portable_hash48(F.col("s")).alias("h"))
        .distinct()
    )


def bloom_build(
    bench: DataFrame,
    n: int = 3,
    m_bits: int = 16384,
    k: int = 3,
    text_col: str = "text",
    prehashed: DataFrame | None = None,
) -> list[int]:
    """Build the reference-side Bloom bitmap: distinct shingles → 48-bit
    fingerprints → k probe positions each → set bits. Returns the bitmap
    as ceil(m/64) SIGNED 64-bit words (Java long semantics, so the same
    list can feed a literal array column or be written as an
    array<bigint> artifact).

    The collect is bounded by m_bits/64 + (distinct positions ≤ m_bits)
    — it IS the broadcast artifact, never corpus-sized: on a cluster the
    reference side is aggregated distributed-side and only the fixed-size
    position set ever reaches the driver."""
    if m_bits <= 0 or m_bits % 64:
        raise ValueError("m_bits must be a positive multiple of 64")
    if k <= 0:
        raise ValueError("k must be >= 1")
    sh = (
        prehashed
        if prehashed is not None
        else bloom_reference_hashes(bench, n=n, text_col=text_col)
    )
    pos_cols = [
        F.expr(_bloom_pos_sql("h", j, m_bits)).alias(f"p{j}") for j in range(k)
    ]
    rows = (
        sh.select(F.explode(F.array(*pos_cols)).alias("pos")).distinct().collect()
    )
    words = [0] * (m_bits // 64)
    for r in rows:
        p = int(r["pos"])
        words[p >> 6] |= 1 << (p & 63)
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


def bloom_pass_expr(h_name: str, words: list[int], m_bits: int, k: int) -> Column:
    """Boolean column: does the 48-bit hash column `h_name` pass every
    probe of the bitmap? Rendered as ONE SQL expression (a single parse —
    the plan-construction lesson from functions/vector.py): the bitmap is
    one array<bigint> literal, each probe extracts its bit with
    element_at + shiftright. Arithmetic right shift preserves low bits of
    negative words, so bit 63 tests correctly (pinned in tests)."""
    arr = "array(" + ",".join(f"{int(w)}L" for w in words) + ")"
    tests = []
    for j in range(k):
        pos = _bloom_pos_sql(h_name, j, m_bits)
        tests.append(
            f"((shiftright(element_at({arr}, CAST({pos} DIV 64 AS INT) + 1), "
            f"CAST({pos} % 64 AS INT))) & 1L) = 1L"
        )
    return F.expr("(" + " AND ".join(tests) + ")")


def bloom_contamination_report(
    docs: DataFrame,
    bench: DataFrame,
    n: int = 3,
    m_bits: int = 16384,
    k: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination through a Bloom prefilter: per document,
    (id, n_shingles, n_pass, n_hits, n_false_pos, overlap, contaminated)
    where n_pass counts shingles the bitmap lets through, n_hits the
    exactly-verified matches among them, and n_false_pos = n_pass -
    n_hits the measured filter noise. overlap/contaminated match
    `contamination_report` exactly (no false negatives: a true match
    passes every probe by construction), so this is a drop-in
    replacement whose extra columns expose the prefilter's health.

    Plan shape at 100 TB: the corpus scan computes hash + k probe tests
    JVM-side (whole-stage codegen, zero joins); ONLY the passing sliver
    flows into the exact-verification broadcast join; per-doc totals come
    from one map-side-combined aggregate over the scan and one over the
    sliver, joined on id (narrow rows). The full-width corpus is never
    shuffled."""
    from vector_search_test_spark.functions.hashing import portable_hash48
    from vector_search_test_spark.io import spread

    # ONE reference-side projection feeds both the bitmap and the exact
    # verify set; checkpointed because two consumers read it and the
    # bitmap build collects it eagerly
    bench_h = bloom_reference_hashes(
        bench, n=n, text_col=bench_text_col
    ).localCheckpoint()
    words = bloom_build(bench, n=n, m_bits=m_bits, k=k, prehashed=bench_h)
    # spread first: shingle hashing is the compute-heavy stage and must
    # not inherit a 1-file source's single task (no-op at real scale)
    doc_sh = spread(docs.select(F.col(id_col).alias("id"), text_col), "id").select(
        "id", F.explode(shingles(text_col, n)).alias("s")
    ).select("id", portable_hash48(F.col("s")).alias("h"))
    flagged = doc_sh.withColumn(
        "p", bloom_pass_expr("h", words, m_bits, k)
    )
    totals = flagged.groupBy("id").agg(
        F.count("*").alias("n_shingles"),
        F.sum(F.col("p").cast("long")).alias("n_pass"),
    )
    # NO broadcast hint: the operator exists for reference sets too big
    # to broadcast exactly — let the planner broadcast small sets and
    # shuffle-join the prefiltered sliver against big ones (the sliver,
    # not the corpus, is what pays that shuffle)
    hits = (
        flagged.filter("p")
        .join(bench_h, "h", "left_semi")
        .groupBy("id")
        .agg(F.count("*").alias("n_hits"))
    )
    joined = totals.join(hits, "id", "left").withColumn(
        "n_hits", F.coalesce(F.col("n_hits"), F.lit(0))
    )
    overlap = F.col("n_hits") / F.col("n_shingles")
    return (
        joined.withColumn("n_false_pos", F.col("n_pass") - F.col("n_hits"))
        .withColumn("overlap", F.round(overlap, 6))
        .withColumn("contaminated", overlap >= F.lit(float(threshold)))
        .select(
            "id",
            "n_shingles",
            "n_pass",
            "n_hits",
            "n_false_pos",
            "overlap",
            "contaminated",
        )
    )


def bloom_contamination_report_sql(
    n: int = 3,
    m_bits: int = 16384,
    k: int = 3,
    threshold: float = 0.5,
    docs_table: str = "documents",
    bench_sql: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of `bloom_contamination_report`: identical shingles,
    identical 48-bit hashes, identical affine probe positions; the bitmap
    test is replayed as membership of each probe position in the distinct
    set-bit position set (exactly what the bitmap stores)."""
    from vector_search_test_spark.functions.hashing import hash48_sql

    bench_sql = bench_sql or f"SELECT {text_col} AS text FROM {docs_table} LIMIT 0"
    pos_list = ", ".join(_bloom_pos_sql("h", j, m_bits) for j in range(k))
    pass_pred = " AND ".join(
        f"{_bloom_pos_sql('h', j, m_bits)} IN (SELECT pos FROM bits)"
        for j in range(k)
    )
    return f"""
WITH bench_h AS (
  SELECT DISTINCT {hash48_sql('s')} AS h FROM (
    SELECT DISTINCT UNNEST({shingles_sql('text', n)}) AS s FROM ({bench_sql})
  )
),
bits AS (
  SELECT DISTINCT UNNEST([{pos_list}]) AS pos FROM bench_h
),
dh AS (
  SELECT id, {hash48_sql('s')} AS h FROM (
    SELECT {id_col} AS id, UNNEST({shingles_sql(text_col, n)}) AS s
    FROM {docs_table}
  )
),
dp AS (
  SELECT id, h, ({pass_pred}) AS p FROM dh
),
tot AS (
  SELECT id, count(*)::BIGINT AS n_shingles,
         sum(CASE WHEN p THEN 1 ELSE 0 END)::BIGINT AS n_pass
  FROM dp GROUP BY id
),
hits AS (
  SELECT id, count(*)::BIGINT AS n_hits
  FROM dp WHERE p AND h IN (SELECT h FROM bench_h)
  GROUP BY id
)
SELECT t.id,
       t.n_shingles,
       t.n_pass,
       COALESCE(x.n_hits, 0) AS n_hits,
       t.n_pass - COALESCE(x.n_hits, 0) AS n_false_pos,
       ROUND(COALESCE(x.n_hits, 0) / CAST(t.n_shingles AS DOUBLE), 6) AS overlap,
       COALESCE(x.n_hits, 0) / CAST(t.n_shingles AS DOUBLE) >= {float(threshold)}
         AS contaminated
FROM tot t LEFT JOIN hits x ON t.id = x.id
"""


# --------------------------------------------------------------------------
# Leakage-safe dataset splitting — split by near-duplicate GROUP, not by
# document. `hash_split` above is id-keyed: two near-identical documents
# can land in train and test, and the test metric silently measures
# memorization (the published failure mode behind benchmark leakage;
# Lee et al. 2022's dedup study measures exactly this effect). The fix
# every careful pipeline applies: collapse near-duplicates into groups
# first (MinHash-LSH pairs -> connected components, the dedup family's
# certified machinery), then assign the GROUP's representative to a
# split and inherit the assignment — cross-split near-dup pairs are
# impossible by construction, and the guarantee is auditable (count the
# crossing pairs; pinned at zero in tests).
# --------------------------------------------------------------------------


def leakage_safe_splits(
    docs: DataFrame,
    weights: dict[str, float],
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.9,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "split",
    prebuilt=None,
) -> DataFrame:
    """Assign every document to a named split such that near-duplicates
    (exact-Jaccard >= threshold over the banded candidate graph,
    transitively closed) always share a split. Returns one row per
    document: (id, rep_id, split) — rep_id is the near-dup group
    representative (min id; singletons represent themselves) and split
    is `hash_split`'s md5-range assignment keyed on rep_id.

    Scale shape: inherits the dedup family's plan (banded equi-join
    pairs, edge-list-only connected components — see
    dedup.py::neardup_dedup_decisions, including the persistent
    `prebuilt` signature-asset seam); the split itself is one scan-only
    projection over the (id, rep_id) map. Id-stable: adding documents
    can merge groups (and re-key a group's rep), but an unchanged
    group's assignment never moves."""
    from vector_search_test_spark.operators.dedup import (
        neardup_dedup_decisions,
    )

    comp = neardup_dedup_decisions(
        docs,
        id_col=id_col,
        text_col=text_col,
        n=n,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
        prebuilt=prebuilt,
    ).select("id", "rep_id")
    return hash_split(comp, weights, id_col="rep_id", salt=salt)


def split_leakage_count(assign: DataFrame, pairs: DataFrame) -> int:
    """Audit: the number of near-dup pairs whose endpoints landed in
    different splits (0 for `leakage_safe_splits` by construction; > 0
    is the id-keyed `hash_split` failure mode this operator exists to
    prevent). `assign` carries (id, split); `pairs` carries (a, b)."""
    sa = assign.select(F.col("id").alias("a"), F.col("split").alias("split_a"))
    sb = assign.select(F.col("id").alias("b"), F.col("split").alias("split_b"))
    return (
        pairs.join(sa, "a")
        .join(sb, "b")
        .filter(F.col("split_a") != F.col("split_b"))
        .count()
    )


# --------------------------------------------------------------------------
# Training-shard export — the deterministic global shuffle.
#
# Training runs want the corpus in RANDOM order, split into N
# equal-weight shards that loaders can stream independently. The naive
# plan — ORDER BY rand() then chop — is a full global sort of the
# corpus, the single most expensive thing you can ask a 100 TB job to
# do, and rand() makes it unreproducible. The scan-only equivalent: key
# every row by a seeded md5 hash of its id; shard = h mod N (balanced in
# expectation, no sort), within-shard order = h ascending (hash order IS
# the permutation). One hash-partitioned shuffle + a per-partition sort
# — exactly the physical work `repartition(N).sortWithinPartitions`
# ships — replaces the global sort, and the same (seed, id) always
# lands in the same shard position on any cluster, so re-runs and
# loader-side resumption are reproducible by construction.
# --------------------------------------------------------------------------

_SHARD_FP_P = 2147483647  # Mersenne 2^31-1: keeps rank*(h%1e6) sums exact


def shard_assignment(
    df: DataFrame, n_shards: int, seed: str = "shard", id_col: str = "doc_id"
) -> DataFrame:
    """Add (h, shard): the seeded 48-bit permutation key and its shard.
    Scan-only projection — the shuffle happens only when a consumer
    repartitions by `shard` (the write path), never here."""
    if n_shards <= 0:
        raise ValueError("n_shards must be >= 1")
    from vector_search_test_spark.functions.hashing import portable_hash48

    h = portable_hash48(
        F.concat(F.lit(seed + ":"), F.col(id_col).cast("string"))
    )
    return df.withColumn("h", h).withColumn(
        "shard", (F.col("h") % F.lit(int(n_shards))).cast("int")
    )


def training_shards(
    df: DataFrame,
    n_shards: int,
    seed: str = "shard",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-shard audit of the deterministic shuffle: (shard, n_docs,
    sum_tokens, min_h, max_h, order_fp). `order_fp` is order-PROVING:
    (sum over the shard of rank * (h mod 1e6) mod P) mod P with rank =
    row_number by (h, id) — any transposition, drop, or duplicate in
    the shard's stream changes it, so the certified value pins the
    exact permutation each loader will see, not just shard membership.
    The OUTER mod P matters at scale (r13 ADVICE): per-term reduction
    alone leaves an int64 running sum that overflows around 2^32 rows
    per shard, where Spark (non-ANSI) would wrap silently while
    DuckDB's HUGEINT-promoting sum() would raise on the BIGINT cast —
    the engines would diverge exactly at 100 TB. The sum is therefore
    carried exactly on both engines (DECIMAL(38,0) on Spark, HUGEINT
    on DuckDB) and reduced mod P once at the end, so the fingerprint
    is bounded and engine-identical at any shard size.

    Plan: one scan + ONE hash shuffle on shard + per-shard sort (the
    row_number window, partitioned by shard — physically identical to
    what writing the shards costs) + map-side-combined aggregate. No
    global sort anywhere. Balance is auditable from the output
    (min/max n_docs, sum_tokens across shards)."""
    from pyspark.sql import Window

    from vector_search_test_spark.operators.dedup import tokens

    keyed = shard_assignment(df, n_shards, seed=seed, id_col=id_col).select(
        F.col(id_col).alias("id"),
        "h",
        "shard",
        F.size(tokens(text_col)).alias("n_tokens"),
    )
    w = Window.partitionBy("shard").orderBy("h", "id")
    ranked = keyed.withColumn("rank", F.row_number().over(w))
    term = (F.col("rank") * (F.col("h") % F.lit(1000003))) % F.lit(_SHARD_FP_P)
    return (
        ranked.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.min("h").alias("min_h"),
            F.max("h").alias("max_h"),
            (F.sum(term.cast("decimal(38,0)")) % F.lit(_SHARD_FP_P))
            .cast("long")
            .alias("order_fp"),
        )
    )


def training_shards_sql(
    n_shards: int,
    seed: str = "shard",
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
) -> str:
    """DuckDB twin of `training_shards` (same hash, same rank, same
    fingerprint arithmetic)."""
    from vector_search_test_spark.functions.hashing import hash48_sql

    h = hash48_sql(f"('{seed}:' || CAST({id_col} AS VARCHAR))")
    return f"""
WITH keyed AS (
  SELECT {id_col} AS id, {h} AS h,
         CAST({h} % {int(n_shards)} AS INT) AS shard,
         len(string_split(lower({text_col}), ' '))::BIGINT AS n_tokens
  FROM {table}
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY shard ORDER BY h, id) AS rank
  FROM keyed
)
SELECT shard,
       count(*)::BIGINT AS n_docs,
       sum(n_tokens)::BIGINT AS sum_tokens,
       min(h) AS min_h,
       max(h) AS max_h,
       (sum((rank * (h % 1000003)) % {_SHARD_FP_P}) % {_SHARD_FP_P})::BIGINT AS order_fp
FROM ranked GROUP BY shard
"""


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    seed: str = "shard",
    id_col: str = "doc_id",
) -> None:
    """Materialize the shards: hash-partition by shard, sort each
    partition by the permutation key, write parquet partitioned by
    shard directory. Row order inside each shard's files IS the
    permutation `training_shards` fingerprints (parquet preserves write
    order; pinned by the round-trip test)."""
    keyed = shard_assignment(df, n_shards, seed=seed, id_col=id_col)
    (
        keyed.repartition(int(n_shards), "shard")
        # shard FIRST: the dynamic-partition writer requires its output
        # sorted by the partition column and would otherwise insert its
        # own (unstable) sort, destroying the h order inside each shard;
        # leading with shard makes our sort satisfy that requirement, so
        # the writer re-sorts nothing
        .sortWithinPartitions("shard", "h", id_col)
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )


def token_budget_plan(
    docs: DataFrame,
    budget_tokens: int,
    alpha: float = 0.3,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """The mixture PLANNING table: given a total training token budget
    and a sampling temperature, how many tokens to draw from each
    source and what that implies — natural share, α-tempered target
    share, target token count, epochs over the source (>1 = the data
    must repeat, the number every data-constrained scaling discussion
    revolves around), and the clamped single-pass sample rate.
    `temperature_mixture` / `epoch_upsample` EXECUTE a plan row-wise;
    this operator is the plan itself — the table a run review reads
    before anyone pays for the shuffle.

    Arithmetic follows the temperature_mixture conventions so both
    engines agree exactly: α-powers are quantized to integers
    immediately (round(pow(n_tokens, α) * 1e9) as DECIMAL(38,0)), the
    normalizer is an integer sum, shares divide the quantized integers
    in double, and target_tokens = round(budget * qp / qz) — one
    rounding per output value, 6dp on the ratio columns.

    Output: (source, n_docs, n_tokens, nat_share, target_share,
    target_tokens, epochs, sample_rate), one row per source. Plan
    shape: ONE corpus scan with a map-side-combined (source) aggregate
    (token counting is scan-side `size(split(...))`), a one-row total
    broadcast back, and per-row arithmetic on a |sources|-row table —
    the corpus never shuffles."""
    from .dedup import tokens

    per = docs.groupBy(F.col(source_col).alias("source")).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(tokens(text_col))).cast("long").alias("n_tokens"),
    )
    per = per.withColumn(
        "__qp",
        F.round(
            F.pow(F.col("n_tokens").cast("double"), F.lit(float(alpha)))
            * F.lit(_TEMP_QUANT)
        ).cast("decimal(38,0)"),
    )
    tot = per.agg(
        F.sum("__qp").alias("__qz"),
        F.sum("n_tokens").cast("long").alias("__total"),
    )
    share = F.col("__qp").cast("double") / F.col("__qz").cast("double")
    target_tokens = F.round(F.lit(float(int(budget_tokens))) * share).cast(
        "long"
    )
    epochs = F.round(
        F.col("target_tokens") / F.col("n_tokens"), 6
    )
    return (
        per.join(F.broadcast(tot))
        .withColumn("target_tokens", target_tokens)
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(
                F.col("n_tokens") / F.col("__total"), 6
            ).alias("nat_share"),
            F.round(share, 6).alias("target_share"),
            "target_tokens",
            epochs.alias("epochs"),
            F.least(F.lit(1.0), epochs).alias("sample_rate"),
        )
    )


def token_budget_plan_sql(
    budget_tokens: int,
    alpha: float = 0.3,
    source_col: str = "source",
    text_col: str = "text",
    table: str = "documents",
) -> str:
    """DuckDB twin of `token_budget_plan` — same quantized powers,
    integer normalizer, double divisions, and roundings."""
    a = float(alpha)
    return f"""
WITH per AS (
  SELECT {source_col} AS source, count(*)::BIGINT AS n_docs,
         sum(len(string_split(lower({text_col}), ' ')))::BIGINT AS n_tokens
  FROM {table} GROUP BY {source_col}
),
q AS (
  SELECT *, CAST(round(pow(CAST(n_tokens AS DOUBLE), {a!r})
                       * {_TEMP_QUANT}) AS DECIMAL(38,0)) AS qp
  FROM per
),
t AS (
  SELECT sum(qp) AS qz, sum(n_tokens)::BIGINT AS total FROM q
),
x AS (
  SELECT q.source, q.n_docs, q.n_tokens,
         round(q.n_tokens / CAST(t.total AS DOUBLE), 6) AS nat_share,
         round(CAST(qp AS DOUBLE) / CAST(qz AS DOUBLE), 6) AS target_share,
         round({float(int(budget_tokens))!r}
               * CAST(qp AS DOUBLE) / CAST(qz AS DOUBLE))::BIGINT
             AS target_tokens
  FROM q CROSS JOIN t
)
SELECT source, n_docs, n_tokens, nat_share, target_share, target_tokens,
       round(target_tokens / CAST(n_tokens AS DOUBLE), 6) AS epochs,
       least(1.0, round(target_tokens / CAST(n_tokens AS DOUBLE), 6))
           AS sample_rate
FROM x
"""


def quality_signal_agreement(
    docs: DataFrame,
    p: float = 0.2,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Do the quality signals AGREE? Per-source rank agreement between
    the rule-based heuristic (`quality_score`) and the corpus-trained
    unigram-LM signal (`avg_logprob`) — the audit a pipeline owner
    runs before trusting one cheap filter as a proxy for another, and
    the first diagnostic when a new source's retention looks wrong
    (low agreement on a source = the filters are measuring different
    things THERE, so a single-signal gate is unsafe for it).

    Per source: `spearman_rho` — Spearman rank correlation between the
    two rankings (ranks by the 6dp-ROUNDED signals, ties broken by id
    so both engines rank identically; rho = 1 - 6*Σd²/(n(n²-1)), Σd²
    an exact integer sum; NULL for single-doc sources) — and
    `topp_overlap`: |top-p by signal 1 ∩ top-p by signal 2| / floor(p·n)
    (the fraction of the kept set that survives regardless of which
    filter you pick; NULL when floor(p·n)=0). Docs the LM cannot score
    (no tokens) are excluded from both rankings.

    Plan: the LM side is unigram_lm_scores' one tf shuffle + broadcast
    vocab; the heuristic is scan-side; then two within-source
    row_number windows and ONE map-side-combined aggregate per source.
    Nothing all-pairs, nothing wide."""
    from pyspark.sql import Window

    from ..functions.textstats import quality_score, unigram_lm_scores

    q = docs.select(
        F.col(id_col).alias("id"),
        F.col(source_col).alias("source"),
        F.round(quality_score(text_col), 6).alias("s1"),
    )
    lm = unigram_lm_scores(docs, id_col=id_col, text_col=text_col).select(
        F.col(id_col).alias("id"), F.col("avg_logprob").alias("s2")
    )
    j = q.join(lm, "id")
    w1 = Window.partitionBy("source").orderBy(F.desc("s1"), F.asc("id"))
    w2 = Window.partitionBy("source").orderBy(F.desc("s2"), F.asc("id"))
    r = (
        j.withColumn("r1", F.row_number().over(w1))
        .withColumn("r2", F.row_number().over(w2))
        .withColumn(
            "n", F.count("*").over(Window.partitionBy("source"))
        )
    )
    cutoff = F.floor(F.lit(float(p)) * F.col("n"))
    # widen BEFORE squaring (ADVICE r14, same class as the
    # training_shards order_fp fix): row_number() is int32, so an
    # un-widened d*d wraps silently in non-ANSI Spark once |d|
    # exceeds 46340 — i.e. any source past ~46k docs
    d = (F.col("r1") - F.col("r2")).cast("long")
    g = r.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(d * d).cast("long").alias("__sum_d2"),
        F.sum(
            ((F.col("r1") <= cutoff) & (F.col("r2") <= cutoff)).cast("int")
        )
        .cast("long")
        .alias("__n_both"),
        F.max(cutoff).cast("long").alias("__cutoff"),
    )
    # denominator in DOUBLE from the start: n*(n²-1) overflows int64
    # past ~2.1M docs per source; double math is order-matched with
    # the DuckDB twin (same multiply/subtract sequence) so rho stays
    # bit-identical at any n
    n = F.col("n_docs").cast("double")
    denom = n * (n * n - F.lit(1.0))
    return g.select(
        "source",
        "n_docs",
        F.round(
            F.lit(1.0)
            - F.lit(6.0) * F.col("__sum_d2") / F.nullif(denom, F.lit(0.0)),
            6,
        ).alias("spearman_rho"),
        F.round(
            F.col("__n_both")
            / F.nullif(F.col("__cutoff").cast("double"), F.lit(0.0)),
            6,
        ).alias("topp_overlap"),
    )


def excess_loss_mixture(
    docs: DataFrame,
    eta: float = 1.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """DoReMi-style one-step domain reweighting (Xie et al. 2023,
    "DoReMi: Optimizing Data Mixtures Speeds Up Language Model
    Pretraining"): upweight domains by EXCESS LOSS — how much a
    stronger proxy model improves over a weaker reference on that
    domain, i.e. how much learnable structure the domain still holds.
    DoReMi runs this as an iterated Group-DRO loop between two trained
    transformers; this operator executes one exponentiated-gradient
    step of the same update with the repo's in-engine LM ladder as the
    (reference, proxy) pair: the add-one unigram LM (reference) and
    the Jelinek-Mercer bigram LM (proxy) — the difference in per-token
    cross-entropy is exactly "what word-transition structure exists
    here that frequency statistics cannot explain".

    Per source: token-weighted mean cross-entropies of both models
    (aggregated from the per-doc scores' 6dp-rounded values via exact
    1e6-quantized integer sums, so grouping is order-free),
    excess = max(xent_unigram - xent_bigram, 0) (clipped like
    DoReMi's), and

        weight_i = nat_share_i * exp(eta * excess_i) / Z

    with Z the sum of the numerators — the exponentiated-gradient
    reweighting of the natural token shares. The numerators quantize
    to 1e12 integers BEFORE the normalizing sum (the mixture-family
    rule: cross-group sums are integer sums), so the DuckDB twin is
    value-identical at any source order.

    Output: (source, n_tokens, nat_share, xent_unigram, xent_bigram,
    excess, weight), ratios rounded 6dp. Sources the bigram model
    cannot score (every doc < 2 tokens) take excess = 0 (no evidence
    of learnable structure, weight falls back to the natural share).

    Plan: both LM scorings are the certified operators' plans (one
    tf shuffle + broadcast vocab; one bigram shuffle + broadcast
    model); this adds two narrow per-source aggregates and a 1-row
    broadcast of the normalizer. Output rows = sources."""
    from ..functions.textstats import bigram_lm_scores, unigram_lm_scores

    eta = float(eta)
    src = docs.select(
        F.col(id_col).alias("id"), F.col(source_col).alias("source")
    )
    uni = unigram_lm_scores(docs, id_col=id_col, text_col=text_col).select(
        F.col(id_col).alias("id"),
        "n_tokens",
        F.round(F.col("avg_logprob") * 1e6, 0)
        .cast("long")
        .alias("__q_u"),
    )
    bi = bigram_lm_scores(docs, id_col=id_col, text_col=text_col).select(
        F.col(id_col).alias("id"),
        "n_bigrams",
        F.round(F.col("avg_logprob") * 1e6, 0)
        .cast("long")
        .alias("__q_b"),
    )
    per = (
        src.join(uni, "id")
        .join(bi, "id", "left")
        .groupBy("source")
        .agg(
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            # token-weighted quantized sums accumulate in DECIMAL(38,0)
            # (the embedding_dim_profile pattern): a BIGINT sum of
            # q_u * n_tokens silently wraps in non-ANSI Spark at very
            # large per-source token counts while the DuckDB twin
            # errors (ADVICE r15)
            F.sum(
                F.col("__q_u").cast("decimal(38,0)") * F.col("n_tokens")
            )
            .cast("decimal(38,0)")
            .alias("__su"),
            F.sum(
                F.col("__q_b").cast("decimal(38,0)") * F.col("n_bigrams")
            )
            .cast("decimal(38,0)")
            .alias("__sb"),
            F.sum("n_bigrams").cast("long").alias("__nb"),
        )
    )
    xu = F.round(
        -(F.col("__su").cast("double") / F.lit(1e6))
        / F.col("n_tokens").cast("double"),
        6,
    )
    xb = F.round(
        -(F.col("__sb").cast("double") / F.lit(1e6))
        / F.col("__nb").cast("double"),
        6,
    )
    per = per.select(
        "source",
        "n_tokens",
        xu.alias("xent_unigram"),
        xb.alias("xent_bigram"),
        F.coalesce(
            F.greatest(
                F.round(xu - xb, 6), F.lit(0.0)
            ),
            F.lit(0.0),
        ).alias("excess"),
    # materialized ONCE (rows = sources): the two scalar-frame
    # broadcasts below (__tot, then __z over the __tot-joined frame)
    # each re-execute their build side's whole lineage, and that
    # lineage is BOTH LM trainings + scorings — measured ~4x the
    # pipeline per action without this barrier (r16)
    ).localCheckpoint()
    tot = per.agg(F.sum("n_tokens").cast("long").alias("__tot"))
    per = per.crossJoin(F.broadcast(tot)).withColumn(
        "__num",
        F.round(
            (F.col("n_tokens").cast("double") / F.col("__tot").cast("double"))
            * F.exp(F.lit(eta) * F.col("excess"))
            * F.lit(1e12),
            0,
        ).cast("long"),
    )
    z = per.agg(F.sum("__num").cast("long").alias("__z"))
    return (
        per.crossJoin(F.broadcast(z))
        .select(
            "source",
            "n_tokens",
            F.round(
                F.col("n_tokens").cast("double")
                / F.col("__tot").cast("double"),
                6,
            ).alias("nat_share"),
            "xent_unigram",
            "xent_bigram",
            "excess",
            F.round(
                F.col("__num").cast("double") / F.col("__z").cast("double"),
                6,
            ).alias("weight"),
        )
    )


def curriculum_order(
    docs: DataFrame,
    n_phases: int = 4,
    salt: str = "cur1",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Curriculum-learning training ORDER (Bengio et al. 2009; the
    easy-to-hard data schedule LLM pretraining runs apply on top of
    their mixture weights): difficulty = 1 - quality_score (the
    certified cheap composite, rounded 6dp so boundary comparisons are
    engine-exact), the corpus splits into `n_phases` easy->hard phases
    at EXACT difficulty percentiles, and within a phase the order is a
    deterministic pseudo-shuffle key (md5 over a salted id) — shuffled
    data within phases is what keeps SGD i.i.d.-ish while the phase
    sequence anneals difficulty.

    Output: (doc_id, difficulty, phase, order_key) — phase 0 is the
    easiest. `order_key` IS the schedule: a consumer sorts by
    (phase, order_key) at shard-writing time. Deliberately NOT a dense
    global sequence number: materializing a total order at 100 TB is a
    global sort (the paragraph_dedup window lesson — never put the
    whole corpus through one ordering task when a sort KEY carries the
    same information).

    Scale shape: one scan for the scores, ONE exact-percentile 1-row
    aggregate (Spark `percentile` == DuckDB `quantile_cont`
    bit-identically — the robust_stats precedent) broadcast back, one
    scan-side phase/key projection. No window, no global sort, no
    driver loop. phase = count of boundaries strictly below the
    difficulty, so equal difficulties always share a phase."""
    from ..functions.textstats import quality_score

    if n_phases < 2:
        raise ValueError(f"n_phases must be >= 2, got {n_phases}")
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.round(
            F.lit(1.0) - quality_score(F.col(text_col)), 6
        ).alias("difficulty"),
    )
    bounds = base.agg(
        *[
            F.expr(f"percentile(difficulty, {i / n_phases!r})").alias(
                f"__b{i}"
            )
            for i in range(1, n_phases)
        ]
    )
    phase = None
    for i in range(1, n_phases):
        t = (F.col("difficulty") > F.col(f"__b{i}")).cast("int")
        phase = t if phase is None else phase + t
    return (
        base.crossJoin(F.broadcast(bounds))
        .select(
            "doc_id",
            "difficulty",
            phase.cast("int").alias("phase"),
            F.md5(
                F.concat(
                    F.lit(salt + ":"), F.col("doc_id").cast("string")
                )
            ).alias("order_key"),
        )
    )
