"""Grouped vector statistics for corpus analytics (extension — the
reference has no aggregate view of its vector store; its only corpus
stat is ntotal, app.py:231).

`source_centroids` answers "what does each slice of the corpus look
like in embedding space" — the signal behind topic-drift dashboards,
mixture re-weighting, and per-source quality triage: the mean embedding
per stratum in long form (source, dim, n_vecs, avg_val), plus the mean
L2 norm as a dispersion proxy.

Plan shape (100 TB): posexplode the embedding (a generator — rows
expand dim-fold but stay columnar), then ONE groupBy (source, dim) with
map-side partial aggregation; the output cardinality is
|sources| * dim — thousands of rows regardless of corpus size. No
Python, no second pass.

Precision contract: float sums are order-dependent, and a grouped sum's
order is nondeterministic under parallelism — so the element values are
quantized to integers FIRST (round(val * 1e7): a deterministic double
multiply + half-away-from-zero round in both engines) and the
aggregation sums exact integers, making the result independent of
partitioning, engine, and add order. The averaged output is then a
deterministic function of exact sums."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SCALE = 10_000_000  # 1e7: float32 has ~7 significant decimal digits


def source_centroids(
    docs: DataFrame,
    embeddings: DataFrame,
    strata_col: str = "source",
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-(source, dimension) centroid over the joined corpus:
    (source, dim, n_vecs, avg_val) with avg_val rounded to 6dp. dim is
    0-based. The doc->embedding join is an equi-join on the id (1:1 on
    the fixtures; at scale the narrow (id, source) side is the smaller
    projection and broadcasts when it fits)."""
    joined = docs.select(
        F.col(id_col).alias("__id"), F.col(strata_col).alias("source")
    ).join(
        embeddings.select(
            F.col(vec_id_col).alias("__id"), F.col(vec_col).alias("__vec")
        ),
        "__id",
    )
    exploded = joined.select(
        "source", F.posexplode("__vec").alias("dim", "val")
    )
    q = F.round(F.col("val").cast("double") * _SCALE, 0).cast("long")
    return (
        exploded.withColumn("qval", q)
        .groupBy("source", "dim")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.sum("qval").alias("__s"),
        )
        .select(
            "source",
            F.col("dim").cast("long").alias("dim"),
            "n_vecs",
            F.round(
                F.col("__s") / F.lit(float(_SCALE)) / F.col("n_vecs"), 6
            ).alias("avg_val"),
        )
    )


def embedding_norm_stats(
    embeddings: DataFrame,
    strata_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-QA dashboard per stratum: (label, n_vecs, mean_norm,
    min_norm, max_norm, n_zero) — the ingest sanity check that catches
    un-normalized batches, dead (all-zero) vectors, and norm drift
    between embedding-model versions before they poison an index
    (cosine ranking silently degrades; IVF training skews).

    Per-row norms are deterministic (left-to-right fold, the l2_norm
    contract); the grouped mean quantizes them to 1e-9 integers first
    (exact, order-free — the source_centroids pattern). One narrow
    groupBy on the stratum; scan-only otherwise."""
    from vector_search_test_spark.functions.vector import l2_norm

    norm = l2_norm(vec_col)
    rows = embeddings.select(
        F.col(strata_col).alias("label"),
        norm.alias("__n"),
        F.round(norm * 1e9, 0).cast("decimal(38,0)").alias("__qn"),
    )
    return rows.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.round(
            F.sum("__qn").cast("double") / F.lit(1e9) / F.count("*"), 6
        ).alias("mean_norm"),
        F.round(F.min("__n"), 6).alias("min_norm"),
        F.round(F.max("__n"), 6).alias("max_norm"),
        F.sum(F.when(F.col("__n") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_zero"),
    )


def embedding_norm_stats_sql(
    emb_table: str = "embeddings",
    strata_col: str = "label",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of embedding_norm_stats (same fold, quantization,
    rounding)."""
    norm = (
        f"sqrt(list_sum(list_transform({vec_col}, "
        f"x -> x::DOUBLE * x::DOUBLE)))"
    )
    return f"""
        WITH rows_ AS (
            SELECT {strata_col} AS label, {norm} AS n_,
                   round({norm} * 1e9)::HUGEINT AS qn
            FROM {emb_table}
        )
        SELECT label,
               count(*)::BIGINT AS n_vecs,
               round(sum(qn)::DOUBLE / 1e9 / count(*), 6) AS mean_norm,
               round(min(n_), 6) AS min_norm,
               round(max(n_), 6) AS max_norm,
               sum(CASE WHEN n_ = 0 THEN 1 ELSE 0 END)::BIGINT AS n_zero
        FROM rows_
        GROUP BY label
    """


def source_centroids_sql(
    docs_table: str = "documents",
    emb_table: str = "embeddings",
    strata_col: str = "source",
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of `source_centroids` (same quantization, exact
    integer sums, same rounding). Ordinality comes from UNNEST(range)
    over the list length (1-based, so dim subtracts 1 to match
    posexplode) — the same indexing trick the chunking oracle uses."""
    return f"""
        WITH pairs AS (
            SELECT d.{strata_col} AS source, e.{vec_col} AS emb,
                   UNNEST(range(1, len(e.{vec_col}) + 1)) AS i
            FROM {docs_table} d
            JOIN {emb_table} e ON d.{id_col} = e.{vec_id_col}
        ),
        exploded AS (
            SELECT source, i - 1 AS dim,
                   CAST(round(CAST(emb[i] AS DOUBLE) * {_SCALE}, 0) AS BIGINT) AS qval
            FROM pairs
        )
        SELECT source, CAST(dim AS BIGINT) AS dim,
               count(*) AS n_vecs,
               round(sum(qval) / {float(_SCALE)!r} / count(*), 6) AS avg_val
        FROM exploded
        GROUP BY source, dim
    """


_SQ_SCALE = 1_000_000_000  # 1e9 for squared values (|x| <= ~1 in fixtures)


def embedding_drift_report(
    ref: DataFrame,
    cur: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension distribution drift between two embedding
    SNAPSHOTS — the monitoring gauge run when the embedding model is
    retrained, the ingest pipeline changes, or a new corpus slice
    lands: a silent per-dimension mean/variance shift degrades every
    distance-based consumer (IVF cell balance, cosine ranking,
    semantic dedup) long before anything errors. Output: one row per
    dimension — (dim, n_ref, n_cur, mean_ref, mean_cur, mean_shift,
    std_ref, std_cur) with mean_shift = |mean_cur - mean_ref| on the
    raw means (each output rounded 6dp independently).

    Precision contract (the source_centroids pattern): element values
    quantize to 1e7 integers and their squares to 1e9 integers BEFORE
    summing (DECIMAL(38,0) accumulators, exact at any row count), so
    means and E[x²] — and therefore std = sqrt(max(0, E[x²] - mean²))
    — are deterministic functions of exact integer sums, independent
    of partitioning, add order, and engine.

    Plan: posexplode each snapshot (columnar generator), ONE
    map-side-combined (dim) aggregate per side, then a dim-keyed join
    of two |dim|-row tables. Output cardinality = dim regardless of
    corpus size; nothing wide shuffles."""

    def _agg(df: DataFrame, tag: str) -> DataFrame:
        exploded = df.select(F.posexplode(vec_col).alias("dim", "val"))
        v = F.col("val").cast("double")
        return (
            exploded.select(
                "dim",
                F.round(v * _SCALE, 0).cast("decimal(38,0)").alias("qv"),
                F.round(v * v * _SQ_SCALE, 0)
                .cast("decimal(38,0)")
                .alias("qs"),
            )
            .groupBy("dim")
            .agg(
                F.count("*").cast("long").alias(f"n_{tag}"),
                F.sum("qv").alias(f"__sv_{tag}"),
                F.sum("qs").alias(f"__ss_{tag}"),
            )
        )

    r = _agg(ref, "ref")
    c = _agg(cur, "cur")
    j = r.join(c, "dim")

    def _mean(tag: str):
        return (
            F.col(f"__sv_{tag}").cast("double")
            / F.lit(float(_SCALE))
            / F.col(f"n_{tag}")
        )

    def _std(tag: str):
        ex2 = (
            F.col(f"__ss_{tag}").cast("double")
            / F.lit(float(_SQ_SCALE))
            / F.col(f"n_{tag}")
        )
        m = _mean(tag)
        return F.sqrt(F.greatest(F.lit(0.0), ex2 - m * m))

    return j.select(
        F.col("dim").cast("long").alias("dim"),
        "n_ref",
        "n_cur",
        F.round(_mean("ref"), 6).alias("mean_ref"),
        F.round(_mean("cur"), 6).alias("mean_cur"),
        F.round(F.abs(_mean("cur") - _mean("ref")), 6).alias("mean_shift"),
        F.round(_std("ref"), 6).alias("std_ref"),
        F.round(_std("cur"), 6).alias("std_cur"),
    )


def embedding_drift_report_sql(
    ref_sql: str,
    cur_sql: str,
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of `embedding_drift_report`; `ref_sql`/`cur_sql`
    are subqueries yielding the two snapshots' embedding rows."""

    def agg(src: str, tag: str) -> str:
        return f"""
{tag}_x AS (
  SELECT emb, UNNEST(range(1, len(emb) + 1)) AS i
  FROM (SELECT {vec_col} AS emb FROM ({src}))
),
{tag}_q AS (
  SELECT i - 1 AS dim,
         CAST(round(CAST(emb[i] AS DOUBLE) * {_SCALE}, 0)
              AS DECIMAL(38,0)) AS qv,
         CAST(round(CAST(emb[i] AS DOUBLE) * CAST(emb[i] AS DOUBLE)
                    * {_SQ_SCALE}, 0) AS DECIMAL(38,0)) AS qs
  FROM {tag}_x
),
{tag}_a AS (
  SELECT dim, count(*)::BIGINT AS n_{tag},
         sum(qv) AS sv_{tag}, sum(qs) AS ss_{tag}
  FROM {tag}_q GROUP BY dim
)"""

    def mean(tag: str) -> str:
        return f"(CAST(sv_{tag} AS DOUBLE) / {float(_SCALE)!r} / n_{tag})"

    def std(tag: str) -> str:
        ex2 = f"(CAST(ss_{tag} AS DOUBLE) / {float(_SQ_SCALE)!r} / n_{tag})"
        m = mean(tag)
        return f"sqrt(greatest(0.0, {ex2} - {m} * {m}))"

    return f"""
WITH {agg(ref_sql, 'ref')},
{agg(cur_sql, 'cur')}
SELECT CAST(dim AS BIGINT) AS dim, n_ref, n_cur,
       round({mean('ref')}, 6) AS mean_ref,
       round({mean('cur')}, 6) AS mean_cur,
       round(abs({mean('cur')} - {mean('ref')}), 6) AS mean_shift,
       round({std('ref')}, 6) AS std_ref,
       round({std('cur')}, 6) AS std_cur
FROM ref_a JOIN cur_a USING (dim)
"""


def label_shift_report(
    ref: DataFrame,
    cur: DataFrame,
    label_col: str = "label",
) -> DataFrame:
    """Categorical drift between two snapshots — the label-distribution
    companion of `embedding_drift_report` on the monitoring dashboard
    (embedding drift says the SPACE moved; label shift says the MIX
    moved — a class appearing, vanishing, or changing share between
    ingest batches, model versions, or corpus slices). Output: one row
    per label present on EITHER side — (label, n_ref, n_cur,
    share_ref, share_cur, share_shift, tvd_part) with share_shift =
    |share_cur - share_ref| and tvd_part = share_shift / 2, so
    sum(tvd_part) over the report IS the total-variation distance
    between the two label distributions (the standard drift scalar),
    readable per-label to localize WHICH classes moved. Counts are
    exact integers; shares are single double divisions of exact
    counts, 6dp-rounded per output except tvd_part, which stays
    unrounded: parts rounded up by as much as 5e-7 each can sum past 1
    (ref=[0], cur=[1,2,3] gave 1.000001), and the TVD must stay in
    [0, 1].

    Plan: one map-side-combined count per side, a tiny full-outer
    join on the label, scalar totals broadcast back. Output
    cardinality = |labels|; nothing wide moves."""

    def _cnt(df: DataFrame, tag: str) -> DataFrame:
        return df.groupBy(F.col(label_col).alias("label")).agg(
            F.count("*").cast("long").alias(f"n_{tag}")
        )

    r = _cnt(ref, "ref")
    c = _cnt(cur, "cur")
    j = (
        r.join(c, "label", "full_outer")
        .withColumn("n_ref", F.coalesce("n_ref", F.lit(0)).cast("long"))
        .withColumn("n_cur", F.coalesce("n_cur", F.lit(0)).cast("long"))
    )
    tot = j.agg(
        F.sum("n_ref").cast("long").alias("__tr"),
        F.sum("n_cur").cast("long").alias("__tc"),
    )
    sr = F.col("n_ref") / F.col("__tr")
    sc = F.col("n_cur") / F.col("__tc")
    return j.join(F.broadcast(tot)).select(
        "label",
        "n_ref",
        "n_cur",
        F.round(sr, 6).alias("share_ref"),
        F.round(sc, 6).alias("share_cur"),
        F.round(F.abs(sc - sr), 6).alias("share_shift"),
        (F.abs(sc - sr) / 2).alias("tvd_part"),
    )


def label_shift_report_sql(
    ref_sql: str,
    cur_sql: str,
    label_col: str = "label",
) -> str:
    """DuckDB twin of `label_shift_report`; `ref_sql`/`cur_sql` yield
    the two snapshots' rows."""
    return f"""
WITH r AS (
  SELECT {label_col} AS label, count(*)::BIGINT AS n_ref
  FROM ({ref_sql}) GROUP BY {label_col}
),
c AS (
  SELECT {label_col} AS label, count(*)::BIGINT AS n_cur
  FROM ({cur_sql}) GROUP BY {label_col}
),
j AS (
  SELECT coalesce(r.label, c.label) AS label,
         coalesce(n_ref, 0)::BIGINT AS n_ref,
         coalesce(n_cur, 0)::BIGINT AS n_cur
  FROM r FULL OUTER JOIN c USING (label)
),
t AS (SELECT sum(n_ref)::BIGINT AS tr, sum(n_cur)::BIGINT AS tc FROM j)
SELECT label, n_ref, n_cur,
       round(n_ref / CAST(tr AS DOUBLE), 6) AS share_ref,
       round(n_cur / CAST(tc AS DOUBLE), 6) AS share_cur,
       round(abs(n_cur / CAST(tc AS DOUBLE) - n_ref / CAST(tr AS DOUBLE)),
             6) AS share_shift,
       abs(n_cur / CAST(tc AS DOUBLE) - n_ref / CAST(tr AS DOUBLE))
         / 2 AS tvd_part
FROM j CROSS JOIN t
"""


def embedding_dim_profile(
    df: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Per-dimension (n, mean, std) profile of an embedding snapshot —
    the REFERENCE side of an ingest-time drift gate, computed with
    embedding_drift_report's exact quantization discipline (1e7/1e9
    integer sums in DECIMAL(38,0) accumulators) so the resulting
    doubles are deterministic functions of the data on any engine and
    partitioning. Output: (dim, n, mean, std), UNROUNDED — the gate
    consumes these as full-precision literals."""
    exploded = df.select(F.posexplode(vec_col).alias("dim", "val"))
    v = F.col("val").cast("double")
    q = exploded.select(
        "dim",
        F.round(v * _SCALE, 0).cast("decimal(38,0)").alias("qv"),
        F.round(v * v * _SQ_SCALE, 0).cast("decimal(38,0)").alias("qs"),
    ).groupBy("dim").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("qv").alias("__sv"),
        F.sum("qs").alias("__ss"),
    )
    mean = F.col("__sv").cast("double") / F.lit(float(_SCALE)) / F.col("n")
    ex2 = F.col("__ss").cast("double") / F.lit(float(_SQ_SCALE)) / F.col("n")
    return q.select(
        F.col("dim").cast("long").alias("dim"),
        "n",
        mean.alias("mean"),
        F.sqrt(F.greatest(F.lit(0.0), ex2 - mean * mean)).alias("std"),
    )


def embedding_zscore_gate(
    df: DataFrame,
    means: "list[float]",
    stds: "list[float]",
    theta: float = 3.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """STATELESS out-of-distribution gate against a frozen reference
    profile: each vector's max per-dimension |z| = |(x_i - mean_i) /
    std_i| over the dims with std > 0, rounded 6dp; `drifted` applies
    `theta` to the ROUNDED score (deterministic at the boundary, the
    clip-gate rule). One scan-side projection — no aggregate, no
    state — so the same function gates a batch frame and a streaming
    micro-batch identically (stream_drift_gate wraps it; this is the
    clip_score_pairs stateless-core pattern). The profile rides as
    two broadcast-sized literal arrays; vectors shorter than the
    profile score over their own dims only, and vectors LONGER than
    the profile are sliced to the profile length first — without the
    slice the transform would index the profile arrays out of bounds,
    which returns NULL in non-ANSI Spark but throws
    ARRAY_INDEX_OUT_OF_BOUNDS under ANSI mode (ADVICE r15).

    Output: (id, max_absz, drifted) — max_absz NULL (drifted False)
    when no dimension is checkable (all stds zero)."""
    if len(means) != len(stds):
        raise ValueError("means and stds must have equal length")
    mean_lit = F.array(*[F.lit(float(m)) for m in means])
    std_lit = F.array(*[F.lit(float(s)) for s in stds])
    absz = F.transform(
        F.slice(F.col(vec_col), 1, len(means)),
        lambda x, i: F.when(
            F.element_at(std_lit, i + 1) > F.lit(0.0),
            F.abs(
                (x.cast("double") - F.element_at(mean_lit, i + 1))
                / F.element_at(std_lit, i + 1)
            ),
        ),
    )
    maxz = F.round(
        F.array_max(F.filter(absz, lambda z: z.isNotNull())), 6
    )
    return df.select(
        F.col(id_col).alias("id"),
        maxz.alias("max_absz"),
        F.coalesce(
            maxz >= F.lit(float(theta)), F.lit(False)
        ).alias("drifted"),
    )
