"""Deduplication operators for LLM-data pipelines (driver north star; not
present in the reference, whose only dedup-like behavior is the text-keyed
collapse at app.py:88-89 — see operators/cluster.py::dedupe_by_text).

All hot-path computation is native Catalyst expressions (md5/conv/array
ops inside whole-stage codegen) — no Python UDFs. Every operator has a
value-for-value DuckDB twin built from the same `portable_hash48` family
(functions/hashing.py), which is what makes MinHash signatures and LSH
band keys oracle-checkable bit-for-bit.

Scale design (100 TB):
- exact dedup: one hash-shuffle on the normalized text key, map-side
  partial aggregation; no sort, no window.
- MinHash-LSH near-dedup: candidates come from an equi-join on
  (band_id, band_key) — *bucketed*, never all-pairs. The verify step
  (exact Jaccard) touches only candidate pairs. Signature width H and
  banding (B bands x R rows) tune the precision/recall knee
  (Broder '97; Leskovec et al., "Mining of Massive Datasets" ch.3).
- SimHash: 16-bit fingerprints (Charikar '02); hamming-close pairs via
  bit_count(xor) over candidates.
- embedding near-dup: cosine over ANN candidates from the IVF index
  (operators/ivf.py), not the cross join.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from vector_search_test_spark.functions.hashing import portable_hash48
from vector_search_test_spark.functions.vector import cosine_sim

# ---------------------------------------------------------------------------
# tokenization / shingling (native expressions)
# ---------------------------------------------------------------------------


def tokens(col: Column | str) -> Column:
    """Lowercased whitespace tokens (single-space split — the DuckDB twin
    uses string_split, which is not regex, so the engines agree)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.lower(c), " ")


def grams_of(toks: Column, n: int) -> Column:
    """Every word n-gram of a token-array column, in position order
    (multiplicity kept). Documents shorter than n tokens yield their
    whole text as the single gram (guard: Spark's sequence(1, x) with
    x < 1 would count DOWN; DuckDB's range(1, x) is empty — so short
    docs are handled explicitly to keep the twins identical)."""
    starts = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    grams = F.transform(starts, lambda i: F.array_join(F.slice(toks, i, n), " "))
    whole = F.array(F.array_join(toks, " "))
    return F.when(F.size(toks) >= n, grams).otherwise(whole)


def shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column (see grams_of for
    the short-document guard)."""
    return F.array_distinct(grams_of(tokens(col), n))


def shingles_sql(expr: str, n: int = 3) -> str:
    """DuckDB twin of `shingles` (list slicing is inclusive: [i:i+n-1])."""
    toks = f"string_split(lower({expr}), ' ')"
    return (
        f"list_distinct(CASE WHEN len({toks}) >= {n} THEN "
        f"list_transform(range(1, len({toks}) - {n - 2}), "
        f"i -> array_to_string({toks}[i:i+{n - 1}], ' ')) "
        f"ELSE [array_to_string({toks}, ' ')] END)"
    )


def shingles_all(col: Column | str, n: int = 3) -> Column:
    """Every word n-gram occurrence of a text column (NOT distinct —
    multiplicity kept): the positional gram stream duplicated-span
    analysis needs."""
    return grams_of(tokens(col), n)


def shingles_all_sql(expr: str, n: int = 3) -> str:
    """DuckDB twin of `shingles_all`."""
    toks = f"string_split(lower({expr}), ' ')"
    return (
        f"CASE WHEN len({toks}) >= {n} THEN "
        f"list_transform(range(1, len({toks}) - {n - 2}), "
        f"i -> array_to_string({toks}[i:i+{n - 1}], ' ')) "
        f"ELSE [array_to_string({toks}, ' ')] END"
    )


def fingerprint_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct 48-bit shingle fingerprints of a text column: the word
    n-gram shingles mapped through `portable_hash48`. The exact-Jaccard
    join family computes on this universe — long-array set operations
    are ~an order of magnitude cheaper than string-array ones, and a
    48-bit collision (p ~ |sh|^2/2^48 per pair) merges the same two
    shingles on BOTH engines, so engine and oracle stay value-identical
    by construction. Fingerprinting shingles before set arithmetic is
    standard at-scale practice (e.g. Lee et al. 2022's dedup pipeline
    hashes n-grams the same way)."""
    from vector_search_test_spark.functions.hashing import portable_hash48

    return F.array_distinct(
        F.transform(shingles(col, n), lambda s: portable_hash48(s))
    )


def fingerprint_shingle_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """(id, sh): `fingerprint_shingles` as an Arrow batch kernel with a
    per-TASK distinct-gram hash cache — the corpus-asset builder the
    MinHash/PPJoin family shares (dedup.py's bpe_encode precedent,
    guide §4.2/§4.5). Tokenization (lower + single-space split) stays
    JVM-side so its semantics cannot drift from the expression form;
    the kernel only JOINS the identical token code points into gram
    strings, dedups them in first-occurrence order, and md5-hashes
    each DISTINCT gram once per task (hashlib md5 over the identical
    UTF-8 bytes, first 12 hex chars as int — byte-identical to
    portable_hash48). Low-entropy corpora hit the cache almost always
    (the r16 motivation: the interpreted per-occurrence JVM transform
    was the dominant stage of every MinHash asset build, ~2.5 s at
    sf0.1); the cache is per task, so executor memory stays bounded.
    Output arrays are element- and ORDER-identical to
    `fingerprint_shingles` (both array_distinct passes keep first
    occurrence — pytest-pinned on unicode/astral input), rows with
    empty shingle sets dropped exactly like the expression form's
    size(sh) > 0 filter. Includes the io.spread guard (a 1-file
    source otherwise serializes the kernel)."""
    import hashlib

    import pandas as pd

    from vector_search_test_spark.io import spread

    nn = int(n)
    id_type = df.schema[id_col].dataType.simpleString()

    def _kernel(batches):
        hcache: "dict[str, int]" = {}
        for pdf in batches:
            out = []
            for toks in pdf["__toks"]:
                if toks is None:
                    # expression parity: size(NULL tokens) is NULL, so
                    # grams_of's CASE falls to the ELSE branch and a
                    # NULL text yields the single-element [NULL] set
                    # (array_join(NULL) -> NULL; md5(NULL) -> NULL) —
                    # which size(sh) > 0 KEEPS
                    out.append([None])
                    continue
                toks = list(toks)
                if len(toks) >= nn:
                    grams = [
                        " ".join(toks[i : i + nn])
                        for i in range(len(toks) - nn + 1)
                    ]
                else:
                    grams = [" ".join(toks)]
                seen_g: set = set()
                seen_h: set = set()
                sh: "list[int]" = []
                for g in grams:
                    if g in seen_g:
                        continue
                    seen_g.add(g)
                    h = hcache.get(g)
                    if h is None:
                        h = int(
                            hashlib.md5(g.encode("utf-8")).hexdigest()[:12],
                            16,
                        )
                        hcache[g] = h
                    if h in seen_h:
                        continue
                    seen_h.add(h)
                    sh.append(h)
                out.append(sh)
            yield pd.DataFrame({"id": pdf["id"], "sh": out})

    base = spread(
        df.select(F.col(id_col).alias("id"), F.col(text_col)), "id"
    ).select("id", tokens(text_col).alias("__toks"))
    return base.mapInPandas(
        _kernel, f"id {id_type}, sh array<bigint>"
    ).filter(F.size("sh") > 0)


def fingerprint_shingles_sql(expr: str, n: int = 3) -> str:
    """DuckDB twin of `fingerprint_shingles`."""
    from vector_search_test_spark.functions.hashing import hash48_sql

    return (
        f"list_distinct(list_transform({shingles_sql(expr, n)}, "
        f"s -> {hash48_sql('s')}))"
    )


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def dedup_exact(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact duplicate groups keyed by normalized text.

    Returns (rep_id, n_dupes, text_hash): one row per distinct normalized
    text, representative = min id. One hash-shuffle; partial aggregation
    map-side. Normalization: lower + trim (whitespace-collapse would need
    regexp_replace — kept minimal so the oracle twin is exact).
    """
    norm = F.trim(F.lower(F.col(text_col)))
    # group by the normalized TEXT, not its hash: grouping by a 48-bit
    # hash silently merges distinct documents on collision (expected by
    # ~2^24 docs — certain at corpus scale); the hash is projected only
    # as an output fingerprint
    return (
        df.select(F.col(id_col), norm.alias("__norm"))
        .groupBy("__norm")
        .agg(F.min(id_col).alias("rep_id"), F.count("*").alias("n_dupes"))
        .select(
            "rep_id", "n_dupes", portable_hash48(F.col("__norm")).alias("text_hash")
        )
    )


def paragraph_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """CCNet-style PARAGRAPH-level dedup (Wenzek et al. 2020, CCNet:
    the pipeline dedups at paragraph granularity before any document
    gate — boilerplate headers/footers/navigation duplicate across
    millions of pages whose documents are all distinct, so document-
    level dedup never sees them): split each document on `sep`, key
    every non-blank paragraph by the dedup_exact normalization
    (lower + trim), keep corpus-wide ONE occurrence per normalized
    paragraph — the (min id, min position) occurrence, fully
    deterministic — and reassemble each document from its kept
    paragraphs in original order.

    Output: one row per input document —
    (id, n_pars, n_kept, n_dropped, cleaned_md5) where cleaned_md5
    fingerprints the reassembled text (kept paragraphs joined with
    `sep`; md5 of '' when everything was dropped or the document had
    no non-blank paragraphs), so the oracle certifies the actual
    rewrite, not just counts. `sep` is passed to Spark's split (a
    regex) — keep it a literal like the '\\n' default.

    Scale shape: the explode is scan-side; the keep decision is the
    dedup_exact shape at paragraph granularity — a map-side-combinable
    `groupBy(norm).agg(min(struct(id, pos)))` (grouping by the text
    itself, never a collision-prone hash) joined back to the
    occurrences on norm. NOT a window over the normalized paragraph:
    that key is maximally skewed by construction (boilerplate headers/
    footers duplicate across millions of pages) and a window's
    per-partition sort cannot be split, while the combinable aggregate
    collapses each partition's occurrences before the shuffle and the
    join-back is AQE-skew-splittable (VERDICT r15 #2). The winner is
    the lexicographic min over (id, pos) — identical to the previous
    row_number-over-(id, pos) rule, so results are unchanged.
    Reassembly is one document-keyed shuffle of KEPT paragraph rows
    (the honest minimum for a rewrite — dropped boilerplate never
    reshuffles). Nothing all-pairs."""
    pars = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "p"),
    ).filter(F.trim("p") != "")
    norm = F.trim(F.lower(F.col("p")))
    occ = pars.withColumn("__norm", norm)
    winners = occ.groupBy("__norm").agg(
        F.min(F.struct("id", "pos")).alias("__win")
    )
    marked = occ.join(winners, "__norm").withColumn(
        "__keep", F.struct("id", "pos") == F.col("__win")
    )
    per = marked.groupBy("id").agg(
        F.count("*").cast("long").alias("n_pars"),
        F.sum(F.col("__keep").cast("long")).cast("long").alias("n_kept"),
        F.array_sort(
            F.collect_list(
                F.when(F.col("__keep"), F.struct("pos", "p"))
            )
        ).alias("__kept"),
    )
    cleaned = F.array_join(
        F.transform(F.col("__kept"), lambda x: x["p"]), sep
    )
    per = per.select(
        "id",
        "n_pars",
        "n_kept",
        (F.col("n_pars") - F.col("n_kept")).cast("long").alias("n_dropped"),
        F.md5(cleaned).alias("cleaned_md5"),
    )
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(per, "id", "left")
        .select(
            "id",
            F.coalesce("n_pars", F.lit(0)).cast("long").alias("n_pars"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("n_dropped", F.lit(0))
            .cast("long")
            .alias("n_dropped"),
            F.coalesce("cleaned_md5", F.md5(F.lit(""))).alias(
                "cleaned_md5"
            ),
        )
    )


def dup_ngram_profile(
    df: DataFrame,
    n: int = 5,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document duplicated n-gram mass against the WHOLE corpus —
    the scalable core of exact-substring deduplication (Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better"):
    a document whose n-grams mostly appear in other documents is
    boilerplate / template / near-copy, and the per-doc fraction is the
    ranking signal span-removal and doc-dropping policies both consume.

    Returns (id_col, n_grams, n_dup, dup_frac): total n-gram
    occurrences, occurrences whose gram appears in >= min_docs distinct
    documents, and their ratio (6dp). min_docs=2 means "shared with at
    least one OTHER document" (a doc repeating a gram only internally
    does not count).

    Plan (the 100 TB story): ONE corpus scan -> gram explode -> the
    (doc, gram) count aggregate, localCheckpoint'ed because two
    consumers read it (Spark does not CSE shared subplans): the
    gram-level document-frequency aggregate, and the equi-join that
    brings df_g back to the (doc, gram) rows. The join runs
    shuffle-hash/SMJ on `gram` with AQE skew splitting — deliberately
    NOT a window over gram, whose per-partition materialization cannot
    be split when a boilerplate gram appears in millions of documents.
    Output is one row per document.

    A/B (r17, --only min-of-6): an Arrow kernel for the gram chain and
    (doc, gram) count, 1.65 -> 1.88 s, reverted."""
    from vector_search_test_spark.io import spread

    # spread: the gram explode is the compute-heavy stage and must not
    # inherit a 1-file source's single task (no-op at real scale)
    sh = spread(
        df.select(F.col(id_col).alias("id"), F.col(text_col)), "id"
    ).select(
        "id",
        F.explode(shingles_all(text_col, n)).alias("g"),
    )
    st = sh.groupBy("id", "g").agg(
        F.count("*").alias("cnt")
    ).localCheckpoint()  # two consumers; ContextCleaner-released
    df_g = st.groupBy("g").agg(F.count("*").alias("docs_with"))
    return (
        st.join(df_g, "g")
        .groupBy("id")
        .agg(
            F.sum("cnt").cast("long").alias("n_grams"),
            F.sum(
                F.when(F.col("docs_with") >= min_docs, F.col("cnt")).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("n_dup"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_grams",
            "n_dup",
            F.round(F.col("n_dup") / F.col("n_grams"), 6).alias("dup_frac"),
        )
    )


def strip_dup_ngrams(
    df: DataFrame,
    n: int = 5,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Duplicated-span REMOVAL — the second half of exact-substring
    dedup (Lee et al. 2022): delete every token covered by an n-gram
    that appears in >= min_docs distinct documents, keeping the rest of
    the document. Returns (id_col, clean_text, n_tokens, n_dropped)
    where clean_text is the surviving tokens re-joined with single
    spaces over the NORMALIZED (lowercased, space-split) token stream —
    span removal is a destructive normalization pass by nature, so the
    output is the cleaned training text, not a byte-preserving edit of
    the original.

    Plan: one scan projects the token array (checkpointed — it feeds
    the gram stream AND the final reconstruction); the positional gram
    stream (posexplode) is checkpointed once and feeds (a) the distinct
    (doc, gram) -> gram document-frequency chain and (b) the
    occurrence join that recovers WHERE each shared gram sits; covered
    token positions explode from bounded n-length ranges and aggregate
    to a per-doc sorted set; the rewrite is a JVM higher-order filter
    over (token, index) — no Python anywhere. The shared-gram join is
    an equi-join on gram (AQE-skew-safe), never a window. Per-doc cost
    of the final filter is O(len * |covered|): documents are assumed
    pre-chunked/bounded, the standing contract of every per-doc array
    op in this engine."""
    from vector_search_test_spark.io import spread

    tk = tokens(text_col)
    # spread before the checkpoint: the tokenize + every downstream
    # per-doc array op otherwise runs single-task off a 1-file source
    base = (
        spread(df.select(F.col(id_col), F.col(text_col)), id_col)
        .select(F.col(id_col).alias("id"), tk.alias("tk"))
        .localCheckpoint()
    )
    glen = F.when(F.size("tk") >= n, F.lit(n)).otherwise(F.size("tk"))
    sh = base.select(
        "id",
        glen.alias("glen"),
        # grams straight from the checkpointed token array (same stream
        # as shingles_all, without re-splitting the text)
        F.posexplode(grams_of(F.col("tk"), n)).alias("pos0", "g"),
    ).localCheckpoint()  # feeds document-frequency AND occurrence join
    st = sh.select("id", "g").distinct()
    shared = (
        st.groupBy("g")
        .agg(F.count("*").alias("docs_with"))
        .filter(F.col("docs_with") >= min_docs)
        .select("g")
    )
    cov = (
        sh.join(shared, "g")
        .select(
            "id",
            F.explode(
                F.sequence(F.col("pos0") + 1, F.col("pos0") + F.col("glen"))
            ).alias("cpos"),
        )
        .distinct()
        .groupBy("id")
        .agg(F.sort_array(F.collect_set("cpos")).alias("cov"))
    )
    covered = F.coalesce(F.col("cov"), F.array().cast("array<int>"))
    kept = F.filter(
        F.col("tk"),
        lambda x, i: ~F.array_contains(covered, (i + 1).cast("int")),
    )
    return (
        base.join(cov, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.array_join(kept, " ").alias("clean_text"),
            F.size("tk").cast("long").alias("n_tokens"),
            (F.size("tk") - F.size(kept)).cast("long").alias("n_dropped"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dedup
# ---------------------------------------------------------------------------


def minhash_signature_table(
    sh: DataFrame,
    num_hashes: int = 16,
    id_col: str = "id",
    shingle_col: str = "sh",
) -> DataFrame:
    """MinHash signatures as a table: (id, m0..m{H-1}) — min-over-shingle-
    FINGERPRINTS of H affine family members (the Broder construction:
    h_i = (a_i*h + b_i) mod P over one base hash; see
    functions/hashing.py). `shingle_col` holds the 48-bit fingerprint
    sets `fingerprint_shingles` produces — the single hashed universe
    the whole dedup family computes on — so this stage is pure integer
    multiply-adds: zero md5 calls. H=16 with 4x4 banding targets the
    s-curve knee near Jaccard ~0.7.

    Explode fingerprints -> flat projection of the H affine members ->
    min-agg per id (map-side combine; the shuffle carries H longs per
    doc). The flat per-row projection stays inside whole-stage codegen —
    a single-expression array-of-array_min form compiles one 64 KB+ Java
    method that janino rejects, silently dropping the stage to
    interpreted evaluation (~4x slower end-to-end).

    A/B (r17, --only min-of-6): an Arrow kernel for the per-row affine
    mins, neardup_decisions 2.40 -> 2.85 s, minhash_estimate_error
    0.78 -> 1.12 s, corpus_e2e_curation near-dedup stage +0.4 s, reverted.
    """
    from vector_search_test_spark.functions.hashing import minhash_member

    ex = sh.select(
        F.col(id_col).alias("id"), F.explode(shingle_col).alias("hb")
    )
    hashed = ex.select(
        "id",
        *[minhash_member(F.col("hb"), i).alias(f"h{i}") for i in range(num_hashes)],
    )
    return hashed.groupBy("id").agg(
        *[F.min(f"h{i}").alias(f"m{i}") for i in range(num_hashes)]
    )


class MinhashTables(NamedTuple):
    """The materialized MinHash corpus assets plus the family parameters
    they were built with — carried together so a consumer passing them
    as `prebuilt` can be VALIDATED against its own requested parameters
    (a silent n/H/bands mismatch would produce wrong candidate pairs
    with no error; r12 review finding)."""

    sh: DataFrame  # (id, sh: array<bigint>) — 48-bit shingle fingerprints
    bands_df: DataFrame  # (id, band_id, band_key)
    sig: DataFrame  # (id, m0..m{H-1}) — the signature table, checkpointed
    n: int
    num_hashes: int
    bands: int


def _band_keys(num_hashes: int, bands: int):
    """The band-key projection shared by the WRITE side
    (minhash_tables) and the READ side (minhash_tables_from_store):
    band b's key is the '-'-joined signature members m[b*rows : b*rows
    + rows]. One definition — the store reader must rebuild keys
    byte-identical to the writer's, and a format change in only one
    copy would silently stop candidates matching for every
    persistent-store consumer."""
    rows = num_hashes // bands
    return F.array(
        *[
            F.concat_ws(
                "-",
                *[F.col(f"m{b * rows + r}").cast("string") for r in range(rows)],
            )
            for b in range(bands)
        ]
    )


def minhash_tables(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    kernel: bool = True,
) -> MinhashTables:
    """The materialized MinHash assets: the shingle-FINGERPRINT table
    (id, sh: array<bigint> — see `fingerprint_shingles`: the single
    hashed universe the dedup family computes on), the signature table,
    and the exploded band table, all localCheckpoint'ed, bundled with
    the family parameters (`MinhashTables`).

    Factored out of `neardup_minhash` so callers can build them ONCE per
    corpus and hand them to several consumers (the pairs join, the
    dedup-decisions pipeline, a survivor-filtered curation stage, the
    estimator monitor) — the production shape, where the signature/band
    table is a persistent corpus asset written at ingest and reused by
    every dedup job, not recomputed per query.

    Cache lifecycle: pinned via localCheckpoint, not cache() —
    checkpointed RDDs are released by the ContextCleaner as soon as the
    returned DataFrames become unreachable, so repeated invocations in a
    long-lived session cannot accumulate pinned executor storage
    (cache() entries would sit in the catalog's CacheManager until an
    explicit unpersist)."""
    from vector_search_test_spark.io import spread

    # materialized once: the fingerprint sets feed three consumers
    # (signature, and both sides of the verify join) — without pinning,
    # each would re-shingle the corpus. Built by the Arrow kernel with
    # the per-task distinct-gram hash cache (r16 — see
    # fingerprint_shingle_table; arrays element- and order-identical
    # to the expression form, measured 3x faster on corpus-sized
    # builds). `kernel=False` keeps the pure-expression form for
    # micro-batch callers (streaming epochs hash ~dozens of rows,
    # where per-task Arrow setup outweighs the interpreted fold).
    if kernel:
        sh = fingerprint_shingle_table(
            df, id_col=id_col, text_col=text_col, n=n
        ).localCheckpoint()
    else:
        sh = (
            spread(
                df.select(F.col(id_col).alias("id"), F.col(text_col)), "id"
            )
            .select("id", fingerprint_shingles(text_col, n).alias("sh"))
            .filter(F.size("sh") > 0)
            .localCheckpoint()
        )
    # pinned: the band projection and the estimator's per-component
    # agreement both read it
    sig = minhash_signature_table(sh, num_hashes).localCheckpoint()
    keys = _band_keys(num_hashes, bands)
    # pinned: both sides of the self-join read the exploded band table; an
    # unpinned plan would re-run the signature aggregation once per side.
    # Small: num_bands rows per doc, short strings.
    bands_df = sig.select(
        "id", F.posexplode(keys).alias("band_id", "band_key")
    ).localCheckpoint()
    return MinhashTables(
        sh=sh,
        bands_df=bands_df,
        sig=sig,
        n=int(n),
        num_hashes=int(num_hashes),
        bands=int(bands),
    )


def minhash_store(tables: "MinhashTables") -> DataFrame:
    """The PERSISTABLE form of the MinHash corpus assets: one table
    (id, sh, m0..m{H-1}) = the fingerprint sets joined to the
    signatures. Bands are NOT stored — they are a cheap projection of
    the signature columns and `minhash_tables_from_store` re-derives
    them on read (storing them would triple the row count for data the
    reader reconstructs in one codegen projection). This is the parquet
    an ingest job writes once per corpus; see stream_neardup_ingest for
    the continuously-growing variant."""
    return tables.sh.join(tables.sig, "id")


def minhash_tables_from_store(
    store: DataFrame, n: int = 3, num_hashes: int = 16, bands: int = 4
) -> MinhashTables:
    """Reconstruct the `MinhashTables` bundle from a persisted store
    table (id, sh, m0..m{H-1}) — the READ side of the persistent-asset
    lifecycle: consumers derive the fingerprint and band projections
    from storage instead of re-hashing text (zero md5 calls). The
    family parameters are the CALLER's assertion about how the store
    was written (they are not derivable from the bytes); pass the same
    (n, H, bands) the writer used — every consumer with a `prebuilt`
    seam re-validates them. No checkpointing: a parquet-backed store is
    already stable, and each derived table is one narrow projection."""
    keys = _band_keys(num_hashes, bands)
    return MinhashTables(
        sh=store.select("id", "sh"),
        bands_df=store.select(
            "id", F.posexplode(keys).alias("band_id", "band_key")
        ),
        sig=store.drop("sh"),
        n=int(n),
        num_hashes=int(num_hashes),
        bands=int(bands),
    )


def neardup_minhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.9,
    prebuilt: "MinhashTables | None" = None,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, verified by exact Jaccard over
    the 48-bit shingle-fingerprint sets (`fingerprint_shingles` — the
    hashed universe the whole dedup family shares; a collision merges
    identically on both engines).

    Plan: fingerprint -> signature -> posexplode band keys -> self-equi-
    join on (band_id, band_key) with a < b -> distinct candidates ->
    join fingerprint sets back -> exact Jaccard filter. The only joins
    are equi-joins on band keys and ids — bucketed, never all-pairs
    (the all-pairs version is the ORACLE, not the engine). Returns
    (a, b, jaccard) rounded 6dp.

    `prebuilt`: an optional `minhash_tables(...)` result for a SUPERSET
    corpus built with the same (text_col, n, num_hashes, bands); it is
    semi-join-filtered to `df`'s ids (signatures are per-document, so a
    superset's rows restricted to the surviving ids are exactly the
    tables this call would build). This is the persistent-signature-
    table reuse seam: a pipeline stage running over survivors does not
    re-hash the corpus. Family parameters are VALIDATED against the
    caller's — a mismatch raises instead of silently producing pairs at
    the wrong sensitivity."""
    if prebuilt is not None:
        want = (int(n), int(num_hashes), int(bands))
        got = (prebuilt.n, prebuilt.num_hashes, prebuilt.bands)
        if got != want:
            raise ValueError(
                f"prebuilt MinHash tables were built with (n, H, bands)="
                f"{got} but this call requests {want}; rebuild with "
                f"minhash_tables(..., n={n}, num_hashes={num_hashes}, "
                f"bands={bands})"
            )
        ids = df.select(F.col(id_col).alias("id"))
        sh = prebuilt.sh.join(ids, "id", "left_semi")
        bands_df = prebuilt.bands_df.join(ids, "id", "left_semi")
    else:
        tables = minhash_tables(
            df,
            id_col=id_col,
            text_col=text_col,
            n=n,
            num_hashes=num_hashes,
            bands=bands,
        )
        sh, bands_df = tables.sh, tables.bands_df
    cand = (
        bands_df.alias("x")
        .join(
            bands_df.alias("y"),
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
        .dropDuplicates()
    )
    sh_a = sh.select(F.col("id").alias("a"), F.col("sh").alias("sh_a"))
    sh_b = sh.select(F.col("id").alias("b"), F.col("sh").alias("sh_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_union("sh_a", "sh_b")
    )
    return (
        cand.join(sh_a, "a")
        .join(sh_b, "b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
    )


def cross_source_dup_matrix(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.9,
    prebuilt: "MinhashTables | None" = None,
) -> DataFrame:
    """The duplication PROVENANCE matrix: near-duplicate pair counts
    per (source, source) cell — which sources copy from which. The
    report a corpus owner reads before choosing dedup policy: heavy
    diagonal cells mean within-source boilerplate (dedup per source,
    cheap); heavy off-diagonal cells mean cross-source mirroring
    (dedup must be global, and mixture weights double-count those
    sources until it runs).

    Output: one row per populated cell — (source_a, source_b, n_pairs,
    n_docs, within_source) with (source_a, source_b) ordered
    lexicographically via least/greatest so each unordered cell
    appears once, n_docs = distinct documents participating in the
    cell's pairs. Riding `neardup_minhash` (same family params, same
    `prebuilt` persistent-signature reuse seam), so candidates are
    band-bucketed — never all-pairs — and the matrix costs two tiny
    aggregates over the verified pair list plus two narrow
    (id, source) joins. At 100 TB the pair list is the already-small
    output of the banded join; nothing wide moves."""
    pairs = neardup_minhash(
        df,
        id_col=id_col,
        text_col=text_col,
        n=n,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
        prebuilt=prebuilt,
    )
    src = df.select(
        F.col(id_col).alias("__pid"), F.col(source_col).alias("__psrc")
    )
    cells = (
        pairs.join(
            src.select(
                F.col("__pid").alias("a"), F.col("__psrc").alias("__sa")
            ),
            "a",
        )
        .join(
            src.select(
                F.col("__pid").alias("b"), F.col("__psrc").alias("__sb")
            ),
            "b",
        )
        .select(
            F.least("__sa", "__sb").alias("source_a"),
            F.greatest("__sa", "__sb").alias("source_b"),
            "a",
            "b",
        )
    )
    n_pairs = cells.groupBy("source_a", "source_b").agg(
        F.count("*").alias("n_pairs")
    )
    n_docs = (
        cells.select(
            "source_a", "source_b", F.explode(F.array("a", "b")).alias("id")
        )
        .groupBy("source_a", "source_b")
        .agg(F.countDistinct("id").alias("n_docs"))
    )
    return n_pairs.join(n_docs, ["source_a", "source_b"]).select(
        "source_a",
        "source_b",
        "n_pairs",
        "n_docs",
        (F.col("source_a") == F.col("source_b")).alias("within_source"),
    )


def minhash_estimate_quality(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    prebuilt: "MinhashTables | None" = None,
) -> DataFrame:
    """Numerically certify the MinHash estimator ON ITS OWN candidates:
    for every LSH candidate pair, the signature-agreement estimate
    (matching components / H — the unbiased Jaccard estimator) next to
    the exact shingle Jaccard and the absolute error. The monitoring
    view that catches a broken hash family, banding bug, or
    H-too-small drift numerically instead of via downstream recall.

    Output: (a, b, est_jaccard, jaccard, abs_err), candidates only —
    output-bound like every LSH surface. Plan: the shared
    `minhash_tables` assets (r12 — previously an inline duplicate of
    the same construction) plus one join of the H-component signatures
    per side; the estimator is H integer equality checks per candidate.
    est steps of 1/H are exact binary doubles at the default H=16, so
    the twin hashes identically; `jaccard` is the fingerprint-set
    Jaccard, the same universe the signatures hash. `prebuilt` takes
    the shared corpus asset (same contract and param validation as
    neardup_minhash)."""
    if prebuilt is not None:
        want = (int(n), int(num_hashes), int(bands))
        got = (prebuilt.n, prebuilt.num_hashes, prebuilt.bands)
        if got != want:
            raise ValueError(
                f"prebuilt MinHash tables were built with (n, H, bands)="
                f"{got} but this call requests {want}"
            )
        ids = df.select(F.col(id_col).alias("id"))
        sh = prebuilt.sh.join(ids, "id", "left_semi")
        bands_df = prebuilt.bands_df.join(ids, "id", "left_semi")
        sig = prebuilt.sig.join(ids, "id", "left_semi")
    else:
        tables = minhash_tables(
            df,
            id_col=id_col,
            text_col=text_col,
            n=n,
            num_hashes=num_hashes,
            bands=bands,
        )
        sh, bands_df, sig = tables.sh, tables.bands_df, tables.sig
    cand = (
        bands_df.alias("x")
        .join(
            bands_df.alias("y"),
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
        .dropDuplicates()
    )
    sig_a = sig.select(
        F.col("id").alias("a"),
        *[F.col(f"m{i}").alias(f"__a{i}") for i in range(num_hashes)],
    )
    sig_b = sig.select(
        F.col("id").alias("b"),
        *[F.col(f"m{i}").alias(f"__b{i}") for i in range(num_hashes)],
    )
    matches = None
    for i in range(num_hashes):
        m = (F.col(f"__a{i}") == F.col(f"__b{i}")).cast("int")
        matches = m if matches is None else matches + m
    sh_a = sh.select(F.col("id").alias("a"), F.col("sh").alias("sh_a"))
    sh_b = sh.select(F.col("id").alias("b"), F.col("sh").alias("sh_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_union("sh_a", "sh_b")
    )
    est = matches / F.lit(num_hashes)
    return (
        cand.join(sig_a, "a")
        .join(sig_b, "b")
        .join(sh_a, "a")
        .join(sh_b, "b")
        .select(
            "a",
            "b",
            F.round(est, 6).alias("est_jaccard"),
            F.round(jac, 6).alias("jaccard"),
            F.round(F.abs(est - jac), 6).alias("abs_err"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """All-pairs n-gram Jaccard above a threshold — the exact (quadratic)
    oracle for `neardup_minhash` and `jaccard_join`. Use only on bounded
    inputs; `jaccard_join` is the scale path. Returns (a, b, jaccard).

    Jaccard is computed over the 48-bit shingle-FINGERPRINT sets (same
    universe as `jaccard_join` — see its docstring for the fingerprint
    argument)."""
    sh = df.select(
        F.col(id_col).alias("id"),
        fingerprint_shingles(text_col, n).alias("sh"),
    )
    a = sh.select(F.col("id").alias("a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("b"), F.col("sh").alias("sh_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_union("sh_a", "sh_b")
    )
    return (
        a.join(b, F.col("a") < F.col("b"))
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
    )


def jaccard_join(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    prebuilt_sh: "DataFrame | None" = None,
) -> DataFrame:
    """Exact-threshold n-gram Jaccard similarity join via prefix filtering
    (Chaudhuri et al. SSJoin / Bayardo et al. "Scaling Up All Pairs" — the
    AllPairs length+prefix filter), bucketed, never all-pairs.

    Lemma: under any global total order on shingles, if |A∩B| >= o then
    the prefixes keeping all but the last o-1 elements of each side must
    share an element. With J(A,B) >= t the required overlap is
    o = ceil(t/(1+t)·(|A|+|B|)); bounding it per side (using the length
    filter t·|B| <= |A| for the smaller side A) gives the classic
    asymmetric prefixes: the size-ordered EARLIER side (the "indexed"
    one, Bayardo §3) only needs its first |A| - ceil(2t/(1+t)·|A|) + 1
    tokens, the later ("probing") side |B| - ceil(t·|B|) + 1 — the
    shorter index prefix multiplies into every bucket's candidate count.
    Plan: fingerprint shingles (48-bit, see `fingerprint_shingles` — the
    whole operator works on the hashed universe, so the verify intersect
    compares longs, not strings) -> global rarest-first order (document
    frequency, then fingerprint) -> per-doc window rank, keep the prefix
    -> self-equi-join on the prefix fingerprint with (sz, id) ordering,
    the index/probe prefix bounds, the length filter
    t·|b| <= |a| <= |b|/t, and the PPJoin position filter (Xiao et al.,
    WWW'08) -> distinct candidates -> verify exact fingerprint-set
    Jaccard. All joins are equi-joins on fingerprints / ids; candidate
    count is output-bound, not O(N²), so the plan survives 100× (same
    shape as neardup_minhash but EXACT on the fingerprint universe:
    recall 1.0 by construction, identical output to the quadratic
    `ngram_jaccard_pairs`). Returns (a, b, jaccard) rounded 6dp.
    """
    from pyspark.sql import Window

    if prebuilt_sh is not None:
        # the fingerprint table is definitionally the same asset
        # minhash_tables builds (same fingerprint_shingles projection,
        # same n) — a caller holding that corpus asset (or a superset;
        # ids are restricted by semi-join) skips the re-hash. The caller
        # owns n-compatibility; the MinHash path's typed bundle carries
        # its params, a bare (id, sh) frame cannot.
        sh = prebuilt_sh.join(
            df.select(F.col(id_col).alias("id")), "id", "left_semi"
        ).localCheckpoint()
    else:
        sh = fingerprint_shingle_table(
            df, id_col=id_col, text_col=text_col, n=n
        ).localCheckpoint()  # multi-consumer pin, ContextCleaner-released
    # Global shingle order = (document frequency asc, fingerprint) —
    # rarest-first. Low-entropy corpora (small vocabularies) make every
    # hash-ordered prefix token a hot bucket; ordering by DF puts each
    # document's rarest shingles in its prefix, shrinking candidate
    # buckets by the frequency skew. One extra groupBy over the exploded
    # shingles — cheap relative to the candidate explosion it prevents.
    ex = sh.select(
        "id", F.size("sh").alias("sz"), F.explode("sh").alias("tok")
    )
    freq = ex.groupBy("tok").agg(F.count("*").alias("df"))
    ranked = ex.join(freq, "tok").withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("id").orderBy("df", "tok")
        ),
    )
    # All pruning bounds carry a 1e-9 slack in the KEEP direction: float
    # rounding of t*sz (e.g. 35*0.8 = 28.000000000000004) must never
    # tighten a filter past its mathematical value, or true pairs at the
    # exact threshold are dropped unrecoverably (the verify step can only
    # remove false positives, never restore false negatives). The slack
    # admits at most a few extra candidates, which verification rejects.
    _EPS = 1e-9
    # probe prefix (kept in the table): |s| - ceil(t·|s|) + 1
    plen = (
        F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz") - _EPS) + 1
    ).cast("int")
    # explicit repartition on the join key: the prefix table is BYTES-
    # small so AQE coalesces the self-join to a handful of tasks, but
    # its per-bucket probe work is quadratic in bucket density — the
    # same compute-blind coalescing semdedup_prune pins against
    # (measured: the join + verify ran 3-wide on 32 cores). AQE
    # respects explicit repartitions.
    par = df.sparkSession.sparkContext.defaultParallelism
    pref = (
        ranked.filter(F.col("rn") <= plen)
        .select("id", "sz", "tok", "rn")
        .repartition(par, "tok")
        .localCheckpoint()  # both join sides; keeps the pinned layout
    )
    # index prefix bound for the size-ordered earlier side:
    # |s| - ceil(2t/(1+t)·|s|) + 1 (valid because the later side is at
    # least as large, so o >= 2t/(1+t)·|x|)
    iplen_x = (
        F.col("x.sz")
        - F.ceil(
            F.lit(2.0 * threshold / (1.0 + threshold)) * F.col("x.sz") - _EPS
        )
        + 1
    ).cast("int")
    # Required overlap for J >= t: o >= t/(1+t) * (|A|+|B|).
    alpha = (
        F.lit(threshold / (1.0 + threshold)) * (F.col("x.sz") + F.col("y.sz"))
        - _EPS
    )
    # PPJoin position filter: at the first common prefix token every later
    # common token sits at position >= rn on both sides, so the overlap is
    # bounded by min(remaining suffix lengths) + 1 — below alpha the pair
    # cannot qualify and is dropped before the verify join.
    pos_ub = (
        F.least(
            F.col("x.sz") - F.col("x.rn"), F.col("y.sz") - F.col("y.rn")
        )
        + 1
    )
    cand = (
        pref.alias("x")
        .join(
            pref.alias("y"),
            (F.col("x.tok") == F.col("y.tok"))
            # processing order: size, then id — x is the indexed
            # (earlier) side and gets the SHORTER index prefix
            & (
                (F.col("x.sz") < F.col("y.sz"))
                | (
                    (F.col("x.sz") == F.col("y.sz"))
                    & (F.col("x.id") < F.col("y.id"))
                )
            )
            & (F.col("x.rn") <= iplen_x)
            # length filter: J >= t  =>  t <= |A|/|B| <= 1/t
            & (F.col("x.sz") * threshold <= F.col("y.sz") + _EPS)
            & (F.col("y.sz") * threshold <= F.col("x.sz") + _EPS)
            & (pos_ub >= alpha),
        )
        # carry both set sizes so verification computes the union by
        # inclusion-exclusion (|A∪B| = |A|+|B|-|A∩B|: same integers as
        # array_union, identical doubles after the division, at HALF the
        # per-pair set-building cost — the verify stage dominates the
        # operator's wall clock, VERDICT r7 next-#3). Output pairs are
        # id-normalized (a < b) regardless of the size-based join order.
        .select(
            F.least(F.col("x.id"), F.col("y.id")).alias("a"),
            F.greatest(F.col("x.id"), F.col("y.id")).alias("b"),
            F.col("x.sz").alias("sza"),
            F.col("y.sz").alias("szb"),
        )
        .dropDuplicates(["a", "b"])
    )
    sh_a = sh.select(F.col("id").alias("a"), F.col("sh").alias("sh_a"))
    sh_b = sh.select(F.col("id").alias("b"), F.col("sh").alias("sh_b"))
    o = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = o / (F.col("sza") + F.col("szb") - o)
    return (
        cand.join(sh_a, "a")
        .join(sh_b, "b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
) -> DataFrame:
    """(id, fp) SimHash fingerprints (Charikar '02): for each bit
    position, sum +1/-1 over the documents' token-hash bits; bit set iff
    the sum > 0.

    Physical shape: token hashes exploded to rows, the per-bit votes as
    `bits` SUM aggregates of codegen-able bit expressions — no
    interpreted higher-order functions. Map-side partial aggregation
    collapses each doc to one partial row before the single shuffle, so
    this is also the 100 TB shape. 32 bits separates the fixture corpus
    (planted near-dups land at hamming <= 3); production would use 64.
    """
    from vector_search_test_spark.io import spread

    # plain explode: a single-space split never yields an empty array
    # (''.split -> ['']), so no doc can drop out here
    toks = spread(df.select(F.col(id_col).alias("id"), F.col(text_col)), "id").select(
        "id",
        F.explode(tokens(text_col)).alias("tok"),
    ).select("id", portable_hash48(F.col("tok")).alias("h"))
    votes = [
        F.sum(
            F.when(F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(bits)
    ]
    agg = toks.groupBy("id").agg(*votes)
    fp = F.lit(0).cast("long")
    for b in range(bits):
        fp = fp + F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(0).cast("long")
    return agg.select("id", fp.alias("fp"))


def simhash_sql(expr: str, bits: int = 32) -> str:
    """DuckDB twin of `simhash`."""
    from vector_search_test_spark.functions.hashing import hash48_sql

    toks = f"string_split(lower({expr}), ' ')"
    hashes = f"list_transform({toks}, t -> {hash48_sql('t')})"
    terms = []
    for b in range(bits):
        vote = (
            f"list_sum(list_transform({hashes}, "
            f"h -> CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END))"
        )
        terms.append(f"(CASE WHEN {vote} > 0 THEN {1 << b} ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    max_hamming: int = 2,
    num_chunks: int = 4,
) -> DataFrame:
    """Pairs whose SimHash fingerprints are within `max_hamming` bits.

    Candidates come from an equi-join on fingerprint chunks: a pair within
    hamming d < num_chunks must agree exactly on at least one chunk
    (pigeonhole), so max_hamming must be < num_chunks. Exact hamming is
    then bit_count(xor) over candidates only — bucketed, not all-pairs.
    Returns (a, b, hamming).
    """
    if max_hamming >= num_chunks:
        raise ValueError("pigeonhole requires max_hamming < num_chunks")
    chunk_bits = bits // num_chunks
    mask = (1 << chunk_bits) - 1
    fp = simhash_table(
        df, id_col=id_col, text_col=text_col, bits=bits
    ).localCheckpoint()  # both join sides read it; ContextCleaner-released
    chunks = fp.select(
        "id",
        "fp",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("fp", c * chunk_bits).bitwiseAND(F.lit(mask))
                    for c in range(num_chunks)
                ]
            )
        ).alias("chunk_id", "chunk_val"),
    )
    cand = (
        chunks.alias("x")
        .join(
            chunks.alias("y"),
            (F.col("x.chunk_id") == F.col("y.chunk_id"))
            & (F.col("x.chunk_val") == F.col("y.chunk_val"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(
            F.col("x.id").alias("a"),
            F.col("y.id").alias("b"),
            F.col("x.fp").alias("fp_a"),
            F.col("y.fp").alias("fp_b"),
        )
        .dropDuplicates(["a", "b"])
    )
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", F.col("hamming").cast("long").alias("hamming"))
    )


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------


def neardup_embedding(
    emb: DataFrame,
    threshold: float = 0.4,
    k: int = 20,
    nlist: int = 4,
    nprobe: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index=None,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine similarity.

    Candidates from the IVF index (ANN, bucketed — nprobe=None probes all
    cells for the exact/oracle configuration), cosine computed natively,
    canonical a < b. Pass a prebuilt `index` to skip the KMeans train.
    Returns (a, b, cos) rounded 6dp.
    """
    from vector_search_test_spark.operators.ivf import ivf_build, ivf_search_all

    idx = index or ivf_build(emb, nlist=nlist, id_col=id_col, vec_col=vec_col)
    queries = emb.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
    )
    knn = ivf_search_all(
        idx, queries, k=k, nprobe=nprobe if nprobe is not None else nlist
    )
    pairs = knn.filter(F.col("query_id") < F.col("vec_id")).select(
        F.col("query_id").alias("a"), F.col("vec_id").alias("b")
    ).dropDuplicates()
    ea = emb.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"))
    eb = emb.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb"))
    return (
        pairs.join(ea, "a")
        .join(eb, "b")
        .withColumn("cos", cosine_sim("va", "vb"))
        .filter(F.col("cos") >= threshold)
        .select("a", "b", F.round("cos", 6).alias("cos"))
    )


# ---------------------------------------------------------------------------
# Near-dedup decisions: pairs -> clusters -> canonical representative
# ---------------------------------------------------------------------------


def neardup_dedup_decisions(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.9,
    prebuilt: "MinhashTables | None" = None,
) -> DataFrame:
    """The COMPLETE near-dedup pipeline, pair detection through keep
    decision: MinHash-LSH candidate pairs verified by exact Jaccard
    (`neardup_minhash`), connected components over the duplicate graph
    (near-duplication is not transitive at a fixed threshold, so the
    standard practice — e.g. the C4/Gopher pipelines — collapses whole
    connected groups), and one canonical representative per group (min
    id). Returns one row per input document: (id, rep_id, keep) with
    keep = (id == rep_id); downstream keeps `WHERE keep` rows.

    Scale shape: the pair stage is the banded equi-join (never
    all-pairs); the component stage runs on the EDGE LIST only —
    duplicate pairs are a tiny fraction of the corpus — via
    operators/cluster.py::connected_components (driver union-find under
    the edge bound, checkpointed pointer-jumping past it); the final
    label map joins back broadcast-sized. Documents without duplicates
    never enter the graph machinery — they fall out of the left join as
    their own representative."""
    from vector_search_test_spark.operators.cluster import (
        connected_components,
    )

    src = df
    if prebuilt is not None:
        # with prebuilt signatures the whole pipeline needs df only for
        # its ID SET (two semi-joins inside neardup_minhash + the nodes
        # frame below) — materialize that narrow set ONCE so an
        # expensive survivor pipeline upstream (quality filter, dedup
        # window) does not re-execute per consumer (r16 measurement:
        # 3x re-execution inside the curation entries' near-dedup stage)
        src = df.select(F.col(id_col)).localCheckpoint()
    pairs = neardup_minhash(
        src,
        id_col=id_col,
        text_col=text_col,
        n=n,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
        prebuilt=prebuilt,
    )
    nodes = src.select(F.col(id_col).cast("long").alias("id"))
    comp = connected_components(
        nodes,
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst")),
    )
    return comp.select(
        "id",
        F.col("component").alias("rep_id"),
        (F.col("id") == F.col("component")).alias("keep"),
    )


def neardup_keep_best(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.9,
    prebuilt: "MinhashTables | None" = None,
) -> DataFrame:
    """Quality-aware representative election per near-dup group — keep
    the BEST duplicate, not the first: production curation pipelines
    keep the highest-quality copy of a near-dup cluster (the cleanest/
    most complete page), while `neardup_dedup_decisions`' min-id rule
    is arbitrary among copies. Same groups (MinHash-LSH pairs, exact-
    Jaccard verification, connected components over the edge list),
    different election: the representative is the member with the
    highest quality_score (rounded 6dp so the comparison is
    engine-exact), ties broken by min id.

    Output: one row per document — (id, q, rep_id, keep) with
    keep = (id == rep_id); q is the document's own quality score.

    Scale shape: everything up to the labels is the certified
    decisions pipeline (banded joins, edge-list CC). The election is
    TWO map-side-combinable aggregates — max(q) per group, then
    min(id) among the q-maximal members — NEVER a window over the
    group key (the paragraph_dedup skew rule: a boilerplate cluster
    with millions of members would serialize a window's sort onto one
    task; the aggregate pair combines before each shuffle and joins
    back skew-splittably)."""
    from vector_search_test_spark.functions.textstats import quality_score
    from vector_search_test_spark.operators.cluster import (
        connected_components,
    )

    pairs = neardup_minhash(
        df,
        id_col=id_col,
        text_col=text_col,
        n=n,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
        prebuilt=prebuilt,
    )
    base = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.round(quality_score(F.col(text_col)), 6).alias("q"),
    )
    comp = connected_components(
        base.select("id"),
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst")),
    )
    labeled = comp.join(base, "id")
    mq = labeled.groupBy("component").agg(F.max("q").alias("__mq"))
    win = (
        labeled.join(mq, "component")
        .filter(F.col("q") == F.col("__mq"))
        .groupBy("component")
        .agg(F.min("id").alias("rep_id"))
    )
    return (
        labeled.join(win, "component")
        .select(
            "id",
            "q",
            "rep_id",
            (F.col("id") == F.col("rep_id")).alias("keep"),
        )
    )


def incremental_dedup(
    incoming: DataFrame,
    existing: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental-ingest exact dedup: keep only incoming documents
    whose normalized text (lower+trim, the dedup_exact key) appears
    NOWHERE in the existing corpus, and only once per incoming batch
    (min id wins within the batch). The shape every continuously-fed
    training corpus needs: the existing side reduces to its DISTINCT
    normalized-text projection before the join, so the anti-join probes
    a deduplicated single-column build side — broadcast-able when the
    existing fingerprint set fits (or hashed equi-join when not), and
    the incoming batch is never compared against itself quadratically.

    Grouping/joining is on the normalized TEXT, not its hash, for the
    same collision reason as dedup_exact (a 48-bit key silently merges
    distinct docs at corpus scale); at 100 TB the existing side would
    persist this projection as its own bucketed fingerprint table so
    re-ingests skip the full-corpus scan. Returns the surviving incoming
    rows as (id, text_hash)."""
    norm_in = incoming.select(
        F.col(id_col).alias("id"),
        F.trim(F.lower(F.col(text_col))).alias("__norm"),
    )
    seen = existing.select(
        F.trim(F.lower(F.col(text_col))).alias("__norm")
    ).distinct()
    batch_unique = (
        norm_in.groupBy("__norm").agg(F.min("id").alias("id"))
    )
    return (
        batch_unique.join(seen, "__norm", "left_anti")
        .select("id", portable_hash48(F.col("__norm")).alias("text_hash"))
    )


def incremental_neardup(
    incoming: DataFrame,
    existing: "MinhashTables",
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.9,
    inc: "MinhashTables | None" = None,
) -> DataFrame:
    """Incremental-ingest NEAR-dup gate against a persistent LSH index —
    the missing sibling of `incremental_dedup` (exact) and the
    production shape of continuous corpus ingestion: the EXISTING
    corpus's MinHash assets (`minhash_tables` — at 100 TB a bucketed
    signature/band parquet written at ingest) are probed by the new
    batch, which is never compared all-pairs against the corpus or
    itself.

    For each incoming doc: near-dup matches (exact fingerprint-set
    Jaccard >= threshold, verified on banded candidates only) are
    looked up (a) in the existing band table and (b) among EARLIER-id
    docs of the same batch; keep = 1 iff no match. The within-batch
    rule matches semdedup_prune's documented one-join deviation: an
    earlier doc drops a later near-dup even if the earlier doc was
    itself dropped (cascades are stricter than keep-one-per-group, but
    stay single-pass and oracle-replayable; run `neardup_dedup_
    decisions` over survivors when paper-exact group retention
    matters).

    Family parameters come FROM the existing assets (signatures must be
    comparable, so the batch is hashed with the same (n, H, bands) —
    there is nothing to validate against, the index dictates them).
    `inc` optionally passes the batch's OWN prebuilt tables (validated
    against the index's parameters) so a caller that also persists the
    batch signatures — stream_neardup_ingest appends keepers to the
    store — hashes the batch exactly once.

    Output: one row per incoming doc with a nonempty shingle set —
    (id, keep int, match_id bigint NULL for keepers, jaccard double
    NULL for keepers), match = the (jaccard desc, match_id asc)-best
    verified match across both sides, jaccard rounded 6dp.

    Scale shape: batch assets are batch-sized; both candidate
    generators are band equi-joins (the existing band table is the
    build side, bucketed on band_key at scale); exact verification
    touches banded candidates only; the final assembly is one window
    over matches + one left join back to batch ids."""
    if inc is None:
        # kernel=False: ingest batches are small (the Arrow kernel's
        # per-task setup outweighs the interpreted fold there — r16)
        inc = minhash_tables(
            incoming,
            id_col=id_col,
            text_col=text_col,
            n=existing.n,
            num_hashes=existing.num_hashes,
            bands=existing.bands,
            kernel=False,
        )
    else:
        want = (existing.n, existing.num_hashes, existing.bands)
        got = (inc.n, inc.num_hashes, inc.bands)
        if got != want:
            raise ValueError(
                f"prebuilt batch tables were built with (n, H, bands)="
                f"{got} but the standing index uses {want}"
            )
    cand_old = (
        inc.bands_df.alias("x")
        .join(
            existing.bands_df.alias("y"),
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.band_key") == F.col("y.band_key")),
        )
        .select(F.col("x.id").alias("id"), F.col("y.id").alias("match_id"))
        .dropDuplicates()
    )
    cand_new = (
        inc.bands_df.alias("x")
        .join(
            inc.bands_df.alias("y"),
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("y.id") < F.col("x.id")),  # earlier batch doc drops later
        )
        .select(F.col("x.id").alias("id"), F.col("y.id").alias("match_id"))
        .dropDuplicates()
    )
    sh_x = inc.sh.select(F.col("id"), F.col("sh").alias("sh_x"))
    sh_old = existing.sh.select(
        F.col("id").alias("match_id"), F.col("sh").alias("sh_y")
    )
    sh_new = inc.sh.select(
        F.col("id").alias("match_id"), F.col("sh").alias("sh_y")
    )
    jac = F.size(F.array_intersect("sh_x", "sh_y")) / F.size(
        F.array_union("sh_x", "sh_y")
    )
    verified = (
        cand_old.join(sh_old, "match_id")
        .unionByName(cand_new.join(sh_new, "match_id"))
        .join(sh_x, "id")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id", "match_id", F.round("jaccard", 6).alias("jaccard"))
    )
    w = Window.partitionBy("id").orderBy(
        F.col("jaccard").desc(), F.col("match_id").asc()
    )
    best = (
        verified.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return (
        inc.sh.select("id")
        .join(best, "id", "left")
        .select(
            "id",
            F.when(F.col("match_id").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("keep"),
            "match_id",
            "jaccard",
        )
    )


def semdedup_prune(
    df: DataFrame,
    centroids: list[list[float]],
    tau: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication INSIDE k-means clusters — the quadratic pair check is
    confined to each cluster, which is what makes embedding-level dedup
    tractable at corpus scale (the paper runs it on LAION/C4 with
    exactly this clusters-bound-the-blowup argument).

    Keep rule (paper §2.2, made deterministic): order each cluster by
    (similarity-to-centroid ASC, id) — SemDeDup keeps the LOW
    centroid-similarity member of a duplicate group — and drop x iff
    some EARLIER y in that order has cos(x, y) > tau (rounded to 6 dp
    on both engines, so the threshold compare is replayable). Returns
    every input row annotated: (id, list_id, cent_sim, keep 0/1).

    DELIBERATE DEVIATION from the paper (ADVICE r10 — read before
    relying on retention semantics): x is dropped when ANY
    earlier-ordered y exceeds tau, **even if that y was itself
    dropped** — drops can cascade through similarity chains
    (a~b, b~c, a!~c still drops both b and c), which is STRICTER than
    the paper's keep-one-per-duplicate-group reading where a surviving
    keeper does the dropping. The one-join rule is what stays
    oracle-replayable and single-pass at scale; the paper-exact
    variant is an iterative keep-set fixpoint (the `neardup_dedup_
    decisions` connected-components shape). If paper-exact retention
    matters downstream, run this as a candidate filter and re-verify
    survivors, or lower tau to compensate for the extra pruning.

    Scale shape: nearest-centroid assignment is the scan-only
    `assign_cells` Arrow kernel; the centroid table is broadcast; the
    only corpus shuffles are the list_id window and the within-list
    self-join — O(sum of cluster_size^2) pair evaluations, never the
    global cross product. Centroids are supplied by the caller (the
    shared deterministic trainer), so a DuckDB oracle can replay
    assignment + rule from a VALUES table.
    """
    from pyspark.sql import Window

    from vector_search_test_spark.operators.ivf import (
        assign_cells,
        centroids_df,
    )

    if not 0.0 <= tau <= 1.0:
        raise ValueError(f"tau must be in [0, 1], got {tau}")
    a = assign_cells(
        df.select(id_col, vec_col), centroids, vec_col=vec_col
    )
    cents = centroids_df(df.sparkSession, centroids).withColumnRenamed(
        "centroid", "__cent"
    )
    scored = a.join(F.broadcast(cents), "list_id").select(
        F.col(id_col).alias("__id"),
        "list_id",
        F.col(vec_col).alias("__v"),
        F.round(cosine_sim(F.col(vec_col), F.col("__cent")), 6).alias(
            "cent_sim"
        ),
    )
    w = Window.partitionBy("list_id").orderBy("cent_sim", "__id")
    # localCheckpoint: THREE consumers read r (the x and y sides of the
    # pair join and the final keep-annotation) and Spark does not CSE
    # repeated subplans — without it the assignment projection and the
    # per-list sort+row_number execute three times (ContextCleaner
    # releases the blocks; at cluster scale the same seam is a parquet
    # checkpoint)
    r = scored.withColumn("__rn", F.row_number().over(w)).localCheckpoint()
    # The pair join's OUTPUT is quadratic in cluster size while its
    # INPUT is corpus-sized — AQE's byte-based estimates coalesce the
    # tiny input shuffle and serialize the cosine work (measured 6x on
    # the fixture: one task evaluated every pair). Salt the join key so
    # the pair space spreads across ~4x cluster parallelism, and pin
    # the layout with an explicit repartition (which AQE respects):
    # x carries salt = rn mod S, y is replicated across the salt space.
    nlist_n = max(1, len(centroids))
    par = df.sparkSession.sparkContext.defaultParallelism
    nsalt = max(1, -(-4 * par // nlist_n))  # ceil; 1 when nlist is wide
    nparts = min(nlist_n * nsalt, 8 * par)
    x = (
        r.withColumn("__salt", F.pmod(F.col("__rn"), F.lit(nsalt)))
        .repartition(nparts, F.col("list_id"), F.col("__salt"))
        .alias("x")
    )
    y = (
        r.withColumn(
            "__salt", F.explode(F.sequence(F.lit(0), F.lit(nsalt - 1)))
        )
        .repartition(nparts, F.col("list_id"), F.col("__salt"))
        .alias("y")
    )
    drops = (
        x.join(
            y,
            (F.col("x.list_id") == F.col("y.list_id"))
            & (F.col("x.__salt") == F.col("y.__salt"))
            & (F.col("y.__rn") < F.col("x.__rn")),
        )
        .filter(
            F.round(cosine_sim(F.col("x.__v"), F.col("y.__v")), 6)
            > F.lit(float(tau))
        )
        .select(F.col("x.__id").alias("__id"))
        .distinct()
        .withColumn("__dropped", F.lit(1))
    )
    return (
        r.join(drops, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            "list_id",
            "cent_sim",
            F.when(F.col("__dropped").isNull(), 1)
            .otherwise(0)
            .cast("int")
            .alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# winnowing candidate pairs (fingerprint-overlap blocking)
# ---------------------------------------------------------------------------


def winnowing_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_df: int | None = 1000,
) -> DataFrame:
    """Containment/near-dup candidate pairs by SHARED winnowing
    fingerprints — the index use of the MOSS scheme (Schleimer et al.
    2003 §5): two documents sharing any w+k-1-word run share a selected
    fingerprint, so grouping the winnowed fingerprint table by fp and
    joining on it surfaces every overlapping pair while touching only
    the ~2/(w+1)-dense selected set, never the raw gram stream.

    Returns (a, b, shared, containment): ids with a < b, the count of
    distinct shared fingerprints, and shared / min(|fps_a|, |fps_b|)
    (rounded 6dp) — the asymmetric-containment estimate MOSS ranks by.
    Pairs below `min_shared` fingerprints are dropped.

    Plan (100 TB): ONE shuffle on fp for the equi-self-join; candidate
    volume is sum over fps of df^2, bounded by the `max_df`
    stop-fingerprint cap (a fingerprint appearing in more than max_df
    documents is boilerplate by definition and is dropped BEFORE the
    join — the stop-word analogue of the prefix filter in
    jaccard_join; dropped mass is countable from the df table). The
    per-doc fingerprint sizes join back via broadcast when small, and
    the final pair aggregate is candidate-bound. Never all-pairs.
    """
    from vector_search_test_spark.functions.textstats import (
        winnowing_fingerprints,
    )

    if min_shared < 1:
        raise ValueError(f"min_shared must be >= 1, got {min_shared}")
    from vector_search_test_spark.io import spread

    # the fp table feeds the df cap, both join sides, and the size
    # legs — localCheckpoint so the winnowing scan runs ONCE (Spark
    # does not CSE repeated subplans; the repo's multi-consumer rule).
    # spread() first: the winnowing projection is the compute-heavy
    # stage (O(grams x w) window argmins per doc) and must not inherit
    # a 1-2-file source's parallelism (measured: the whole fingerprint
    # pass ran as ONE task on the sf0.1 single-file table — the same
    # trap neardup_minhash documents; no-op at real scale)
    fps = (
        winnowing_fingerprints(
            spread(docs.select(F.col(id_col), F.col(text_col)), id_col),
            id_col=id_col,
            text_col=text_col,
            k=k,
            w=w,
        )
        .select(F.col(id_col).alias("id"), "fp")
        .distinct()
        .localCheckpoint(eager=False)
    )
    if max_df is not None:
        df_t = fps.groupBy("fp").agg(F.count("*").alias("df"))
        # the capped table feeds three consumers (sizes + both join
        # sides) — checkpoint AFTER the cap so the df shuffle and the
        # anti-join run once, not per consumer
        fps = fps.join(
            F.broadcast(df_t.filter(F.col("df") > max_df).select("fp")),
            "fp",
            "left_anti",
        ).localCheckpoint(eager=False)
    sizes = fps.groupBy("id").agg(F.count("*").alias("n_fp"))
    a = fps.alias("a")
    b = fps.alias("b")
    pairs = (
        a.join(b, "fp")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("a"), F.col("b.id").alias("b"))
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )
    return (
        pairs.join(sizes.withColumnRenamed("id", "a").withColumnRenamed("n_fp", "na"), "a")
        .join(sizes.withColumnRenamed("id", "b").withColumnRenamed("n_fp", "nb"), "b")
        .select(
            "a",
            "b",
            "shared",
            F.round(
                F.col("shared") / F.least(F.col("na"), F.col("nb")), 6
            ).alias("containment"),
        )
    )


def winnowing_candidates_oracle_sql(
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_df: int | None = 1000,
) -> str:
    """DuckDB twin of `winnowing_candidate_pairs` — same fingerprint
    CTE (winnowing_oracle_sql), same stop-fingerprint cap, same
    containment arithmetic."""
    from vector_search_test_spark.functions.textstats import (
        winnowing_oracle_sql,
    )

    cap = (
        f"WHERE fp NOT IN (SELECT fp FROM df_t WHERE df > {max_df})"
        if max_df is not None
        else ""
    )
    return f"""
        WITH wfp AS ({winnowing_oracle_sql(k, w)}),
        fps0 AS (SELECT DISTINCT doc_id AS id, fp FROM wfp),
        df_t AS (SELECT fp, count(*)::BIGINT AS df FROM fps0 GROUP BY fp),
        fps AS (SELECT id, fp FROM fps0 {cap}),
        sizes AS (SELECT id, count(*)::BIGINT AS n_fp FROM fps GROUP BY id),
        pairs AS (
            SELECT x.id AS a, y.id AS b, count(*)::BIGINT AS shared
            FROM fps x JOIN fps y ON x.fp = y.fp AND x.id < y.id
            GROUP BY x.id, y.id
            HAVING count(*) >= {min_shared}
        )
        SELECT p.a, p.b, p.shared,
               round(p.shared / least(sa.n_fp, sb.n_fp), 6) AS containment
        FROM pairs p
        JOIN sizes sa ON p.a = sa.id
        JOIN sizes sb ON p.b = sb.id
    """
