"""Structured Streaming ingest (SURVEY §7 P6 — optional extension).

The reference has no streaming (SURVEY §2.8): its app is request/response
over in-memory state. The natural streaming extension mirrors faiss's
train/add split (app.py:52-55): *training* stays batch (k-means over a
frozen snapshot), while *add* — assign each arriving vector to its nearest
frozen centroid — is a stateless projection, exactly what a streaming
micro-batch can run. `stream_assign_cells` is therefore identical in
semantics to operators/ivf.py::assign_cells, applied to a readStream.

`stream_event_window_counts` is the standard watermark + tumbling-window
aggregation over the events table (late data dropped past the watermark).

Both are testable without a long-running cluster via
`trigger(availableNow=True)`: process everything currently in the source,
then stop — results must equal the batch equivalent on the same input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vector_search_test_spark.operators.ivf import assign_cells

EMBEDDING_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("embedding", T.ArrayType(T.FloatType()), False),
    ]
)

# events.parquet has shipped in two fixture flavors (see io.load_table):
# TIMESTAMP(NANOS) — streamed as raw long nanos via
# spark.sql.legacy.parquet.nanosAsLong and converted in-plan — and plain
# timestamp[us]. readStream needs an explicit schema, so the flavor is
# detected from the parquet footer (events_stream_source).
EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.LongType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def _events_ts_flavor(input_dir: str) -> str:
    """Classify the `ts` column's parquet representation under `input_dir`.

    Returns one of:
      - "int96"       — physical INT96 (what Spark itself writes by default
                        for TimestampType; `outputTimestampType=INT96`).
                        pyarrow's *logical* schema reports this as
                        timestamp[ns], identical to INT64 TIMESTAMP(NANOS),
                        so the physical type from the footer metadata is the
                        only reliable discriminator (round-4 verdict bug:
                        conflating the two crashed every Spark-written input
                        with PARQUET_COLUMN_DATA_TYPE_MISMATCH).
      - "int64_nanos" — physical INT64 with logical TIMESTAMP(NANOS): Spark
                        can only read it as raw longs via
                        spark.sql.legacy.parquet.nanosAsLong.
      - "ltz"         — INT64 micros/millis, isAdjustedToUTC=true.
      - "ntz"         — INT64 micros/millis, no timezone (the driver-fixture
                        flavor since round 4).
      - "empty"       — no parquet files yet (stream dir pre-population).
    """
    import glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(input_dir, "*.parquet")))
    # the drain sentinel (stateful._ensure_drain_sentinel) only
    # approximates the fixture's flavor; classify from a real file so
    # detection never depends on 'zz_' sorting last
    real = [f for f in files if os.path.basename(f) != "zz_sentinel.parquet"]
    files = real or files
    if not files:
        return "empty"
    pf = pq.ParquetFile(files[0])
    md = pf.metadata
    for i in range(md.num_columns):
        col = md.schema.column(i)
        if col.name == "ts" and col.physical_type == "INT96":
            return "int96"
    t = pf.schema_arrow.field("ts").type
    if not pa.types.is_timestamp(t):
        return "ntz"
    if t.unit == "ns":
        return "int64_nanos"
    return "ltz" if t.tz else "ntz"


def events_stream_reader(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """readStream over an events parquet directory, normalized to
    TimestampType micros regardless of the fixture's ts flavor (INT96 /
    INT64-nanos / timestamp[us] with or without tz — see _events_ts_flavor).
    The single flavor-dispatch point shared by every events stream source."""
    flavor = _events_ts_flavor(input_dir)
    convert_nanos = False
    if flavor == "int64_nanos":
        # only INT64 nanos needs the raw-long escape hatch; applying it to
        # INT96 was the round-4 crash (the conf only affects INT64)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        schema = EVENTS_STREAM_SCHEMA
        convert_nanos = True
    else:
        # INT96 and adjusted-to-UTC INT64 are TimestampType natively;
        # the no-tz fixture flavor must be declared NTZ then cast (declaring
        # TimestampType over an NTZ file shifts by the session timezone)
        ts_type = T.TimestampNTZType() if flavor in ("ntz", "empty") else T.TimestampType()
        schema = T.StructType(
            [
                f if f.name != "ts" else T.StructField("ts", ts_type, True)
                for f in EVENTS_STREAM_SCHEMA.fields
            ]
        )
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    ev = reader.parquet(input_dir)
    if convert_nanos:
        return ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return ev.withColumn("ts", F.col("ts").cast("timestamp"))


def events_stream_source(spark: SparkSession, input_dir: str) -> DataFrame:
    """readStream over an events parquet directory, normalized to
    TimestampType micros regardless of the fixture's ts physical type."""
    return events_stream_reader(spark, input_dir)


def stream_assign_cells(
    spark: SparkSession,
    input_dir: str,
    centroids: list[list[float]],
) -> DataFrame:
    """Streaming IVF `add`: readStream of (vec_id, embedding) parquet,
    nearest-frozen-centroid assignment by assign_cells' stateless Arrow
    kernel. Write with `.writeStream.partitionBy('list_id')` to grow
    the same partitioned-postings layout ivf_save produces."""
    stream = (
        spark.readStream.schema(EMBEDDING_STREAM_SCHEMA)
        .parquet(input_dir)
        .select("vec_id", "embedding")
    )
    return assign_cells(stream, centroids).select("list_id", "vec_id", "embedding")


DOCUMENT_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]
)


def stream_quality_gate(
    spark: SparkSession,
    input_dir: str,
    min_quality: float = 0.9,
) -> DataFrame:
    """Streaming document-quality gate: arriving docs scored with the
    composite quality heuristic AND both published rule families —
    the full Gopher conjunction and the C4 conjunction
    (functions/textstats.py) — kept iff the ROUNDED quality clears
    `min_quality` — the ingest-time filter of a continuously-fed
    curation pipeline. Entirely stateless (lowercased splits per row,
    whole-stage codegen, no state store, no watermark needed), so
    throughput scales with cores exactly like the batch gate; the
    emitted (doc_id, q_score, gopher_pass, c4_pass) rows are
    value-identical to the batch filter — the oracle replays it."""
    from vector_search_test_spark.functions.textstats import (
        c4_flags,
        gopher_flags,
        quality_score,
    )

    stream = (
        spark.readStream.schema(DOCUMENT_STREAM_SCHEMA)
        .parquet(input_dir)
        .select("doc_id", "text")
    )
    s6 = F.round(quality_score("text"), 6)
    return (
        stream.select(
            "doc_id",
            s6.alias("q_score"),
            gopher_flags("text")["gopher_pass"].alias("gopher_pass"),
            c4_flags("text")["c4_pass"].alias("c4_pass"),
        )
        .filter(F.col("q_score") >= F.lit(float(min_quality)))
    )


def stream_clip_gate(
    spark: SparkSession,
    input_dir: str,
    threshold: float,
    dim: int = 64,
    shape: "tuple[int, int]" = (8, 8),
    codec=None,
) -> DataFrame:
    """Streaming CLIP-score pair gate — the ingest-time form of the
    LAION/DataComp filter (`sources/multimodal.py::clip_pair_filter`):
    arriving (image, caption) pairs are decoded through the factory
    seam, both towers embedded in the same Arrow micro-batch passes,
    and kept iff the rounded cosine clears `threshold`. Entirely
    STATELESS — decode/embed are mapInPandas, the gate is a codegen
    filter, no state store, no watermark — so it rides
    `clip_score_pairs` unchanged and the drained output is
    value-identical to the batch filter's keepers (the oracle replays
    it). The per-source retention report is the batch operator's job;
    a continuous pipeline computes it downstream over the emitted
    rows. Emits (id, source, clip_score) for the keepers."""
    from vector_search_test_spark.sources.multimodal import (
        clip_score_pairs,
        decode_media,
        extract_byte_features,
        fake_grid_codec,
    )

    if codec is None:
        codec = fake_grid_codec(*shape)
    stream = (
        spark.readStream.schema(DOCUMENT_STREAM_SCHEMA)
        .parquet(input_dir)
        .select(
            F.col("doc_id").alias("id"),
            "source",
            F.encode(F.col("text"), "UTF-8").alias("payload"),
        )
    )
    dec = decode_media(stream, codec=codec, expected_shape=shape)
    img = extract_byte_features(
        dec, dim=dim, payload_col="decoded", out_col="img_emb"
    )
    both = extract_byte_features(
        img, dim=dim, payload_col="payload", out_col="txt_emb"
    )
    return (
        clip_score_pairs(both, None, threshold, id_col="id")
        .filter("kept")
        .select("id", "source", "clip_score")
    )


def stream_drift_gate(
    spark: SparkSession,
    input_dir: str,
    means: "list[float]",
    stds: "list[float]",
    theta: float = 3.0,
) -> DataFrame:
    """Ingest-time out-of-distribution gate: arriving vectors scored
    by max per-dimension |z| against a FROZEN reference profile
    (operators/vstats.py::embedding_dim_profile over a certified
    snapshot), quarantine-flagged when the 6dp-rounded score clears
    `theta`. The scoring is operators/vstats.py::embedding_zscore_gate
    — the SAME stateless core a batch audit runs, so the streaming
    gate provably cannot drift from it (the stream_clip_gate /
    stream_quality_gate shared-core rule). No state store, no
    watermark: throughput scales with cores; the profile rides as two
    broadcast-sized literal arrays."""
    from vector_search_test_spark.operators.vstats import (
        embedding_zscore_gate,
    )

    stream = (
        spark.readStream.schema(EMBEDDING_STREAM_SCHEMA)
        .parquet(input_dir)
        .select("vec_id", "embedding")
    )
    return embedding_zscore_gate(stream, means, stds, theta)


def stream_neardup_ingest(
    spark: SparkSession,
    input_dir: str,
    assets_dir: str,
    out_dir: str,
    threshold: float = 0.9,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    max_files_per_trigger: int = 1,
):
    """Streaming near-dup ingest over a GROWING persistent LSH index —
    the continuous form of `incremental_neardup` and the shape a
    production corpus feed actually runs: every micro-batch (a) probes
    the standing signature store (`assets_dir`, key=value
    `ingest_batch=N` subdirs of `minhash_store` parquet; the initial
    corpus sits at ingest_batch=-1), (b) writes one keep/drop decision
    row per doc to `out_dir`, and (c) APPENDS the keepers' signatures
    to the store, so later batches dedup against everything kept so
    far. Keeper-only appends keep match semantics stable: a future
    duplicate matches the kept representative, not a dropped copy
    (within a batch, drops still cascade — the operator's documented
    one-join rule).

    Replay safety: both writes go to per-epoch `ingest_batch=<epoch>`
    directories in overwrite mode, so a crashed-and-retried epoch
    rewrites its own output instead of duplicating rows (the
    snapshot-sink idempotence pattern without needing a marker: the
    epoch id IS the partition). The batch is hashed exactly once (its
    prebuilt tables serve both the decision join and the store append).

    Returns a DataStreamWriter (foreachBatch); the caller sets
    checkpointLocation + trigger and starts it. Decisions read back as
    (id, keep, match_id, jaccard) partitioned by ingest_batch."""
    stream = (
        spark.readStream.schema(DOCUMENT_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", int(max_files_per_trigger))
        .parquet(input_dir)
        .select("doc_id", "text")
    )

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        neardup_ingest_epoch(
            batch_df,
            int(epoch_id),
            assets_dir,
            out_dir,
            threshold=threshold,
            n=n,
            num_hashes=num_hashes,
            bands=bands,
        )

    return stream.writeStream.foreachBatch(_apply)


def neardup_ingest_epoch(
    batch_df: DataFrame,
    epoch_id: int,
    assets_dir: str,
    out_dir: str,
    threshold: float = 0.9,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
) -> None:
    """One `stream_neardup_ingest` micro-batch, exposed for direct
    testing of the epoch contract (the foreachBatch closure delegates
    here): probe strictly-earlier store epochs, write decisions, append
    keepers' signatures — all to per-epoch overwrite paths, so a
    re-invocation with the same (batch, epoch) is IDEMPOTENT."""
    from vector_search_test_spark.operators.dedup import (
        incremental_neardup,
        minhash_store,
        minhash_tables,
        minhash_tables_from_store,
    )

    sess = batch_df.sparkSession
    standing = minhash_tables_from_store(
        # STRICTLY-EARLIER epochs only: a retried epoch must not see
        # its own prior attempt's append (every keeper would
        # self-match at jaccard 1.0, flip to keep=0, and the retry's
        # keeper-only append would then erase the signatures) — the
        # replay-safety contract the per-epoch overwrite promises
        sess.read.parquet(assets_dir)
        .filter(F.col("ingest_batch") < F.lit(int(epoch_id)))
        .drop("ingest_batch"),
        n=n,
        num_hashes=num_hashes,
        bands=bands,
    )
    # kernel=False: a micro-batch hashes dozens of rows — the Arrow
    # kernel's per-task setup outweighs the interpreted fold there (r16)
    inc = minhash_tables(
        batch_df, n=n, num_hashes=num_hashes, bands=bands, kernel=False
    )
    dec = incremental_neardup(
        batch_df, standing, threshold=threshold, inc=inc
    ).localCheckpoint()  # consumed by the decision write AND the
    # keeper semi-join; unpinned it would re-run the LSH joins
    dec.write.mode("overwrite").parquet(
        f"{out_dir}/ingest_batch={int(epoch_id)}"
    )
    kept = dec.filter(F.col("keep") == 1).select("id")
    minhash_store(inc).join(kept, "id", "left_semi").write.mode(
        "overwrite"
    ).parquet(f"{assets_dir}/ingest_batch={int(epoch_id)}")


def stream_anomaly_gate(
    spark: SparkSession,
    input_dir: str,
    stats: list[tuple[str, float, float]],
    z: float = 3.0,
) -> DataFrame:
    """Streaming Hampel gate with FROZEN batch-trained robust stats —
    the frozen-centroid pattern (stream_assign_cells) applied to the
    numeric-validation monitor (timeseries.py::value_anomalies):
    `stats` is the batch-side (event_type, median, MAD) table; each
    arriving event is flagged iff |value - med| > z * 1.4826 * mad.
    Entirely stateless (one broadcast stream-static equi-join + a
    codegen filter; no state store, no watermark), so throughput scales
    with cores; at 100 TB/day you refresh `stats` on a batch cadence
    and the stream never re-sorts anything. Emits
    (event_id, event_type, value, med, mad) for flagged rows —
    med/mad rounded 6dp at the edge; the oracle replays the batch
    filter with DuckDB's bit-identical quantile_cont medians."""
    st = spark.createDataFrame(
        [(k, float(m), float(d)) for k, m, d in stats],
        "event_type string, med double, mad double",
    )
    stream = events_stream_source(spark, input_dir).select(
        "event_id", "event_type", "value"
    )
    thresh = F.lit(float(z)) * F.lit(1.4826) * F.col("mad")
    return (
        stream.join(F.broadcast(st), "event_type")
        .filter(F.abs(F.col("value") - F.col("med")) > thresh)
        .select(
            "event_id",
            "event_type",
            "value",
            F.round("med", 6).alias("med"),
            F.round("mad", 6).alias("mad"),
        )
    )


def stream_event_window_counts(
    spark: SparkSession,
    input_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    slide: str | None = None,
) -> DataFrame:
    """Watermarked windowed event counts: the canonical streaming
    aggregation (late rows beyond the watermark are dropped; state is
    bounded by the watermark horizon). `slide=None` is a tumbling
    window; a `slide` shorter than `window` makes it SLIDING — each
    event lands in window/slide overlapping windows (Spark expands the
    row per window before the aggregation, so state grows by the same
    factor; the watermark still bounds it)."""
    ev = events_stream_source(spark, input_dir)
    win = (
        F.window("ts", window, slide) if slide else F.window("ts", window)
    )
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(win.alias("win"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            # decimal sum: exact and summation-order-independent (fixture
            # values have 2 decimals), so the streaming result matches the
            # batch oracle bit-for-bit regardless of micro-batch order
            F.sum(F.col("value").cast("decimal(38,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_ivfpq_encode(
    spark: SparkSession,
    input_dir: str,
    coarse: "list[list[float]]",
    books: "list[list[list[float]]]",
) -> DataFrame:
    """Streaming IVF-PQ `add`: encode arriving vectors into compressed
    (list_id, vec_id, codes) postings against the FROZEN two-level
    quantizer — the same train/add split as `stream_assign_cells`, but
    emitting m-byte codes instead of float vectors (operators/pq.py::
    ivfpq_encode is a stateless Arrow map, so it lifts onto a stream
    unchanged). Write with `.writeStream.partitionBy('list_id')` to grow
    the saved compressed index's inverted-list layout incrementally."""
    from vector_search_test_spark.operators.pq import ivfpq_encode

    stream = (
        spark.readStream.schema(EMBEDDING_STREAM_SCHEMA)
        .parquet(input_dir)
        .select("vec_id", "embedding")
    )
    return ivfpq_encode(stream, coarse, books)


def stream_dedup(
    stream_df: DataFrame,
    keys: "list[str] | tuple[str, ...]",
    watermark_col: str | None = None,
    delay: str | None = None,
) -> DataFrame:
    """Streaming exact deduplication — the ingest-time guard an LLM-data
    pipeline runs on a document firehose (the streaming twin of
    operators/dedup.py::dedup_exact). Emits each key's FIRST arrival
    only; output is the key columns, so the result set equals
    SELECT DISTINCT keys over everything ingested.

    Two state contracts:
    - delay=None: global dedup via `dropDuplicates` — state holds every
      distinct key forever. Correct at any arrival pattern; use when the
      key space is bounded (ids, fingerprints of a bounded catalog).
    - delay='1 hour' (+ watermark_col): `dropDuplicatesWithinWatermark`
      — state for a key is dropped once the watermark passes its event
      time + delay, so state is bounded by the watermark horizon (the
      100 TB continuous-ingest story). The guarantee weakens exactly as
      documented upstream: a duplicate arriving AFTER its original's
      state expired is re-emitted (pinned in
      tests/test_stream_dedup.py), which downstream exact dedup
      compacts — the streaming stage is a state-bounded prefilter."""
    if delay is None:
        return stream_df.dropDuplicates(list(keys)).select(*keys)
    if watermark_col is None:
        raise ValueError("delay requires watermark_col")
    return (
        stream_df.withWatermark(watermark_col, delay)
        .dropDuplicatesWithinWatermark(list(keys))
        .select(*keys)
    )


def stream_dedup_event_keys(
    spark: SparkSession,
    input_dir: str,
    keys: "tuple[str, ...]" = ("user_id", "event_type"),
    delay: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """`stream_dedup` over the events stream source (flavor-normalized
    ts): distinct (user_id, event_type) first arrivals."""
    ev = events_stream_reader(
        spark, input_dir, max_files_per_trigger=max_files_per_trigger
    )
    return stream_dedup(ev, keys, watermark_col="ts", delay=delay)


def stream_enriched_segment_counts(
    spark: SparkSession,
    input_dir: str,
    customer: DataFrame,
) -> DataFrame:
    """Stream-static join + aggregation: arriving events are enriched
    against the static customer dimension (events.user_id =
    c_custkey) and rolled up per market segment — the canonical
    "enrich the firehose with a dimension table" pattern. The static
    side rides an explicit broadcast, so each micro-batch plans a
    BroadcastHashJoin with no stream-side shuffle before the
    aggregation; Structured Streaming re-resolves the static relation
    per micro-batch, so a dimension refresh is picked up without
    restarting the query. Value sums use decimal (exact, order-free)
    cast back to double, like the windowed aggregation."""
    ev = events_stream_source(spark, input_dir)
    dim = customer.select("c_custkey", "c_mktsegment")
    return (
        ev.join(F.broadcast(dim), ev.user_id == dim.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,2)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


def stream_click_purchase_join(
    spark: SparkSession,
    input_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-STREAM join with an event-time range constraint:
    purchases matched to same-user clicks that happened within `window`
    before them — the streaming twin of the batch interval/as-of ops
    (operators/timeseries.py). Both sides carry watermarks and the join
    condition bounds event time, so each side's state is dropped once
    the watermark passes its possible-match horizon (bounded state; the
    correctness requirement is watermark delay >= window, else a
    match's partner could be evicted before it arrives). Drained with
    availableNow the emitted pairs equal the batch inner join exactly.
    Returns (user_id, purchase_id, click_id).

    how='left_outer' additionally emits every unmatched purchase with a
    NULL click_id — but an outer row only materializes when the
    watermark passes the purchase's match horizon (its state eviction),
    so a drained outer join needs the input dir to carry the far-future
    drain sentinel (stateful._ensure_drain_sentinel, the same finality
    mechanism the session flush uses): the sentinel rides BOTH streams
    to advance both watermarks and joins only itself (same user, same
    instant). The CALLER must filter user_id = stateful.SENTINEL_USER_ID
    from the drained RESULT — it cannot be filtered inside this plan,
    because Catalyst pushes the predicate (and, via the p_user = c_user
    join constraint, its inferred twin on the click side) beneath BOTH
    watermark nodes, silently removing the sentinel before event-time
    tracking and defeating the drain (observed: the trailing
    watermark-delay window of purchases never emitted)."""
    types = ("sentinel",) if how != "inner" else ()
    purchases = (
        events_stream_reader(spark, input_dir)
        .filter(F.col("event_type").isin("purchase", *types))
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    clicks = (
        events_stream_reader(spark, input_dir)
        .filter(F.col("event_type").isin("click", *types))
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    joined = purchases.join(
        clicks,
        F.expr(
            f"""
            p_user = c_user AND
            click_ts BETWEEN purchase_ts - INTERVAL {window}
                         AND purchase_ts
            """
        ),
        how,
    )
    return joined.select(
        F.col("p_user").alias("user_id"), "purchase_id", "click_id"
    )


def run_stream_to_parquet(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    partition_by: str | None = None,
    output_mode: str = "append",
) -> None:
    """Run a streaming query with availableNow (drain the source, then
    stop) — the batch-equivalent execution used by tests and backfills."""
    writer = (
        stream_df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    if partition_by:
        writer = writer.partitionBy(partition_by)
    q = writer.start()
    q.awaitTermination()
