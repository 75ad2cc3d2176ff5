"""Fixture/table loaders.

The driver fixtures live at /root/testdata/sf{0.001,0.01,0.1}/<table>.parquet
(see FIXTURES.md). Loaders are thin: `spark.read.parquet` already gives
column pruning + predicate pushdown; do NOT collect or cache here.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # events.ts has shipped in two fixture flavors: TIMESTAMP(NANOS)
        # (which Spark rejects unless read as raw longs via
        # spark.sql.legacy.parquet.nanosAsLong) and plain timestamp[us].
        # Detect by the inferred Spark type and normalize both to
        # TimestampType at microsecond precision — the precision
        # DuckDB/Python datetimes carry, so oracles agree either way.
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if isinstance(df.schema["ts"].dataType, T.LongType):
            # nanos flavor: integer division, NOT `/ 1000` + cast: nano
            # epochs exceed 2^53, so double division rounds the last
            # microsecond while DuckDB's CAST truncates — a 1 µs
            # disagreement wherever raw timestamps reach the output
            return df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        # micros flavor arrives as TIMESTAMP_NTZ; cast to the session-tz
        # (UTC) TimestampType every downstream operator expects —
        # wall-clock values are preserved
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def spread(df: DataFrame, *key_cols: str) -> DataFrame:
    """Repartition `df` up to the cluster's parallelism — only when the
    source has fewer partitions than cores.

    A small parquet table arrives in as many partitions as it has files
    (often 1-2); every narrow stage downstream then runs on 1-2 cores no
    matter how wide the cluster is. Compute-heavy per-row work (shingle
    hashing, signature projection) needs the rows spread first. At real
    scale the input already has >= cores partitions and this is a no-op —
    it never *reduces* partitioning.
    """
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() >= sc.defaultParallelism:
        return df
    from pyspark.sql import functions as F

    if key_cols:
        return df.repartition(sc.defaultParallelism, *[F.col(c) for c in key_cols])
    return df.repartition(sc.defaultParallelism)
