"""SparkSession factory.

Single place where execution knobs live so tests/bench/driver all get the
same tuned session. Designed for local[N] testing but every setting is
cluster-safe (AQE, Arrow, shuffle-partition sizing).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_session(
    app_name: str = "vector-search-test-spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    - AQE on: post-shuffle coalescing + skew-join splitting (IVF cell sizes
      are Zipf-ish, SURVEY §4 X1/X5 — skew on `list_id` is expected).
    - Arrow on: the embed UDF (F1) and any mapInPandas paths batch via Arrow.
    - shuffle partitions default 32 to match local[32]; a real cluster would
      set this to ~2-3x total cores (or rely on AQE coalescing from a high
      initial value).
    - Python workers run the `vector_search_test_spark.worker` daemon:
      PySpark's worker invalidates the import caches on every task, which
      made each task re-read the whole directory of pyspark.zip, the py4j
      zip and the spark-core jar (0.1-0.4 s a task against a kernel of a
      few ms); the daemon re-reads an archive only when it changed. The
      package's parent directory goes on the workers' PYTHONPATH, so the
      daemon and every package kernel import from any working directory.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Wide codegen (unrolled vector distances) compiles a fresh class
        # per distinct plan; the JVM's default 240m reserved code cache
        # fills over a long session, silently disabling the JIT and making
        # everything ~10x slower. 1g + flushing keeps the JIT alive across
        # a 40+-plan bench session.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "vector_search_test_spark.worker")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
