"""SparkSession factory with scale-aware defaults.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` (default 32 threads in one
JVM); the same config block is what we would ship to a 1000-executor
cluster — AQE handles runtime re-planning (partition coalescing, skew-join
splitting, broadcast demotion/promotion), so the static numbers here are
starting points, not load-bearing constants.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "artis-data-ingest-spark") -> SparkSession:
    """Build (or fetch) the session.

    Config rationale for 100 TB scale:
      * AQE on: coalesces small shuffle partitions, splits skewed ones,
        and converts sort-merge joins to broadcast when the runtime size
        of a side turns out small — all decisions we cannot make
        statically for 100 TB inputs.
      * ``spark.sql.shuffle.partitions``: sized to cores locally; on a
        real cluster AQE's coalescing makes the initial number mostly
        irrelevant as long as it is high enough (set ~2-3x total cores).
      * Arrow enabled: every pandas_udf / toPandas crosses the JVM-Python
        boundary in columnar Arrow batches instead of pickled rows.
      * Session timezone pinned to UTC so event-time semantics are
        deterministic and match the DuckDB oracle's naive timestamps.
      * ``spark.sql.codegen.cache.maxEntries`` = 1000 (Spark's default is
        100): the least-recently-used cache of compiled generated classes
        must hold a job's working set, or every repeat of the job
        recompiles it.  One ``corpus_build`` job (quality gates,
        boilerplate strip, exact, near and semantic dedup) needs 188
        distinct classes, so at 100 each warm job recompiled 181–183 of
        them; 1000 holds more than five such jobs, and a warm job then
        compiles none.  A static conf: it is read when the context
        starts, so it must be on the builder.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bound Arrow batch size so MB-scale binary rows (multimodal)
        # can't blow a Python worker's memory in one batch
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        # pyspark 4.x infers parquet timestamps as TIMESTAMP_NTZ by default,
        # which unix_micros() and streaming watermarks reject; session tz is
        # pinned UTC above so plain TIMESTAMP has identical semantics here.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # let Python data sources receive pushed filters (r13): the
        # versioned_feed snapshot reader prunes data files from the
        # manifest's stats/blooms when a query filters on it
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    return builder.getOrCreate()
