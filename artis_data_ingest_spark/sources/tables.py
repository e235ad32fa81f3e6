"""Parquet fixture-table loaders (SURVEY.md §2.1 S14).

The reference ingests CSV/XLSX/zip snapshots eagerly with inferred
schemas (``assess_changes.qmd:128-139``); our at-rest format is Parquet,
which gives Catalyst column pruning + predicate pushdown for free — the
two optimizations the reference's read-everything ``fread`` lacks
(SURVEY.md §4.1).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
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
)


def _footer_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers, built on the
    driver from one footer by Spark's own converter under the session's
    conf (``nanosAsLong``, ``inferTimestampNTZ``, ...) — the inference
    without its one-task Spark job.  A directory is read by its first
    data file, as Spark does without ``mergeSchema``."""
    if os.path.isdir(path):
        path = os.path.join(path, min(
            f for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        ))
    jvm, state = spark._jvm, spark._jsparkSession.sessionState()
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    hadoop = jvm.org.apache.parquet.hadoop
    footer = hadoop.Footer(
        hpath, hadoop.ParquetFileReader.readFooter(state.newHadoopConf(), hpath)
    )
    parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
    schema = parquet.ParquetFileFormat.readSchemaFromFooter(
        footer, parquet.ParquetToSparkSchemaConverter(state.conf())
    )
    return StructType.fromJson(json.loads(schema.json()))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy scan of one fixture table, its schema read from the file's
    footer on the driver (:func:`_footer_schema`), so building the
    frame runs no Spark job.

    At 100 TB these would be partitioned/bucketed datasets; a plain
    ``spark.read.parquet`` still scales because file listing and split
    planning are distributed, and filters/projections applied downstream
    push into the scan (verify with ``.explain``: ``PushedFilters``,
    ``ReadSchema``).
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # events.ts is TIMESTAMP(NANOS) parquet, which Spark rejects.
        # Read nanos as long, then floor-convert to microsecond
        # timestamps (integer DIV — double math would lose precision
        # above 2^53 ns). DuckDB's CAST(ts AS TIMESTAMP) truncates the
        # same way, so oracle comparisons stay exact.
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            # Spark can refuse runtime changes to this static-ish conf
            # (AnalysisException: CANNOT_MODIFY_CONFIG) once a query ran;
            # harmless either way — the dtype dispatch below handles both
            # the bigint (conf took effect) and timestamp outcomes.
            pass
    df = spark.read.schema(_footer_schema(spark, path)).parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    # A session with spark.sql.parquet.inferTimestampNTZ.enabled reads
    # naive parquet timestamps as TIMESTAMP_NTZ, which unix_micros(),
    # streaming watermarks and the lake/stream readers reject.  Session
    # tz is pinned UTC, so the cast is value-identical and the DuckDB
    # oracle (naive timestamps) still matches.  Tables without such a
    # column keep the bare scan.
    ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if ntz:
        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}
