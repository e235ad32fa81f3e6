"""End-to-end snapshot changelog — the reference's flagship pipeline
(``assess_changes.qmd`` entry point 2, SURVEY.md §3.2) rebuilt Spark-
first.

Stages (mirroring qmd chunk order):
  1. inventory both snapshot roots (binaryFile listing, S5-S7)
  2. standardize filename keys (F1-F6)
  3. full-outer align old vs new with existence flags + size deltas
     (J1, assess_changes.qmd:97-114)
  4. pair filter: both present + same data format (P4/P5, qmd:117-123)
  5. deep diff each pair: counts / schema / types (U1, qmd:127-185)

Stages 1-3 list both roots in one Spark job and align the listings on
the driver into a local table (one row per file); stage 4 filters that
table without a job.  Stage 5 (the reference's ``map2(compare_files)``)
opens each side of every comparable pair with the reader (each row
*names two datasets* — see SURVEY.md §7.3 #3).  The sides are opened
concurrently from a thread pool: each open is mostly driver planning
and py4j waits around one or two small Spark jobs (a CSV side's header
and schema-inference passes), so overlapping them keeps the cores busy.
All pairs are then diffed as one lazy plan: schema facts are
driver-side literals and every row count comes from one aggregate, so
the Spark jobs the diff costs do not grow with the number of pairs.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.files import file_inventory, read_csv_inferred
from .diff import _diff_pairs


#: the file-level log (FIXTURES.md B2 schema)
_LOG_SCHEMA = pa.schema([
    ("files_std", pa.string()),
    ("new", pa.string()),
    ("old", pa.string()),
    pa.field("exists_in_old", pa.bool_(), nullable=False),
    pa.field("exists_in_new", pa.bool_(), nullable=False),
    ("size_old_mb", pa.float64()),
    ("size_new_mb", pa.float64()),
    ("size_change_mb", pa.float64()),
])


def file_level_log(
    spark: SparkSession,
    old_dir: str,
    new_dir: str,
    name_regex: str | None = None,
) -> DataFrame:
    """Stages 1-3: the aligned file-level changelog
    (FIXTURES.md B2 schema), listed when called and returned as a local
    table ordered by ``files_std``.

    Both inventories come back in one Spark job.  A listing holds one
    row per file, so the full-outer alignment on the standardized key
    (J1: every old x new file sharing a key, and NULLs for a side that
    lacks it) and the size deltas run on the driver; as a Spark join
    they would cost three more jobs each time the log is read.
    """
    listing = (
        file_inventory(spark, old_dir, name_regex)
        .select("files_std", "full_path", "size_mb", F.lit("old").alias("side"))
        .union(
            file_inventory(spark, new_dir, name_regex)
            .select("files_std", "full_path", "size_mb", F.lit("new").alias("side"))
        )
        .collect()
    )
    by_key: dict[str, dict[str, list]] = {}
    for r in listing:
        by_key.setdefault(r.files_std, {"old": [], "new": []})[r.side].append(r)
    rows = []
    for key in sorted(by_key):
        for o in by_key[key]["old"] or [None]:
            for n in by_key[key]["new"] or [None]:
                rows.append({
                    "files_std": key,
                    "new": n.full_path if n else None,
                    "old": o.full_path if o else None,
                    "exists_in_old": o is not None,
                    "exists_in_new": n is not None,
                    "size_old_mb": o.size_mb if o else None,
                    "size_new_mb": n.size_mb if n else None,
                    "size_change_mb": n.size_mb - o.size_mb if o and n else None,
                })
    return spark.createDataFrame(pa.Table.from_pylist(rows, schema=_LOG_SCHEMA))


def comparable_pairs(log: DataFrame) -> DataFrame:
    """Stage 4 (qmd:117-123): both sides present and format-matched
    (csv-csv, or xlsx/xls on both sides), the P4 compound predicate."""
    csv = lambda c: F.col(c).rlike(r"(?i)\.csv$")  # noqa: E731
    xlsx = lambda c: F.col(c).rlike(r"(?i)\.xlsx?$")  # noqa: E731
    return log.filter(
        F.col("exists_in_old")
        & F.col("exists_in_new")
        & ((csv("old") & csv("new")) | (xlsx("old") & xlsx("new")))
    )


def default_pair_reader(spark: SparkSession, path: str) -> DataFrame:
    """Per-extension dispatch mirroring the reference's ``compare_files``
    reader choice (assess_changes.qmd:127-139): ``fread`` for csv,
    ``read_xlsx(skip = 1)`` for xlsx, and the same skip for a legacy
    binary ``.xls`` (BIFF8).  Anything else is a loud error —
    ``comparable_pairs`` only admits csv-csv / spreadsheet-spreadsheet
    pairs, so an unknown extension here means a caller bug, not data."""
    lower = path.lower()
    if lower.endswith(".csv"):
        return read_csv_inferred(spark, path)
    if lower.endswith(".xlsx"):
        from ..sources.excel import read_excel

        return read_excel(spark, path, skip_rows=1)
    if lower.endswith(".xls"):
        from ..sources.xls import read_xls

        return read_xls(spark, path, skip_rows=1)
    raise ValueError(f"no reader for file extension of {path!r}")


def assess_changes(
    spark: SparkSession,
    old_dir: str,
    new_dir: str,
    name_regex: str | None = None,
    reader=None,
) -> tuple[DataFrame, DataFrame]:
    """Full pipeline: returns (file_level_log, pair_diffs).

    ``pair_diffs`` is lazy, in the log's row order: one row per
    comparable pair with the full dataset_diff struct columns flattened
    beside the key (the reference's ``unnest_wider(comparison)``,
    qmd:182-185).

    ``reader(path)`` is called once per side of every comparable pair,
    concurrently from a thread pool, so it must be thread-safe.  Each
    call runs under a copy of the caller's local properties (job group,
    description, scheduler pool) and session tags, so whoever groups,
    traces or cancels the caller's jobs also owns the reader's; a
    reader that sets a property changes only its own call's copy.
    """
    reader = reader or (lambda p: default_pair_reader(spark, p))
    log = file_level_log(spark, old_dir, new_dir, name_regex)
    pairs = comparable_pairs(log).select("files_std", "old", "new").collect()

    with ThreadPoolExecutor() as pool:
        # wrapped once per side, in this thread: a wrapper captures one
        # properties object and installs that same object wherever it runs
        futures = [
            pool.submit(inheritable_thread_target(spark)(reader), path)
            for r in pairs for path in (r.old, r.new)
        ]
        frames = [f.result() for f in futures]
    sides = zip(pairs, frames[::2], frames[1::2])
    return log, _diff_pairs(spark, [(r.files_std, o, n) for r, o, n in sides])
