"""Snapshot-diff operators — the reference's core capability.

The reference aligns two directory snapshots of files by a standardized
name key, flags presence on each side, computes size deltas, then deep-
diffs each aligned pair at row-count/schema/type level
(``assess_changes.qmd:82-185``). Here that becomes:

  * ``union_tag``        — E2: tagged UNION ALL of two listings
  * ``snapshot_align``   — J1: full-outer join on the standardized key
                           (the reference spells it ``pivot_wider``)
  * ``pivot_align``      — J1 literal form: groupBy().pivot().agg(first)
  * ``dataset_diff``     — U1: metadata diff of two DataFrames (counts,
                           added/removed columns, per-column type
                           changes) as a lazy 1-row DataFrame with
                           array/struct columns

Scale notes: `snapshot_align` joins two *file-listing* tables — small
even when the data they point at is 100 TB — so Catalyst broadcast
handles them. ``dataset_diff`` is the one-pair case of ``_diff_pairs``,
which diffs any number of pairs as one plan: schema facts are driver-
side literals, and every side's row count comes from one grouped
aggregate over the union of all sides, computed when the result is
materialized, so the Spark jobs do not grow with the number of pairs.
"""

from __future__ import annotations

import functools
import json

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def union_tag(
    new_df: DataFrame, old_df: DataFrame, tag_col: str = "directory"
) -> DataFrame:
    """E2 — union with provenance tag (assess_changes.qmd:82-86):
    ``tibble(files = c(new, old), directory = rep(c("new","old")))``."""
    return new_df.withColumn(tag_col, F.lit("new")).unionByName(
        old_df.withColumn(tag_col, F.lit("old"))
    )


def snapshot_align(
    old_df: DataFrame,
    new_df: DataFrame,
    key: str,
    value_cols: list[str] | None = None,
) -> DataFrame:
    """J1 — align old vs new rows per key; absent side → NULL.

    Idiomatic-Spark form of the reference's ``pivot_wider(id_cols =
    files_std, names_from = directory, values_from = full_path)``
    (assess_changes.qmd:97-103) plus the existence flags of
    ``:104-106``: a full-outer join keeps Catalyst free to pick
    broadcast/SMJ and needs no wide shuffle of a stacked table.
    """
    value_cols = value_cols or [c for c in old_df.columns if c != key]
    o = old_df.select(key, *[F.col(c).alias(f"{c}_old") for c in value_cols])
    n = new_df.select(key, *[F.col(c).alias(f"{c}_new") for c in value_cols])
    probe = value_cols[0]
    return (
        o.join(n, on=key, how="full_outer")
        .withColumn("exists_in_old", F.col(f"{probe}_old").isNotNull())
        .withColumn("exists_in_new", F.col(f"{probe}_new").isNotNull())
    )


def pivot_align(
    stacked: DataFrame,
    key: str,
    tag_col: str = "directory",
    value_col: str = "full_path",
    tags: tuple[str, str] = ("new", "old"),
) -> DataFrame:
    """J1 literal form — ``groupBy(key).pivot(directory).agg(first)``.

    The reference's pivot silently assumes one value per (key, tag)
    cell (SURVEY.md §4.3 trap: R would emit list-cols on dupes, Spark
    ``first`` silently picks one). We use ``max`` instead of ``first``
    so the result is deterministic even on dirty input.
    """
    return (
        stacked.groupBy(key)
        .pivot(tag_col, list(tags))
        .agg(F.max(value_col))
    )


def size_delta(aligned: DataFrame, size_old: str, size_new: str) -> DataFrame:
    """Size-delta annotation (assess_changes.qmd:107-114): sizes only
    where the side exists, delta only where both do (P11 conditionals).
    """
    both = F.col("exists_in_old") & F.col("exists_in_new")
    return aligned.withColumn(
        "size_change_mb",
        F.when(both, F.col(size_new) - F.col(size_old)).otherwise(
            F.lit(None).cast("double")
        ),
    )


# Per-pair schema facts, known on the driver before any data is read.
_PAIR_FACTS = (
    "array<struct<files_std:string, ncol_old:int, ncol_new:int,"
    " added_cols:array<string>, removed_cols:array<string>,"
    " type_changes:array<struct<column:string, old_type:string,"
    " new_type:string>>>>"
)


def _diff_pairs(
    spark: SparkSession, pairs: list[tuple[str, DataFrame, DataFrame]]
) -> DataFrame:
    """Diff every ``(key, old_df, new_df)`` pair as one lazy plan, one
    row per pair in input order: ``files_std`` (the key), row counts
    and their difference, column counts, added/removed column names and
    the per-column type changes.

    Column facts come from each side's ``dtypes`` on the driver and
    enter the plan as one JSON literal. Row counts come from one aggregate:
    every side becomes ``(pair, is_old)`` rows, plus one marker row per
    pair so an empty side still counts 0, grouped by pair index (two
    pairs may share a key).
    """
    facts, sides = [], []
    for i, (key, old_df, new_df) in enumerate(pairs):
        old_types = dict(old_df.dtypes)
        new_types = dict(new_df.dtypes)
        facts.append({
            "files_std": key,
            "ncol_old": len(old_types),
            "ncol_new": len(new_types),
            "added_cols": sorted(set(new_types) - set(old_types)),
            "removed_cols": sorted(set(old_types) - set(new_types)),
            "type_changes": [
                {"column": c, "old_type": old_types[c], "new_type": new_types[c]}
                for c in sorted(set(old_types) & set(new_types))
                if old_types[c] != new_types[c]
            ],
        })
        sides += [
            old_df.select(F.lit(i).alias("pair"), F.lit(True).alias("is_old")),
            new_df.select(F.lit(i).alias("pair"), F.lit(False).alias("is_old")),
        ]
    markers = spark.range(0, len(pairs), 1, 1).select(
        F.col("id").cast("int").alias("pair"),
        F.lit(None).cast("boolean").alias("is_old"),
    )
    counts = (
        functools.reduce(DataFrame.union, sides, markers)
        .groupBy("pair")
        .agg(
            F.count_if(F.col("is_old")).alias("nrow_old"),
            F.count_if(~F.col("is_old")).alias("nrow_new"),
        )
    )
    # constant folding turns the JSON into an array literal once
    fact = F.from_json(F.lit(json.dumps(facts)), _PAIR_FACTS)[F.col("pair")]
    # one partition: a local sort restores input order without the
    # sampling job a global orderBy would add
    return (
        counts.coalesce(1)
        .sortWithinPartitions("pair")
        .select(
            fact["files_std"].alias("files_std"),
            "nrow_old",
            "nrow_new",
            (F.col("nrow_new") - F.col("nrow_old")).alias("row_diff"),
            *[
                fact[c].alias(c)
                for c in ("ncol_old", "ncol_new", "added_cols",
                          "removed_cols", "type_changes")
            ],
        )
    )


def dataset_diff(
    spark: SparkSession, old_df: DataFrame, new_df: DataFrame
) -> DataFrame:
    """U1 — ``compare_files`` (assess_changes.qmd:127-176) as a
    metadata op, NOT a UDF (SURVEY.md §7.3 #3): each comparison names
    two *datasets*, so schema introspection is driver-side metadata and
    only the row counts touch data.

    Returns a lazy 1-row DataFrame mirroring the reference's named
    list: row counts/diff (qmd:145-147), added/removed columns via set
    difference of names (qmd:151-158), and the nested per-column
    type-change table (qmd:160-174) as ``array<struct>``. Building it
    runs no Spark job; both row counts are computed, in one aggregate,
    when the result is materialized. Each side is scanned with no
    columns, as ``count()`` would.
    """
    return _diff_pairs(spark, [("", old_df, new_df)]).drop("files_std")


def column_set_diff(
    old_df: DataFrame, new_df: DataFrame, col: str, alias: str
) -> DataFrame:
    """E3 — values of ``col`` present in old but not new
    (``setdiff(unique(old$c), unique(new$c))``,
    assess_changes.qmd:335-338). R setdiff is distinct, so ``except``
    (distinct), not ``exceptAll`` (SURVEY.md §4.3)."""
    return (
        old_df.select(F.col(col).alias(alias))
        .distinct()
        .exceptAll(new_df.select(F.col(col).alias(alias)).distinct())
    )
