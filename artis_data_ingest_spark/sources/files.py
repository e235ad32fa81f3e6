"""File-system sources (SURVEY.md §2.1 S5-S8).

The reference walks snapshot directories with ``list.dirs``/``list.files``
and stats each file (``assess_changes.qmd:50-79, 107-112``). Spark-first
replacement: the ``binaryFile`` source, which lists recursively in a
distributed job and yields path/length/modificationTime columns natively
— no per-row filesystem UDF (the reference's ``file.info`` per row is a
driver-side N× stat storm).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.strings import basename, standardize_key


def list_files(
    spark: SparkSession,
    root: str,
    glob: str | None = None,
    recursive: bool = True,
    with_content: bool = False,
) -> DataFrame:
    """S5/S6/S7 — recursive listing with metadata columns.

    Returns path, length (bytes), modificationTime; content only when
    asked (binaryFile reads file bytes lazily per-row, but dropping the
    column early lets Catalyst prune it from the scan entirely —
    verified via ReadSchema in .explain).
    """
    reader = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", str(recursive).lower())
    )
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(root)
    cols = ["path", "length", "modificationTime"]
    if with_content:
        cols.append("content")
    return df.select(*cols)


def file_inventory(
    spark: SparkSession,
    root: str,
    name_regex: str | None = None,
    directory_tag: str | None = None,
) -> DataFrame:
    """The reference's snapshot-listing table (assess_changes.qmd:82-94):
    one row per file with basename, optional provenance tag, size in MB,
    and the standardized join key.

    ``name_regex`` reproduces ``scan_dir``'s pattern filter
    (assess_changes.qmd:72-79); it is applied post-listing with rlike so
    it can be any regex, not just a glob.
    """
    df = list_files(spark, root).select(
        F.col("path").alias("full_path"),
        basename("path").alias("files"),
        (F.col("length") / 1e6).alias("size_mb"),
        standardize_key("path").alias("files_std"),
    )
    if name_regex:
        df = df.filter(F.col("files").rlike(name_regex))
    if directory_tag is not None:
        df = df.withColumn("directory", F.lit(directory_tag))
    return df


def read_csv_inferred(
    spark: SparkSession, path: str, **options: str
) -> DataFrame:
    """S8 — CSV with header + schema inference (``fread``,
    assess_changes.qmd:128-129).

    Inference costs two one-task jobs per file at read time (the header
    line, then the inference pass); at 100 TB, pass an explicit schema
    or point this at a small sample first. Kept inference-on to match
    the reference's schema-tolerant behavior (SURVEY.md §1.3)."""
    return spark.read.csv(path, header=True, inferSchema=True, **options)


def transparent_decompress(blob: bytes) -> bytes:
    """Magic-byte transparent decompression for single-file payloads
    (r14): real-world text corpora arrive wrapped — mailing-list
    archives as ``.mbox.gz`` (pipermail), Wikipedia dumps as
    ``.xml.bz2``, long-retention exports as ``.xz``.  gzip / bzip2 /
    xz unwrap via the stdlib; anything else passes through untouched.
    Multi-member gzip streams (cat'd archives) decode fully —
    ``gzip.decompress`` handles member concatenation."""
    if blob[:2] == b"\x1f\x8b":
        import gzip

        return gzip.decompress(blob)
    if blob[:3] == b"BZh":
        import bz2

        return bz2.decompress(blob)
    if blob[:6] == b"\xfd7zXZ\x00":
        import lzma

        return lzma.decompress(blob)
    return blob
