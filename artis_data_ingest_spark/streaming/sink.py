"""Streaming → parquet sink via foreachBatch (SURVEY.md §2.10).

Structured Streaming's parquet sink is append-only; production
pipelines use ``foreachBatch`` for idempotent replays: each micro-batch
writes (overwrite) into its own ``batch_id=N`` directory, so a batch
replayed after a failure rewrites the same directory instead of
duplicating rows — exactly-once table output on top of at-least-once
delivery, with the checkpoint carrying the batch progression.

Readers get the batch id as a normal hive partition column (pruneable),
and a compaction job can fold old batch directories into date
partitions with ``sinks/parquet.write_partitioned``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def batch_writer(path: str):
    """foreachBatch callback: idempotent per-batch overwrite."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            f"{path}/batch_id={batch_id}"
        )

    return _write


def start_parquet_stream(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    trigger_once: bool = True,
):
    """Wire a streaming DataFrame to the idempotent parquet sink.
    ``trigger_once`` processes all available input then stops — the
    batch-incremental mode a scheduled 100 TB ingest job runs in."""
    w = (
        stream_df.writeStream.foreachBatch(batch_writer(path))
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_once:
        w = w.trigger(availableNow=True)
    return w.start()


def compact_batches(
    spark,
    src: str,
    dst: str,
    partition_cols: list[str],
    sort_cols: list[str] | None = None,
) -> None:
    """Fold the sink's accumulated ``batch_id=N`` directories into a
    properly partitioned table (the compaction job the docstring above
    promises): read everything, drop the ingestion-batch column, and
    rewrite via the partitioned writer. Run on a schedule, this bounds
    small-file growth from frequent micro-batches; the sink keeps
    accepting new batches into ``src`` meanwhile, and the next
    compaction run picks them up (overwrite keeps the job idempotent).
    """
    from ..sinks.parquet import write_partitioned

    df = spark.read.parquet(src).drop("batch_id")
    write_partitioned(df, dst, partition_cols, sort_cols=sort_cols)


def versioned_batch_writer(table_dir: str, on_violation: str = "error"):
    """foreachBatch callback committing each micro-batch as an APPEND
    version of a versioned table (sinks/versioned.py) — streaming
    ingestion with a time-travelable commit log.

    ``on_violation`` (r13) passes through to ``commit()`` for tables
    carrying CHECK constraints: the default ``"error"`` fails the
    stream on a violating batch (Delta's behavior); ``"quarantine"``
    commits the valid rows and records the violators in the manifest
    (sinks/versioned.py:quarantined_rows) — streaming ingest where one
    bad record must neither stall the pipeline nor silently vanish.

    Exactly-once on top of at-least-once replay: the batch id rides in
    the commit note (``batch=N``) AND, after a successful commit, in a
    marker file under ``_batch_commits/`` that ``expire()`` never
    touches — so replay dedup survives retention windows shorter than
    the replay window (a manifest-note-only scan would re-commit a
    replayed batch whose manifest was expired, duplicating rows).  A
    replayed batch hits the marker (or, for a crash between commit and
    marker, the manifest note) and SKIPS.  Both checks are driver-side
    metadata — a stat + a manifest walk — never a data read.
    """
    import os

    from ..sinks.versioned import (
        _walk_manifests,
        commit,
        latest_version,
    )

    markers = os.path.join(table_dir, "_batch_commits")

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        note = f"batch={batch_id}"
        marker = os.path.join(markers, str(batch_id))
        if os.path.exists(marker):
            return  # replayed batch: already committed (retention-proof)
        # manifest-note fallback covers a crash between commit() and
        # the marker write; _walk_manifests stops cleanly at an expired
        # parent, scanning the retained suffix
        for m in _walk_manifests(table_dir):
            if m["note"] == note:
                os.makedirs(markers, exist_ok=True)
                open(marker, "w").close()  # heal the missing marker
                return
        cur = latest_version(table_dir)
        commit(
            batch_df,
            table_dir,
            mode="append" if cur is not None else "overwrite",
            note=note,
            expect_version=cur,
            on_violation=on_violation,
        )
        os.makedirs(markers, exist_ok=True)
        open(marker, "w").close()

    return _write


def start_versioned_stream(
    stream_df: DataFrame,
    table_dir: str,
    checkpoint: str,
    trigger_once: bool = True,
):
    """Wire a streaming DataFrame to the versioned-table sink."""
    w = (
        stream_df.writeStream.foreachBatch(versioned_batch_writer(table_dir))
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_once:
        w = w.trigger(availableNow=True)
    return w.start()


def versioned_merge_writer(
    table_dir: str,
    keys: list[str],
    delete_col: str | None = None,
):
    """foreachBatch callback MERGING each micro-batch into a versioned
    table (sinks/versioned.py merge_commit) — streaming CDC upserts
    with a time-travelable commit log, the missing half of
    :func:`versioned_batch_writer` (which can only append).  The first
    batch bootstraps the table (an overwrite of the batch's upsert
    rows, delete-flagged rows dropped); every later batch is one
    merge_commit: its matched rows mask behind a deletion vector and
    its surviving rows append as one segment, so a batch costs
    O(batch), ``change_feed`` surfaces exactly each batch's delta,
    ``read_version`` reconstructs any intermediate state, and the
    streaming ``readChangeFeed`` decomposes every merged batch into
    delete + insert events.

    Exactly-once via the same retention-proof ``_batch_commits/``
    markers as the append writer: a replayed batch re-merging would
    NOT be idempotent (a delete flag would try to re-delete, an
    increment-style source would double-apply), so the marker check is
    load-bearing here, not just an optimization."""
    import os

    from pyspark.sql import functions as F

    from ..sinks.versioned import (
        _walk_manifests,
        commit,
        latest_version,
        merge_commit,
    )

    markers = os.path.join(table_dir, "_batch_commits")

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        marker = os.path.join(markers, str(batch_id))
        if os.path.exists(marker):
            return  # replayed batch: already merged
        note = f"batch={batch_id}"
        # crash-between-commit-and-marker fallback (see append writer)
        for m in _walk_manifests(table_dir):
            if m["note"] == note:
                os.makedirs(markers, exist_ok=True)
                open(marker, "w").close()
                return
        if latest_version(table_dir) is None:
            first = batch_df
            if delete_col is not None:
                first = first.filter(
                    ~F.coalesce(F.col(delete_col), F.lit(False))
                ).drop(delete_col)
            commit(first, table_dir, mode="overwrite", note=note,
                   expect_version=None)
        else:
            merge_commit(
                batch_df.sparkSession, table_dir, batch_df,
                keys=keys, delete_col=delete_col, note=note,
            )
        os.makedirs(markers, exist_ok=True)
        open(marker, "w").close()

    return _write


def start_versioned_merge_stream(
    stream_df: DataFrame,
    table_dir: str,
    checkpoint: str,
    keys: list[str],
    delete_col: str | None = None,
    trigger_once: bool = True,
):
    """Wire a CDC-style streaming DataFrame (upsert rows keyed by
    ``keys``, optional delete flags) to the versioned MERGE sink."""
    w = (
        stream_df.writeStream.foreachBatch(
            versioned_merge_writer(table_dir, keys, delete_col)
        )
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_once:
        w = w.trigger(availableNow=True)
    return w.start()
