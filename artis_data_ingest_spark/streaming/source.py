"""Versioned-table CHANGE-FEED as a first-class Structured Streaming
SOURCE, via the PySpark 4 Python Data Source API — the read half of
the loop whose write half already exists (streaming/sink.py commits
micro-batches INTO versioned tables; this streams the commits back
OUT).  ``spark.readStream.format("versioned_feed")`` turns every
downstream consumer — the feed-driven index maintenance, the CDC MERGE
sink, a quality-scoring pipeline — into a plain streaming query with
engine-managed, checkpointed offsets instead of a hand-rolled cursor
file.

Design (scale-shaped, not driver-shaped):

  * OFFSETS are versions: ``{"version": N}`` means "everything up to
    and including commit N has been emitted".  initialOffset honours a
    ``startingVersion`` option (default: just before
    ``earliest_feed_version``, i.e. the full resolvable feed) or
    ``startingTimestamp`` (resolved via :func:`version_at` — the
    timestamp cursor, r12);
  * each micro-batch covers the versions committed since the last
    offset; ``partitions(start, end)`` expands them into per-file
    units (:func:`_feed_units`) from the one per-version change plan
    every feed reads, ``sinks.versioned._version_changes`` — the same
    semantics as ``change_feed`` and ``cdc_feed``, deletion vectors
    included, so a restored or cloned state streams its live rows —
    and PACKS them into byte-sized input partitions
    (:func:`_pack_units`, Spark's own file-scan split size), so a
    small commit is one Python task and a large one splits like a
    parquet scan: the driver touches manifests, file sizes and
    KB-scale deletion-vector sidecars only, never data;
  * ``read(partition)`` runs executor-side and yields
    ``pyarrow.RecordBatch`` objects (r13): for each file of the
    partition, pyarrow reads the parquet file, every column is cast to
    the DECLARED Arrow schema (columns a pre-evolution file lacks
    become null arrays, as in every versioned-table read), ``_version``
    is appended as a constant int64 column, and the file flows to
    Spark as Arrow batches — zero per-row Python object construction,
    the same vectorized transfer Spark's own parquet source uses;
  * ADMISSION CONTROL (r13): ``maxVersionsPerTrigger`` /
    ``maxFilesPerTrigger`` bound each micro-batch the way Delta's
    maxFilesPerTrigger / Kafka's maxOffsetsPerTrigger do — a consumer
    that fell behind (or a fresh consumer starting from version 0 of a
    long table) drains the backlog over several bounded batches
    instead of receiving it in one.  Caps require a ``consumerId``:
    the reader keeps a durable per-consumer cursor under
    ``<table>/_consumers/`` (Kafka consumer-group semantics — commit
    updates it atomically, restarts resume from it), because the
    Python stream-reader API never passes the start offset to
    ``latestOffset`` and any capped guess below the engine's committed
    offset would poison the checkpoint (see
    ``_FeedStreamReader.__doc__`` for the full failure analysis);
  * exactly-once: offsets live in the query's checkpoint; a restarted
    stream resumes after the last committed version, and a feed range
    expired by retention raises (RetentionError semantics) rather than
    silently skipping — a CDC consumer must never believe it caught
    up across a hole.

The schema is the one every versioned-table read uses,
``sinks.versioned._spark_schema`` (the manifest's recorded physical
schema; footers only for manifests without one), passed through the
version's COLUMN MAPPING, so renames/drops surface correctly; the
readers cast to its Arrow form (``to_arrow_schema``, no session
needed).  A BATCH reader
is registered too (``spark.read.format("versioned_feed")``): the
current full state, or ``version``/``asOfTimestamp`` time travel,
the surviving files packed into byte-sized Arrow-batched partitions
like the stream's, deletion vectors masked per file, and OPT-IN filter
pushdown (``filterPushdown`` — manifest stats + Bloom pruning from
Spark's own pushed predicates).

r13 additions beyond the reader:

  * ``readChangeFeed`` (stream): Delta's CDF as a streaming source —
    ``_change_type``-tagged rows, the parts of the same plan as batch
    ``cdc_feed``; deletes and update pre-images are recovered from
    each version's new deletion-vector rows by one Arrow ``take`` per
    data file (see :func:`_feed_units`); composes with
    operators/matview.py for streaming materialized views;
  * the WRITE half: ``df.write.format("versioned_feed")`` stages one
    Arrow-native parquet file per task and publishes atomically via
    ``sinks.versioned.commit_staged`` (schema-enforced, blind-append
    conflict retry); ``writeStream`` publishes one idempotent version
    per micro-batch (durable writer cursor + manifest batch markers
    survive replay).
"""

from __future__ import annotations

import json as _json
import os as _os

def _read_file_batches(path: str, pa_schema, version: int,
                       drop_positions=None, phys_map=None,
                       take_positions=None, change_type=None):
    """Executor-side: yield ``pyarrow.RecordBatch`` objects for one
    delta file, cast to the declared Arrow schema (+ a constant
    ``_version`` int64 column); columns absent from this file's footer
    (pre-evolution segments) become null arrays.  ``drop_positions``
    (r13) masks the file's DELETION-VECTOR row positions out before
    batching — the snapshot reader's DV application.  ``phys_map``
    (r13 column mapping) translates each declared LOGICAL field to the
    PHYSICAL column name files store (renames are metadata-only; see
    sinks/versioned.py:rename_column).  Arrow end to end — no per-row
    Python tuples anywhere on the path."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pq.read_table(path)
    if take_positions is not None:
        # CDC recovery (r13 readChangeFeed): this unit carries
        # exactly the rows a deletion vector named — the INVERSE of
        # the snapshot reader's mask
        table = table.take(
            pa.array(sorted(take_positions), type=pa.int64())
        )
    elif drop_positions:
        keep = np.ones(table.num_rows, dtype=bool)
        keep[np.asarray(drop_positions, dtype=np.int64)] = False
        table = table.filter(pa.array(keep))
    n = table.num_rows
    if n == 0:
        return
    present = set(table.schema.names)
    phys_map = phys_map or {}
    arrays = []
    for field in pa_schema:
        phys = phys_map.get(field.name, field.name)
        if field.name == "_version":
            arrays.append(pa.array(np.full(n, version, dtype=np.int64)))
        elif field.name == "_change_type" and change_type is not None:
            arrays.append(
                pa.array([change_type] * n, type=pa.string())
            )
        elif phys in present:
            col = table.column(phys).combine_chunks()
            if col.type != field.type:
                col = col.cast(field.type)
            arrays.append(col)
        else:
            arrays.append(pa.nulls(n, field.type))
    out = pa.Table.from_arrays(arrays, schema=pa_schema)
    yield from out.to_batches(max_chunksize=1 << 16)


#: Spark's defaults for ``spark.sql.files.maxPartitionBytes`` and
#: ``spark.sql.files.openCostInBytes``
_MAX_PARTITION_BYTES = 128 << 20
_OPEN_COST_BYTES = 4 << 20


def _split_conf(spark=None) -> tuple[int, int, int]:
    """(maxPartitionBytes, openCostInBytes, defaultParallelism) of the
    session; without one, Spark's defaults and ``os.cpu_count()``."""
    if spark is None:
        return _MAX_PARTITION_BYTES, _OPEN_COST_BYTES, _os.cpu_count() or 1
    conf = spark._jsparkSession.sessionState().conf()
    return (
        conf.filesMaxPartitionBytes(),
        conf.filesOpenCostInBytes(),
        spark.sparkContext.defaultParallelism,
    )


def _pack_units(units, split):
    """Group a read's file units (tuples whose first field is the
    file's path) into input partitions, each carrying its list of
    units as ``partition.value``.

    The split size is Spark's file scan's
    (``FilePartition.maxSplitBytes``): ``min(maxPartitionBytes,
    max(openCostInBytes, totalBytes / defaultParallelism))``.  Files
    go largest first, a file joins the open partition while its bytes
    stay within the split, and a file is never cut.  Unlike Spark's,
    the open cost is not charged once per file: what a Python
    partition costs is its task (a forked interpreter and one
    JVM-Python round trip), so a small read is one task however many
    files it holds.  Within a partition units keep their given order,
    and partitions are ordered by their first unit."""
    from pyspark.sql.datasource import InputPartition

    max_bytes, open_cost, parallelism = split
    sizes = [_os.path.getsize(u[0]) for u in units]
    cap = min(max_bytes, max(open_cost, sum(sizes) // parallelism))
    parts: list[list[int]] = []
    held = 0
    for i in sorted(range(len(units)), key=lambda i: -sizes[i]):
        if not parts or held + sizes[i] > cap:
            parts.append([])
            held = 0
        parts[-1].append(i)
        held += sizes[i]
    return [
        InputPartition([units[i] for i in p])
        for p in sorted(sorted(p) for p in parts)
    ]


def _scalar_schema(schema, error, feed: str):
    """``schema`` with every field nullable, as the lake feeds declare
    it; a column whose type is not a scalar their Arrow cast
    (``to_arrow_schema``) handles raises ``error``."""
    from pyspark.sql import types as T

    scalars = (
        T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType,
        T.DoubleType, T.DecimalType, T.StringType, T.BooleanType,
        T.DateType, T.TimestampType, T.TimestampNTZType, T.BinaryType,
    )
    for f in schema.fields:
        if not isinstance(f.dataType, scalars):
            raise error(
                f"{feed}: column {f.name!r} has unsupported type "
                f"{f.dataType.simpleString()!r} (scalar columns only)"
            )
    return T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in schema.fields]
    )


def _read_units(units, pa_schema, phys_map):
    """Executor-side: the Arrow batches of one packed partition's
    ``(path, version, drop, take, kind)`` units, file by file."""
    for path, version, drop, take, kind in units:
        yield from _read_file_batches(
            path, pa_schema, version, drop, phys_map, take, kind
        )


def _feed_units(
    table_dir: str,
    after: int,
    upto: int,
    cdc: bool = False,
    allow_full_rewrites: bool = False,
):
    """Driver-side ``(path, version, drop, take, kind)`` units, one
    per file, of the parts ``sinks.versioned._version_changes`` plans
    for the versions in ``(after, upto]``: their adds, or with ``cdc``
    (``readChangeFeed``) their row changes.  A live part's
    deletion-vector positions become its files' ``drop`` (as in the
    snapshot reader); a retraction part yields one ``take`` unit per
    file its vectors name.  The sidecars are
    KB-scale, so this is driver metadata work and the rows come from
    one Arrow ``filter``/``take`` per file, executor-side.  A
    FULL-STATE REWRITE needs a distributed bag difference per-file
    units cannot express — batch ``cdc_feed`` decomposes it exactly —
    so the CDC stream raises :class:`CDCDecompositionError` (r14)
    unless ``allow_full_rewrites`` accepts the rewritten live state as
    insert-only events."""
    from ..sinks.versioned import (
        CDCDecompositionError,
        _dv_positions,
        _feed_range,
        _row_changes,
        _version_changes,
    )

    units = []
    for v in _feed_range(table_dir, after, "stream")[0]:
        if v > upto:
            break
        if not cdc:
            adds = _version_changes(table_dir, v).adds
            parts = [adds] if adds else []
        else:
            ch = _row_changes(table_dir, v)
            if ch.rewrite and not allow_full_rewrites:
                raise CDCDecompositionError(
                    f"v{v} is a full-state rewrite "
                    f"(mode={ch.m['mode']}); the stream cannot "
                    f"decompose it into exact delete+insert events.  "
                    f"Re-seed from batch cdc_feed()/a snapshot, or set "
                    f".option('allowFullRewrites','true') to accept it "
                    f"as insert-only (unsafe for retraction-aware "
                    f"consumers)."
                )
            parts = ch.parts
        for p in parts:
            pos = _dv_positions(p.dv_files)
            if p.pick:
                units += [
                    (f, v, None, take, p.kind)
                    for f, take in sorted(pos.items())
                ]
            else:
                units += [
                    (f, v, pos.get(_os.path.abspath(f)), None, p.kind)
                    for f in p.files
                ]
    return units


def _make_datasource_class(split=None):
    """Build the DataSource class lazily: pyspark.sql.datasource is a
    PySpark-4-only module, and constructing the class at import time
    would make this module un-importable on older runtimes.  ``split``
    is the :func:`_split_conf` its readers pack files with (Spark's
    defaults when None)."""
    split = split or _split_conf()
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceArrowWriter,
        DataSourceReader,
        DataSourceStreamArrowWriter,
        DataSourceStreamReader,
        WriterCommitMessage,
    )

    class _WroteFile(WriterCommitMessage):
        """One task's contribution: the staged parquet file (None for
        an empty task) and its row count."""

        def __init__(self, path, rows):
            self.path = path
            self.rows = rows

    def _write_task_file(staging: str, iterator):
        """Executor-side: stream this task's Arrow RecordBatches into
        ONE parquet file under the staging dir — incremental
        ParquetWriter, so a task never holds its partition in memory.
        Returns the commit message the driver will move into the
        segment (files NOT named in any commit message — failed or
        speculative task attempts — are never referenced and get
        cleaned with the staging dir)."""
        import uuid as _uuid

        import pyarrow.parquet as _pq

        writer = None
        path = _os.path.join(
            staging, f"part-{_uuid.uuid4().hex}.parquet"
        )
        rows = 0
        for batch in iterator:
            if writer is None:
                _os.makedirs(staging, exist_ok=True)
                writer = _pq.ParquetWriter(path, batch.schema)
            writer.write_batch(batch)
            rows += batch.num_rows
        if writer is None:
            return _WroteFile(None, 0)
        writer.close()
        return _WroteFile(path, rows)

    def _move_into_segment(table_dir: str, messages) -> list[str]:
        """Driver-side: move the files named in the commit messages
        from staging into a fresh segment directory; returns the
        segment file list.  Per-file moves (not a dir rename) so
        stray files from failed task attempts never publish."""
        from ..sinks.versioned import _segment_dir, latest_version

        files = sorted(
            m.path for m in messages if m is not None and m.path
        )
        if not files:
            return []  # caller decides: batch write refuses, a
            # stream micro-batch just publishes nothing
        cur = latest_version(table_dir)
        seg = _segment_dir(table_dir, (cur if cur is not None else -1) + 1)
        _os.makedirs(seg, exist_ok=True)
        out = []
        for f in files:
            dst = _os.path.join(seg, _os.path.basename(f))
            _os.replace(f, dst)
            out.append(dst)
        return sorted(out)

    def _drop_staged(staging: str) -> None:
        import shutil

        shutil.rmtree(staging, ignore_errors=True)

    class _VersionedBatchWriter(DataSourceArrowWriter):
        """``df.write.format("versioned_feed")``: executors stage one
        parquet file per task (Arrow-native, no row conversion), the
        driver moves the acknowledged files into a segment and
        publishes the manifest via sinks.versioned.commit_staged —
        atomic, schema-enforced, optimistic-concurrency-guarded.
        ``mode("append")`` / ``mode("overwrite")`` map to the
        versioned modes.  Options: ``note``, ``timestamp``."""

        def __init__(self, table_dir: str, overwrite: bool, options):
            from ..sinks.versioned import _segment_dir

            self._dir = table_dir
            self._overwrite = overwrite
            self._staging = _segment_dir(table_dir)
            self._note = options.get("note", "datasource write")
            ts = options.get("timestamp")
            self._ts = float(ts) if ts is not None else None

        def write(self, iterator):
            return _write_task_file(self._staging, iterator)

        def commit(self, messages):
            from ..sinks.versioned import commit_staged

            seg_files = _move_into_segment(self._dir, messages)
            if not seg_files:
                _drop_staged(self._staging)
                raise ValueError(
                    "no rows written — refusing to publish an empty "
                    "version (commit an explicit empty DataFrame "
                    "through sinks.versioned.commit if intended)"
                )
            try:
                commit_staged(
                    self._dir,
                    seg_files,
                    mode="overwrite" if self._overwrite else "append",
                    note=self._note,
                    timestamp=self._ts,
                )
            finally:
                _drop_staged(self._staging)

        def abort(self, messages):
            _drop_staged(self._staging)

    class _VersionedStreamWriter(DataSourceStreamArrowWriter):
        """``writeStream.format("versioned_feed")``: each micro-batch
        publishes as one version (the write half of the loop whose
        read half is the stream reader above — versioned-table-to-
        versioned-table ETL with engine offsets on the read side and
        idempotent versions on the write side).

        EXACTLY-ONCE across restarts: Structured Streaming replays
        the last un-acknowledged micro-batch after a crash, so
        ``commit(messages, batchId)`` must be idempotent.  Two
        guards: a durable per-writer cursor under
        ``<table>/_writers/<writerId>.json`` (fast path), and the
        batch marker embedded in the manifest ``note`` — scanned over
        the checkpointed version summaries — which catches the crash
        window between publish and cursor write.  A replayed batch's
        staged files are discarded, never re-published."""

        def __init__(self, table_dir: str, options,
                     overwrite: bool = False):
            import re

            from ..sinks.versioned import _segment_dir

            self._dir = table_dir
            # Spark passes overwrite=True for outputMode('complete')/
            # truncate semantics: each micro-batch REPLACES the table
            # state (one overwrite version) instead of appending —
            # previously the flag was ignored and a complete-mode
            # stream silently accumulated rows (ADVICE r13 #4)
            self._overwrite = bool(overwrite)
            self._staging = _segment_dir(table_dir)
            wid = options.get("writerId", "stream")
            if not re.fullmatch(r"[A-Za-z0-9._-]{1,128}", wid):
                raise ValueError(
                    "writerId must match [A-Za-z0-9._-]{1,128}"
                )
            self._wid = wid
            ts = options.get("timestamp")
            self._ts = float(ts) if ts is not None else None

        def _cursor_path(self) -> str:
            return _os.path.join(
                self._dir, "_writers", f"{self._wid}.json"
            )

        def _saved_batch(self):
            try:
                with open(self._cursor_path()) as f:
                    return int(_json.load(f)["batch"])
            except (OSError, ValueError, KeyError):
                return None

        def _save_batch(self, batch_id: int) -> None:
            saved = self._saved_batch()
            if saved is not None and saved >= batch_id:
                return
            _os.makedirs(
                _os.path.dirname(self._cursor_path()), exist_ok=True
            )
            tmp = f"{self._cursor_path()}.tmp-{_os.getpid()}"
            with open(tmp, "w") as f:
                _json.dump({"batch": batch_id}, f)
            _os.replace(tmp, self._cursor_path())

        def _marker(self, batch_id: int) -> str:
            return f"stream [{self._wid}#{batch_id}]"

        def _already_committed(self, batch_id: int) -> bool:
            saved = self._saved_batch()
            if saved is not None and saved >= batch_id:
                return True
            # crash window: published but cursor not yet written —
            # the manifest note carries the batch marker
            from ..sinks.versioned import _version_summaries

            marker = self._marker(batch_id)
            try:
                return any(
                    s.get("note") == marker
                    for s in _version_summaries(self._dir).values()
                )
            except FileNotFoundError:
                return False

        def write(self, iterator):
            return _write_task_file(self._staging, iterator)

        def commit(self, messages, batchId: int) -> None:
            from ..sinks.versioned import commit_staged

            try:
                if self._already_committed(batchId):
                    return  # replayed micro-batch: drop, never double
                seg_files = _move_into_segment(self._dir, messages)
                if seg_files:
                    commit_staged(
                        self._dir,
                        seg_files,
                        mode=(
                            "overwrite" if self._overwrite
                            else "append"
                        ),
                        note=self._marker(batchId),
                        timestamp=self._ts,
                    )
                # an empty micro-batch publishes no version but still
                # advances the cursor
                self._save_batch(batchId)
            finally:
                _drop_staged(self._staging)

        def abort(self, messages, batchId: int) -> None:
            _drop_staged(self._staging)

    class _FeedStreamReader(DataSourceStreamReader):
        """Admission-control design notes (r13).  The Python
        stream-reader API never passes the start offset to
        ``latestOffset``, and the engine compares offsets by EQUALITY
        only — so a capped ``latestOffset`` computed from a stale base
        after a restart can fall BELOW the committed offset and the
        engine will happily regress its checkpoint through it
        (verified empirically; duplicates follow).  Hence:

          * within a run, the reader tracks the newest version it has
            handed out (``_cursor``, taught by initialOffset /
            latestOffset / partitions / commit — the runner process
            lives for the whole query) and caps from it: bounded
            batches, exactly-once;
          * across restarts, caps stay exact only with a DURABLE
            cursor: the ``consumerId`` option names a tiny JSON file
            under ``<table>/_consumers/`` that ``commit()`` updates
            atomically — Kafka consumer-group semantics (the cursor
            outlives the client; wiping the query checkpoint to
            reprocess requires resetting the consumer file too);
          * consequently caps REQUIRE ``consumerId``: without a
            durable cursor, a restarted capped stream either risks
            that regression or must serve its first trigger uncapped,
            and an availableNow catch-up run can live-lock retrying a
            stale base.  The option is rejected loudly instead of
            degrading silently;
          * defense in depth: if a regressed range does reach
            ``partitions`` (end < start — possible only in a
            crash-between-commits corner with consumerId), the reader
            emits nothing, records ``start`` as an emission floor,
            repairs the consumer file, and later batches clip below
            the floor — no duplicate rows ever leave this process.
        """

        def __init__(self, table_dir: str, schema, phys_map, options):
            import re

            from pyspark.sql.pandas.types import to_arrow_schema

            self._dir = table_dir
            self._cdc = str(
                options.get("readChangeFeed", "false")
            ).lower() == "true"
            self._pa_schema = to_arrow_schema(schema)
            self._phys_map = phys_map
            self._options = options
            self._cursor: int | None = None
            self._floor: int | None = None
            self._max_versions = self._pos_int_opt("maxVersionsPerTrigger")
            self._max_files = self._pos_int_opt("maxFilesPerTrigger")
            consumer = options.get("consumerId")
            if consumer is not None and not re.fullmatch(
                r"[A-Za-z0-9._-]{1,128}", consumer
            ):
                raise ValueError(
                    "consumerId must match [A-Za-z0-9._-]{1,128}"
                )
            if consumer is None and (
                self._max_versions is not None
                or self._max_files is not None
            ):
                raise ValueError(
                    "maxVersionsPerTrigger/maxFilesPerTrigger need a "
                    "consumerId: the durable per-consumer cursor is "
                    "what keeps capped micro-batches exactly-once "
                    "across restarts (Kafka consumer-group semantics)"
                )
            self._cursor_path = (
                None
                if consumer is None
                else _os.path.join(
                    table_dir, "_consumers", f"{consumer}.json"
                )
            )
            saved = self._load_consumer_cursor()
            if saved is not None:
                # versions <= saved were committed by this consumer in
                # a previous process: cap base AND emission floor
                self._cursor = saved
                self._floor = saved

        def _pos_int_opt(self, name: str) -> int | None:
            v = self._options.get(name)
            if v is None:
                return None
            iv = int(v)
            if iv < 1:
                raise ValueError(f"{name} must be >= 1, got {v}")
            return iv

        def _load_consumer_cursor(self) -> int | None:
            if self._cursor_path is None:
                return None
            try:
                with open(self._cursor_path) as f:
                    return int(_json.load(f)["version"])
            except (OSError, ValueError, KeyError):
                return None

        def _save_consumer_cursor(self, version: int) -> None:
            if self._cursor_path is None:
                return
            saved = self._load_consumer_cursor()
            if saved is not None and saved >= version:
                return
            _os.makedirs(
                _os.path.dirname(self._cursor_path), exist_ok=True
            )
            tmp = f"{self._cursor_path}.tmp-{_os.getpid()}"
            with open(tmp, "w") as f:
                _json.dump({"version": version}, f)
            _os.replace(tmp, self._cursor_path)

        def _note_cursor(self, version: int) -> None:
            if self._cursor is None or version > self._cursor:
                self._cursor = version

        def _initial_base(self) -> int:
            from ..sinks.versioned import (
                earliest_feed_version,
                version_at,
            )

            sv = self._options.get("startingVersion")
            if sv is not None:
                return int(sv)
            st = self._options.get("startingTimestamp")
            if st is not None:
                try:
                    return version_at(self._dir, float(st))
                except FileNotFoundError:
                    pass  # predates the table: full feed
            return earliest_feed_version(self._dir) - 1

        def initialOffset(self) -> dict:
            # a durable consumer cursor wins over startingVersion /
            # startingTimestamp — consumer-group semantics: resume
            # where this consumer left off, even into a fresh
            # checkpoint
            saved = self._load_consumer_cursor()
            v = saved if saved is not None else self._initial_base()
            self._note_cursor(v)
            return {"version": v}

        def latestOffset(self) -> dict:
            from ..sinks.versioned import (
                latest_version,
                list_versions,
                version_delta_files,
            )

            cur = latest_version(self._dir)
            if cur is None:
                raise FileNotFoundError(f"no versions in {self._dir}")
            if self._max_versions is None and self._max_files is None:
                return {"version": cur}
            base = self._cursor
            if base is None:
                # this consumer has never committed a batch (no file,
                # nothing seen this run): the configured start IS its
                # position.  A restart that outran the consumer file
                # by one crash window is repaired by partitions()'s
                # floor logic + file rewrite.
                base = self._initial_base()
            if base < cur:
                if self._max_versions is not None:
                    cur = min(cur, base + self._max_versions)
                if self._max_files is not None:
                    # walk version manifests (driver-side metadata)
                    # accumulating delta-file counts; always admit at
                    # least one version so the stream makes progress
                    # even when a single commit exceeds the cap
                    n_files = 0
                    bounded = base
                    for v in list_versions(self._dir):
                        if v <= base or v > cur:
                            continue
                        n_files += len(version_delta_files(self._dir, v))
                        if bounded > base and n_files > self._max_files:
                            break
                        bounded = v
                        if n_files >= self._max_files:
                            break
                    cur = bounded if bounded > base else base + 1
                cur = max(cur, base)
            else:
                cur = base
            self._note_cursor(cur)
            return {"version": cur}

        def partitions(self, start: dict, end: dict):
            lo = int(start["version"])
            hi = int(end["version"])
            if hi < lo:
                # regressed range: the engine's committed offset (lo)
                # outran a capped latestOffset computed from a stale
                # base.  Everything <= lo is durably committed — emit
                # nothing, remember the floor, repair the durable
                # cursor, and let the next trigger advance past it.
                self._floor = max(self._floor or lo, lo)
                self._note_cursor(lo)
                self._save_consumer_cursor(lo)
                return []
            if self._floor is not None:
                lo = max(lo, self._floor)
            units = _feed_units(
                self._dir, lo, hi, self._cdc,
                str(self._options.get("allowFullRewrites", "false"))
                .lower() == "true",
            )
            self._note_cursor(hi)
            return _pack_units(units, split)

        def read(self, partition):
            yield from _read_units(
                partition.value, self._pa_schema, self._phys_map
            )

        def commit(self, end: dict) -> None:
            # offsets live in the query checkpoint; remember the
            # committed high-water mark for admission control and
            # persist it for this consumer (exactly-once caps across
            # restarts)
            self._note_cursor(int(end["version"]))
            self._save_consumer_cursor(int(end["version"]))

    class _SnapshotReader(DataSourceReader):
        """Batch snapshot reader WITHOUT ``pushFilters``.

        Deliberately so (r14): PySpark 4.1 raises
        ``DATA_SOURCE_PUSHDOWN_DISABLED`` for ANY batch read through a
        reader that merely DEFINES ``pushFilters`` when the session
        conf ``spark.sql.python.filterPushdown.enabled`` is false
        (pyspark/sql/worker/plan_data_source_read.py:375-388 refuses
        to silently ignore an implemented hook).  Defining the hook on
        an opt-in subclass (``_PushdownSnapshotReader``, selected by
        ``.option("filterPushdown", "true")``) keeps default reads
        independent of session configuration — a plain ``.load()``
        works on any session, and only the explicit opt-in requires
        the conf to be on."""

        def __init__(self, table_dir: str, schema, phys_map, options):
            from pyspark.sql.pandas.types import to_arrow_schema

            self._dir = table_dir
            self._pa_schema = to_arrow_schema(schema)
            self._phys_map = phys_map
            self._options = options
            self._conj: list = []    # [(col, op, value)] conjuncts
            self._in: list = []      # [(col, [values])]

        def _pruned_files(self, version: int, files: list[str]):
            from ..sinks.versioned import prune_files

            kept = set(files)
            conj, ins = self._conj, self._in
            self._conj, self._in = [], []  # consumed — see pushFilters
            if conj:
                keep, _ = prune_files(
                    self._dir, conj, version=version
                )
                kept &= set(keep)
            for col, values in ins:
                # IN is a disjunction: a file survives if ANY value
                # may match (union of per-value equality prunes)
                may: set = set()
                for v in values:
                    keep, _ = prune_files(
                        self._dir, [(col, "=", v)], version=version
                    )
                    may |= set(keep)
                kept &= may
            return [f for f in files if f in kept]

        def _version(self) -> int:
            from ..sinks.versioned import latest_version, version_at

            v = self._options.get("version")
            if v is not None:
                return int(v)
            ts = self._options.get("asOfTimestamp")
            if ts is not None:
                return version_at(self._dir, float(ts))
            cur = latest_version(self._dir)
            if cur is None:
                raise FileNotFoundError(f"no versions in {self._dir}")
            return cur

        def partitions(self):
            from ..sinks.versioned import _dv_positions, _read_manifest

            v = self._version()
            m = _read_manifest(self._dir, v)
            # deletion vectors are KB-scale: resolve them to per-file
            # position lists driver-side so each file unit masks its
            # own rows
            drops = _dv_positions(m.get("dv_files", []))
            return _pack_units([
                (f, v, drops.get(_os.path.abspath(f)) or None, None, None)
                for f in self._pruned_files(v, m["files"])
            ], split)

        def read(self, partition):
            yield from _read_units(
                partition.value, self._pa_schema, self._phys_map
            )

    class _PushdownSnapshotReader(_SnapshotReader):
        """`_SnapshotReader` plus ``pushFilters`` — selected ONLY by
        ``.option("filterPushdown", "true")``, so a reader that
        implements the hook is never instantiated on a session where
        ``spark.sql.python.filterPushdown.enabled`` is off unless the
        user explicitly asked for pruning (in which case PySpark's
        loud ``DATA_SOURCE_PUSHDOWN_DISABLED`` is the correct signal
        to flip the conf, not a landmine on default reads)."""

        def pushFilters(self, filters):
            """FILTER PUSHDOWN (r13, PySpark 4.1 DataSource API): with
            ``.option("filterPushdown", "true")``, a plain
            ``.filter()`` on the batch reader prunes data files
            through the manifest's footer stats and Bloom bitmaps —
            the same Iceberg/Delta data-skipping ``scan()`` exposes,
            driven by Spark's own pushed predicates.  Every filter is
            also YIELDED BACK (pruning is file-granular; Spark keeps
            the exact row-level residual — the parquet row-group-stats
            contract).

            OPT-IN, not default, because of an engine-side caching
            hazard verified empirically on Spark 4.1: the JVM caches
            the pushdown-computed read info on the per-``load()``
            table object (PythonDataSourceV2.setReadInfo /
            getOrCreateReadInfo returns any cached value regardless
            of the current scan's filters), so a FILTERLESS scan of
            the SAME DataFrame after a filtered one would silently
            reuse the pruned partition list and lose rows.  With the
            option set, treat each ``load()`` as scoped to one query
            shape; without it, partitions are never pruned and every
            mixed-use pattern stays exact (``scan()`` remains the
            explicit pruning API)."""
            from pyspark.sql.datasource import (
                EqualTo,
                GreaterThan,
                GreaterThanOrEqual,
                In,
                LessThan,
                LessThanOrEqual,
            )

            ops = {
                EqualTo: "=",
                GreaterThan: ">",
                GreaterThanOrEqual: ">=",
                LessThan: "<",
                LessThanOrEqual: "<=",
            }
            import datetime

            # one pushFilters call == one query's filters; and a
            # FILTERLESS query never calls pushFilters at all, while
            # the planner-side reader object persists across queries —
            # so state resets here AND after each partitions() (else a
            # previous query's pruning silently drops rows from the
            # next full scan)
            self._conj, self._in = [], []
            ok_types = (int, float, str, bool,
                        datetime.date, datetime.datetime)
            for f in filters:
                op = ops.get(type(f))
                if (
                    op is not None
                    and len(f.attribute) == 1
                    and isinstance(f.value, ok_types)
                ):
                    self._conj.append((f.attribute[0], op, f.value))
                elif (
                    isinstance(f, In)
                    and len(f.attribute) == 1
                    and all(isinstance(v, ok_types) for v in f.value)
                ):
                    self._in.append((f.attribute[0], list(f.value)))
                yield f  # always keep the exact row-level residual


    class VersionedFeedDataSource(DataSource):
        """``format("versioned_feed")``: versioned tables through the
        plain Spark API, all four directions — stream the change feed
        (readStream), scan a snapshot (read), append/overwrite a
        version (write, r13), publish one version per micro-batch
        (writeStream, r13 — idempotent across replays via a durable
        per-writer cursor + manifest batch markers).  Options:
        ``path`` (the table dir); read: ``startingVersion`` /
        ``startingTimestamp`` / ``maxVersionsPerTrigger`` /
        ``maxFilesPerTrigger`` / ``consumerId`` (stream),
        ``version`` / ``asOfTimestamp`` / ``filterPushdown``
        (batch); write: ``note`` / ``timestamp``, plus ``writerId``
        (stream)."""

        @classmethod
        def name(cls) -> str:
            return "versioned_feed"

        def _table_dir(self) -> str:
            d = self.options.get("path") or self.options.get("tableDir")
            if not d:
                raise ValueError(
                    "versioned_feed needs .option('path', <table_dir>) "
                    "or .load(<table_dir>)"
                )
            return d

        def _schema_manifest(self) -> dict:
            from ..sinks.versioned import (
                _read_manifest,
                latest_version,
                version_at,
            )

            d = self._table_dir()
            v = self.options.get("version")
            ts = self.options.get("asOfTimestamp")
            if v is not None:
                ver = int(v)
            elif ts is not None:
                ver = version_at(d, float(ts))
            else:
                ver = latest_version(d)
                if ver is None:
                    raise FileNotFoundError(f"no versions in {d}")
            return _read_manifest(d, ver)

        def _declared(self):
            """(declared schema, logical→physical map) of the addressed
            version: its recorded schema
            (``sinks.versioned._spark_schema``) under its COLUMN
            MAPPING — dropped physicals excluded, renamed columns
            surfaced under their logical names (time-travel batch
            reads see the schema as of that version) — plus
            ``_version`` and, for ``readChangeFeed``,
            ``_change_type``."""
            from pyspark.sql.types import (
                LongType,
                StringType,
                StructField,
                StructType,
            )

            from ..sinks.versioned import (
                _logical_names,
                _mapping,
                _spark_schema,
            )

            m = self._schema_manifest()
            props = m.get("table_props", {})
            physical = _spark_schema(m)
            names = _logical_names(props, physical.names)
            st = StructType([
                StructField(names[f.name], f.dataType, True)
                for f in physical.fields
                if f.name in names
            ]).add("_version", LongType())
            if self._is_cdc():
                st = st.add("_change_type", StringType())
            return st, _mapping(props)

        def _is_cdc(self) -> bool:
            return str(
                self.options.get("readChangeFeed", "false")
            ).lower() == "true"

        def schema(self):
            return self._declared()[0]

        def streamReader(self, schema):
            return _FeedStreamReader(
                self._table_dir(), *self._declared(), self.options
            )

        def reader(self, schema):
            if self._is_cdc():
                raise ValueError(
                    "readChangeFeed is a STREAM option "
                    "(spark.readStream); for a batch slice of the "
                    "change feed use sinks.versioned.cdc_feed()"
                )
            # the pushdown hook lives on a subclass selected ONLY by
            # explicit opt-in: a reader that defines pushFilters makes
            # PySpark 4.1 raise DATA_SOURCE_PUSHDOWN_DISABLED on any
            # session where spark.sql.python.filterPushdown.enabled is
            # off — default .load() must never depend on session conf
            cls = (
                _PushdownSnapshotReader
                if str(
                    self.options.get("filterPushdown", "false")
                ).lower() == "true"
                else _SnapshotReader
            )
            return cls(self._table_dir(), *self._declared(), self.options)

        def writer(self, schema, overwrite: bool):
            return _VersionedBatchWriter(
                self._table_dir(), overwrite, self.options
            )

        def streamWriter(self, schema, overwrite: bool):
            return _VersionedStreamWriter(
                self._table_dir(), self.options, overwrite=overwrite
            )

    return VersionedFeedDataSource


def _register_source(spark, source) -> None:
    """Register the DataSource class ``source`` on this session — the
    one registration path of ``versioned_feed``, ``delta_feed``,
    ``iceberg_feed`` and ``hudi_feed``.  Idempotent: re-registration
    on the same session replaces the previous class.

    ``newSession()`` caveat (observed on Spark 4.1): a sibling session
    created AFTER the first registration raises
    ``DATA_SOURCE_ALREADY_EXISTS`` on register yet cannot actually
    resolve the source (its own ``DataSourceManager`` lacks the entry
    and ``load()`` dies with ``DATA_SOURCE_NOT_FOUND``) — the
    duplicate check and the lookup disagree about scope.  We detect
    that half-registered state and raise a clear error instead of
    leaving a session that claims the source but cannot read it."""
    name = source.name()
    try:
        spark.dataSource.register(source)
    except Exception as e:  # noqa: BLE001 — narrowed on the error code
        if "DATA_SOURCE_ALREADY_EXISTS" not in str(e):
            raise
        usable = True
        try:
            usable = bool(
                spark._jsparkSession.sessionState()
                .dataSourceManager().dataSourceExists(name)
            )
        except Exception:
            pass  # connect-mode / API drift: trust the engine's check
        if not usable:
            raise RuntimeError(
                f"{name} cannot be registered on this derived "
                "session (Spark 4.1 newSession() registry quirk: the "
                "duplicate check sees the parent's registration but "
                "lookup does not).  Register and read on the session "
                "that first registered the source."
            ) from e


def register_versioned_feed(spark) -> None:
    """Register the ``versioned_feed`` data source on this session
    (see :func:`_register_source`)."""
    _register_source(spark, _make_datasource_class(_split_conf(spark)))


__all__ = ["register_versioned_feed"]
