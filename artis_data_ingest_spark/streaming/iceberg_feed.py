"""``iceberg_feed`` — Structured Streaming source over EXTERNAL
Iceberg tables (the streaming half of sources/iceberg.py, and the
Iceberg twin of streaming/delta_feed.py).

``spark.readStream.format("iceberg_feed").option("path", dir).load()``
tails another engine's Iceberg table the way the iceberg-spark
runtime's streaming read does: offsets are positions in the
table's SNAPSHOT LOG (ordered as ``metadata.json`` records them),
each micro-batch reads only the data files APPENDED between two
snapshots, and the query checkpoint makes the tail exactly-once.

Non-append evolution refuses loudly mid-stream: a snapshot that
dropped files or added position deletes means its 'new' files may be
rewrites — tailing them would duplicate or lose rows (the same
contract as ``read_iceberg_appends`` and the iceberg runtime's
append-only incremental scan).

Options: ``startingSnapshotId`` (tail only snapshots AFTER this id;
default: replay from the first snapshot), ``maxFilesPerTrigger``.
Rows carry ``_snapshot_id``.  Offsets are log INDEXES, not snapshot
ids — ids are arbitrary longs with no order, the log position is the
stream's clock.

Scale: ``latestOffset`` is one metadata-JSON read; ``partitions``
decodes the two manifest lists of the hop (driver metadata, our own
Avro codec — no session needed) and packs the appended data files
into byte-sized input partitions (``source._pack_units``).
"""

from __future__ import annotations

from ..sources.iceberg import (
    IcebergProtocolError,
    _current_schema,
    _load_table_metadata,
    _snapshot_files,
)
from .source import (
    _pack_units,
    _register_source,
    _scalar_schema,
    _split_conf,
)


def _iceberg_stream_schema(table_dir: str):
    """The stream's declared schema: the table's current schema (scalar
    columns only) plus ``_snapshot_id``."""
    from pyspark.sql.types import LongType

    return _scalar_schema(
        _current_schema(_load_table_metadata(table_dir)),
        IcebergProtocolError,
        "iceberg_feed",
    ).add("_snapshot_id", LongType())


def _make_iceberg_feed_class(split):
    """Build the DataSource class; its reader packs files with
    ``split``, the registering session's :func:`~.source._split_conf`."""
    from pyspark.sql.datasource import DataSource, DataSourceStreamReader

    class _IcebergFeedStreamReader(DataSourceStreamReader):
        def __init__(self, table_dir, schema, options):
            from pyspark.sql.pandas.types import to_arrow_schema

            self._dir = table_dir
            self._pa_schema = to_arrow_schema(schema)
            self._starting = options.get("startingSnapshotId")
            self._max_files = int(options.get("maxFilesPerTrigger", 0))

        def _log(self) -> list[int]:
            meta = _load_table_metadata(self._dir)
            return [int(s["snapshot-id"])
                    for s in meta.get("snapshots") or []]

        def _start_index(self, log: list[int]) -> int:
            if self._starting is None:
                return -1  # before the first snapshot
            sid = int(self._starting)
            if sid not in log:
                raise IcebergProtocolError(
                    f"startingSnapshotId {sid} not in the snapshot log"
                )
            return log.index(sid)

        def initialOffset(self) -> dict:
            return {"index": self._start_index(self._log())}

        def _appended(self, log: list[int], idx: int) -> list[str]:
            """Data files added by snapshot log[idx] over log[idx-1];
            refuses non-append evolution."""
            meta = _load_table_metadata(self._dir)
            new_data, new_dels, new_eq = _snapshot_files(
                meta, self._dir, log[idx]
            )
            new_paths = [p for p, _ in new_data]
            if idx == 0:
                return new_paths
            old_data, old_dels, old_eq = _snapshot_files(
                meta, self._dir, log[idx - 1]
            )
            old = {p for p, _ in old_data}
            if old - set(new_paths):
                raise IcebergProtocolError(
                    f"snapshot {log[idx]} dropped files present in "
                    f"{log[idx - 1]} — not append-only; restart the "
                    "stream from a snapshot diff"
                )
            if set(new_dels) - set(old_dels):
                raise IcebergProtocolError(
                    f"snapshot {log[idx]} added position deletes — "
                    "not append-only"
                )
            if ({d["path"] for d in new_eq}
                    - {d["path"] for d in old_eq}):
                raise IcebergProtocolError(
                    f"snapshot {log[idx]} added equality deletes — "
                    "not append-only"
                )
            return [p for p in new_paths if p not in old]

        def latestOffset(self) -> dict:
            log = self._log()
            latest = len(log) - 1
            if self._max_files:
                # paced off the offsets THIS instance already
                # emitted: Spark commits batch N to the reader only
                # when it plans batch N+1 and never commits a run's
                # last batch (r15 fix; see delta_feed for the full
                # note)
                cur = getattr(
                    self, "_paced", self._start_index(log)
                )
                taken, last = 0, cur
                for i in range(cur + 1, len(log)):
                    n = len(self._appended(log, i))
                    if taken and taken + n > self._max_files:
                        break
                    taken += n
                    last = i
                    if taken >= self._max_files:
                        break
                out = last if taken else latest
                self._paced = max(cur, out)
                return {"index": out}
            return {"index": latest}

        def partitions(self, start: dict, end: dict):
            log = self._log()
            out = []
            for i in range(int(start["index"]) + 1,
                           int(end["index"]) + 1):
                for p in self._appended(log, i):
                    out.append((p, log[i]))
            return _pack_units(out, split)

        def read(self, partition):
            import pyarrow as pa
            import pyarrow.parquet as pq

            target = self._pa_schema
            for path, snapshot_id in partition.value:
                tbl = pq.read_table(path)
                tbl = tbl.append_column(
                    "_snapshot_id",
                    pa.array([snapshot_id] * len(tbl), pa.int64()),
                )
                tbl = tbl.select(target.names).cast(target)
                yield from tbl.to_batches()

    class IcebergFeedDataSource(DataSource):
        """``format("iceberg_feed")``: stream an external Iceberg
        table's append tail."""

        @classmethod
        def name(cls) -> str:
            return "iceberg_feed"

        def _table_dir(self) -> str:
            d = self.options.get("path")
            if not d:
                raise ValueError(
                    "iceberg_feed needs .option('path', <table_dir>)"
                )
            return d

        def schema(self):
            return _iceberg_stream_schema(self._table_dir())

        def streamReader(self, schema):
            return _IcebergFeedStreamReader(
                self._table_dir(),
                _iceberg_stream_schema(self._table_dir()),
                self.options,
            )

    return IcebergFeedDataSource


def register_iceberg_feed(spark) -> None:
    """Register ``iceberg_feed`` on this session (see
    :func:`~.source._register_source`)."""
    _register_source(spark, _make_iceberg_feed_class(_split_conf(spark)))
