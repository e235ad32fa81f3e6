"""``delta_feed`` — Structured Streaming source over EXTERNAL Delta
Lake tables (the streaming half of sources/delta.py).

``spark.readStream.format("delta_feed").option("path", dir).load()``
tails another engine's Delta table exactly the way delta-spark's own
streaming source does: offsets are COMMIT VERSIONS, each micro-batch
reads only the files added in its version range, and the query
checkpoint makes the tail exactly-once across restarts.  Options
mirror Delta's:

  * ``startingVersion`` — first version to emit (default 0: replay
    the table from the beginning; pass the current version + 1 to
    tail only new data).
  * ``ignoreDeletes`` — let DELETE-only versions pass (their removes
    produce nothing); without it a remove-bearing version FAILS the
    stream, because silently skipping data-change removes breaks
    exactly-once semantics downstream.
  * ``ignoreChanges`` — additionally re-emit the add-files of
    UPDATE/MERGE rewrite versions (downstream must dedup, same
    caveat as Delta documents).

Rows carry ``_commit_version``.  Partition values are re-attached
per file (constant Arrow columns — no Python per-row work); output
batches are Arrow RecordBatches cast to the declared schema, the
same zero-copy path as the versioned_feed source.

Scale: ``latestOffset`` is one log listing; ``partitions`` reads the
JSON commits in the range (driver metadata) and packs the added files
into byte-sized input partitions (``source._pack_units``, Spark's file
scan split size), so a small trigger is one Python task and a large
one reads in parallel; ``maxFilesPerTrigger`` bounds a catch-up burst.
"""

from __future__ import annotations

import os

from ..sources.delta import (
    DeltaProtocolError,
    _list_log,
    _logical_schema,
    _read_commit,
    _snapshot_state,
)
from .source import (
    _pack_units,
    _register_source,
    _scalar_schema,
    _split_conf,
)


def _make_delta_feed_class(split):
    """Build the DataSource class; its reader packs files with
    ``split``, the registering session's :func:`~.source._split_conf`."""
    from pyspark.sql.datasource import DataSource, DataSourceStreamReader
    from pyspark.sql.types import LongType

    class _DeltaFeedStreamReader(DataSourceStreamReader):
        def __init__(self, table_dir, schema, part_cols, options):
            from pyspark.sql.pandas.types import to_arrow_schema

            self._dir = table_dir
            self._pa_schema = to_arrow_schema(schema)
            self._part_cols = part_cols
            self._start = int(options.get("startingVersion", 0))
            self._ignore_deletes = str(
                options.get("ignoreDeletes", "false")
            ).lower() == "true"
            self._ignore_changes = str(
                options.get("ignoreChanges", "false")
            ).lower() == "true"
            self._max_files = int(options.get("maxFilesPerTrigger", 0))

        def initialOffset(self) -> dict:
            return {"version": self._start - 1}

        def latestOffset(self) -> dict:
            commits, _ = _list_log(self._dir)
            latest = max(commits) if commits else self._start - 1
            if self._max_files:
                # admission control: advance only as far as the file
                # cap allows per trigger.  Paced off the offsets THIS
                # instance already emitted, because Spark (PySpark
                # 4.1) commits batch N to the reader only when it
                # plans batch N+1 and never commits a run's last
                # batch — pacing off committed offsets lags a batch
                # behind and held an availableNow run at its first
                # capped offset (r15 fix).  After a restart the
                # counter resets and a few empty triggers re-sync;
                # (start, end] in partitions() keeps every batch
                # exactly-once regardless.
                cur = getattr(self, "_paced", self._start - 1)
                taken, last = 0, cur
                for v in sorted(c for c in commits if c > cur):
                    n = len(self._version_adds(v))
                    if taken and taken + n > self._max_files:
                        break
                    taken += n
                    last = v
                    if taken >= self._max_files:
                        break
                out = last if taken else latest
                self._paced = max(cur, out)
                return {"version": out}
            return {"version": latest}

        def _version_adds(self, v: int) -> list[dict]:
            log = os.path.join(self._dir, "_delta_log")
            actions = _read_commit(
                os.path.join(log, f"{v:020d}.json")
            )
            # dataChange=false actions (OPTIMIZE bin-packing) change
            # no rows; Delta's streaming source skips them entirely —
            # that is what makes OPTIMIZE stream-safe
            adds = [
                a["add"] for a in actions
                if a.get("add") and a["add"].get("dataChange", True)
            ]
            removes = [
                a for a in actions
                if a.get("remove")
                and a["remove"].get("dataChange", True)
            ]
            if removes:
                if adds and not self._ignore_changes:
                    raise DeltaProtocolError(
                        f"version {v} rewrites files (UPDATE/MERGE); "
                        "set .option('ignoreChanges','true') to "
                        "re-emit its rows (downstream must dedup)"
                    )
                if not adds and not self._ignore_deletes:
                    raise DeltaProtocolError(
                        f"version {v} deletes files; set .option("
                        "'ignoreDeletes','true') to skip delete-only "
                        "versions"
                    )
                if not adds:
                    return []
            for a in adds:
                if a.get("deletionVector"):
                    raise DeltaProtocolError(
                        f"version {v} adds a deletion-vector file"
                    )
            return adds

        def partitions(self, start: dict, end: dict):
            out = []
            lo, hi = int(start["version"]), int(end["version"])
            commits, _ = _list_log(self._dir)
            wanted = sorted(c for c in commits if lo < c <= hi)
            # leading gap below the log floor = versions the tail can
            # never reconstruct from JSON commits (checkpointed away);
            # the only legitimate clamp is a negative start up to v0
            floor = min(commits, default=0)
            first_needed = max(lo + 1, 0)
            if floor > first_needed:
                raise DeltaProtocolError(
                    f"commit JSONs for versions {first_needed}.."
                    f"{floor - 1} are gone (log floor {floor}); a "
                    "silent skip would lose data.  Restart the "
                    "stream from a snapshot sync"
                )
            expect = list(range(max(lo + 1, floor), hi + 1))
            if wanted != expect:
                missing = sorted(set(expect) - set(wanted))
                raise DeltaProtocolError(
                    f"commit JSONs missing for versions "
                    f"{missing[:5]} in the stream's range — likely "
                    "checkpointed away and cleaned; a silent skip "
                    "would lose data.  Restart the stream from a "
                    "snapshot sync"
                )
            for v in wanted:
                for a in self._version_adds(v):
                    rel = a["path"]
                    path = rel if os.path.isabs(rel) else os.path.join(
                        self._dir, rel
                    )
                    pv = a.get("partitionValues") or {}
                    # (path, version, [(col, raw_string)])
                    out.append((
                        path, v, [(c, pv.get(c)) for c in self._part_cols],
                    ))
            return _pack_units(out, split)

        def read(self, partition):
            import pyarrow as pa
            import pyarrow.parquet as pq

            target = self._pa_schema
            for path, version, pvals in partition.value:
                tbl = pq.read_table(path)
                n = len(tbl)
                for col, raw in pvals:
                    arr = pa.array([raw] * n, pa.string()).cast(
                        target.field(col).type
                    )
                    tbl = tbl.append_column(col, arr)
                tbl = tbl.append_column(
                    "_commit_version", pa.array([version] * n, pa.int64())
                )
                tbl = tbl.select(target.names).cast(target)
                yield from tbl.to_batches()

    class DeltaFeedDataSource(DataSource):
        """``format("delta_feed")``: stream an external Delta table."""

        @classmethod
        def name(cls) -> str:
            return "delta_feed"

        def _table_dir(self) -> str:
            d = self.options.get("path")
            if not d:
                raise ValueError(
                    "delta_feed needs .option('path', <table_dir>)"
                )
            return d

        def _resolved(self):
            # session-FREE metadata resolve (spark=None → checkpoint
            # parquet through pyarrow): the data source object runs in
            # worker processes that have no SparkSession
            _, meta, _, _proto = _snapshot_state(None, self._table_dir(), None)
            schema, renames = _logical_schema(meta)
            if renames:
                raise DeltaProtocolError(
                    "delta_feed does not support column-mapping "
                    "tables; read snapshots via read_delta instead"
                )
            schema = _scalar_schema(
                schema, DeltaProtocolError, "delta_feed"
            ).add("_commit_version", LongType())
            pcols = set(meta.get("partitionColumns") or [])
            return schema, [c for c in schema.names if c in pcols]

        def schema(self):
            return self._resolved()[0]

        def streamReader(self, schema):
            return _DeltaFeedStreamReader(
                self._table_dir(), *self._resolved(), self.options
            )

    return DeltaFeedDataSource


def register_delta_feed(spark) -> None:
    """Register ``delta_feed`` on this session (see
    :func:`~.source._register_source`)."""
    _register_source(spark, _make_delta_feed_class(_split_conf(spark)))
