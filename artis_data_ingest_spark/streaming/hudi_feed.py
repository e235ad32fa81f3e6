"""``hudi_feed`` — Structured Streaming source over EXTERNAL Hudi
tables (the streaming half of sources/hudi.py, completing the lake
streaming trifecta next to streaming/delta_feed.py and
streaming/iceberg_feed.py).

``spark.readStream.format("hudi_feed").option("path", dir).load()``
tails a Hudi table the way the hudi-spark runtime's incremental
streaming read does: offsets are positions in the COMPLETED timeline
(requested/inflight instants are invisible — the same torn-write rule
as the batch reader), and each micro-batch emits exactly the rows
WRITTEN AT one or more instants, identified by the per-row
``_hoodie_commit_time`` meta column:

  * a COW upsert slice contains rewritten old rows next to the new
    ones — the commit-time filter keeps only rows stamped with the
    batch's instant, so rewrites are NOT re-emitted;
  * compaction and clustering produce slices whose rows all carry
    their ORIGINAL commit times — those instants emit nothing, which
    is what makes table maintenance stream-safe (the dataChange=false
    analog of the Delta feed);
  * merge-on-read deltacommits are read from the log files' Avro data
    blocks (sources/hudi_log.py — pure-Python decode, runs in the
    worker with no session);
  * DELETE blocks do not surface — Hudi's incremental format without
    the CDC feature cannot represent deletes (the same documented
    boundary as ``read_hudi_incremental``); consumers needing deletes
    must diff snapshots.

A table written with ``hoodie.populate.meta.fields=false`` (no
``_hoodie_commit_time`` column) refuses at stream construction —
without the cursor column, upsert rewrites would be re-emitted as
phantom inserts.

Options: ``startingInstant`` (tail only instants strictly AFTER this
one; default replay from the beginning), ``maxFilesPerTrigger``.

Scale: ``latestOffset`` is one timeline listing; ``partitions``
walks file names plus log-block HEADERS (framing only, content not
decoded) on the driver and packs the base and log files into
byte-sized input partitions (``source._pack_units``).
"""

from __future__ import annotations

import os

from ..sources.hudi import (
    HudiProtocolError,
    _BASE_RE,
    _LOG_RE,
    _completed_instants,
)
from .source import (
    _pack_units,
    _register_source,
    _scalar_schema,
    _split_conf,
)


def _stream_schema(table_dir: str):
    """The Spark schema of one base file's arrow schema (scalar columns
    only) — the session-less twin of the batch reader's schema
    inference.  Zone-less timestamps read as TIMESTAMP_NTZ."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    for root, dirs, files in os.walk(table_dir):
        dirs[:] = [d for d in dirs if d != ".hoodie"]
        for name in sorted(files):
            if _BASE_RE.match(name) and name.endswith(".parquet"):
                arrow = pq.read_schema(os.path.join(root, name))
                if "_hoodie_commit_time" not in arrow.names:
                    raise HudiProtocolError(
                        "hudi_feed needs the _hoodie_commit_time "
                        "meta column (table written with hoodie."
                        "populate.meta.fields=false?) — without the "
                        "per-row cursor, upsert rewrites would "
                        "re-emit"
                    )
                try:
                    schema = from_arrow_schema(
                        arrow, prefer_timestamp_ntz=True
                    )
                except TypeError as e:  # an arrow type Spark lacks
                    raise HudiProtocolError(
                        f"hudi_feed: unsupported column type ({e})"
                    ) from None
                return _scalar_schema(schema, HudiProtocolError, "hudi_feed")
    raise HudiProtocolError(f"no base files under {table_dir}")


def _log_block_instants(path: str) -> set[str]:
    """Instants present in one log file's block headers — framing
    walk only, block content never decoded."""
    from ..sources.hudi_log import INSTANT_TIME, decode_blocks

    with open(path, "rb") as fh:
        data = fh.read()
    out = set()
    for blk in decode_blocks(data):
        inst = blk["headers"].get(INSTANT_TIME)
        if inst is not None:
            out.add(inst)
    return out


def _instant_files(table_dir: str, instant: str) -> list[tuple]:
    """[(kind, path)] of files carrying rows written at ``instant`` —
    base slices by file-name instant, log files by block headers."""
    out = []
    for root, dirs, files in os.walk(table_dir):
        dirs[:] = [d for d in dirs if d != ".hoodie"]
        for name in sorted(files):
            m = _BASE_RE.match(name)
            if m and name.endswith(".parquet"):
                if m.group("instant") == instant:
                    out.append(("base", os.path.join(root, name)))
                continue
            lm = _LOG_RE.match(name)
            if lm and instant in _log_block_instants(
                os.path.join(root, name)
            ):
                out.append(("log", os.path.join(root, name)))
    return out


def _make_hudi_feed_class(split):
    """Build the DataSource class; its reader packs files with
    ``split``, the registering session's :func:`~.source._split_conf`."""
    from pyspark.sql.datasource import DataSource, DataSourceStreamReader

    class _HudiFeedStreamReader(DataSourceStreamReader):
        def __init__(self, table_dir, schema, options):
            from pyspark.sql.pandas.types import to_arrow_schema

            self._dir = table_dir
            self._pa_schema = to_arrow_schema(schema)
            self._starting = options.get("startingInstant")
            self._max_files = int(options.get("maxFilesPerTrigger", 0))

        def _timeline(self) -> list[str]:
            return [i for i, _ in _completed_instants(self._dir)]

        def _start_index(self, log: list[str]) -> int:
            if self._starting is None:
                return -1
            s = str(self._starting)
            if s not in log:
                raise HudiProtocolError(
                    f"startingInstant {s} not in the completed "
                    "timeline"
                )
            return log.index(s)

        def initialOffset(self) -> dict:
            return {"index": self._start_index(self._timeline())}

        def latestOffset(self) -> dict:
            log = self._timeline()
            latest = len(log) - 1
            if self._max_files:
                # admission control pacing.  Spark (PySpark 4.1)
                # commits batch N to the reader only when it plans
                # batch N+1 and never commits a run's last batch, so
                # pacing off committed offsets lags a batch behind.
                # Pace off the offsets THIS instance already emitted
                # instead:
                # Spark plans (checkpointed start, emitted end]
                # batches, so every trigger advances one cap
                # window; after a restart the counter resets and a
                # few empty triggers re-sync (exactly-once holds —
                # partitions() is driven by Spark's checkpointed
                # start either way).
                cur = getattr(
                    self, "_paced", self._start_index(log)
                )
                taken, last = 0, cur
                for i in range(cur + 1, len(log)):
                    n = len(_instant_files(self._dir, log[i]))
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
            log = self._timeline()
            out = []
            for i in range(int(start["index"]) + 1,
                           int(end["index"]) + 1):
                for kind, path in _instant_files(self._dir, log[i]):
                    out.append((path, kind, log[i]))
            return _pack_units(out, split)

        def read(self, partition):
            import pyarrow as pa
            import pyarrow.compute as pc
            import pyarrow.parquet as pq

            from ..sources.hudi_log import log_records

            target = self._pa_schema
            names = target.names
            for path, kind, instant in partition.value:
                if kind == "base":
                    tbl = pq.read_table(path)
                    tbl = tbl.filter(
                        pc.equal(tbl["_hoodie_commit_time"], instant)
                    )
                    tbl = tbl.select(names).cast(target)
                else:
                    with open(path, "rb") as fh:
                        data = fh.read()
                    recs = [
                        rec
                        for _inst, _seq, is_del, rec in log_records(
                            data, {instant}, instant
                        )
                        if not is_del
                        and rec.get("_hoodie_commit_time") == instant
                    ]
                    tbl = pa.table(
                        {n: [r.get(n) for r in recs] for n in names},
                        schema=target,
                    )
                yield from tbl.to_batches()

    class HudiFeedDataSource(DataSource):
        """``format("hudi_feed")``: stream a Hudi table's committed
        write tail by per-row commit time."""

        @classmethod
        def name(cls) -> str:
            return "hudi_feed"

        def _table_dir(self) -> str:
            d = self.options.get("path")
            if not d:
                raise ValueError(
                    "hudi_feed needs .option('path', <table_dir>)"
                )
            return d

        def schema(self):
            return _stream_schema(self._table_dir())

        def streamReader(self, schema):
            return _HudiFeedStreamReader(
                self._table_dir(),
                _stream_schema(self._table_dir()),
                self.options,
            )

    return HudiFeedDataSource


def register_hudi_feed(spark) -> None:
    """Register ``hudi_feed`` on this session (see
    :func:`~.source._register_source`)."""
    _register_source(spark, _make_hudi_feed_class(_split_conf(spark)))
