"""Delta Lake interop reader tests (sources/delta.py).

Every fixture table here is assembled BY HAND per the public Delta
protocol (JSON actions written literally, checkpoint parquet built
row-by-row) — none of the reader's own code writes any of it, so a
self-consistent-but-wrong reader cannot pass.
"""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from artis_data_ingest_spark.sources.delta import (
    DeltaProtocolError,
    delta_history,
    read_delta,
    read_delta_changes,
    write_delta,
)

_SCHEMA = T.StructType([
    T.StructField("id", T.LongType(), True),
    T.StructField("name", T.StringType(), True),
])


def _commit(table_dir: str, v: int, actions: list[dict]) -> None:
    log = os.path.join(table_dir, "_delta_log")
    os.makedirs(log, exist_ok=True)
    with open(os.path.join(log, f"{v:020d}.json"), "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")


def _meta(schema: T.StructType, part_cols=(), conf=None) -> dict:
    return {"metaData": {
        "id": "fixture-table",
        "format": {"provider": "parquet", "options": {}},
        "schemaString": schema.json(),
        "partitionColumns": list(part_cols),
        "configuration": conf or {},
        "createdTime": 1700000000000,
    }}


_PROTO = {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}


def _data_file(table_dir: str, rel: str, pdf: pd.DataFrame) -> dict:
    path = os.path.join(table_dir, rel)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pdf.to_parquet(path, index=False)
    return {"add": {
        "path": rel, "partitionValues": {},
        "size": os.path.getsize(path),
        "modificationTime": 1700000000000, "dataChange": True,
    }}


def _basic_table(tmp_path) -> str:
    t = str(tmp_path / "dl")
    os.makedirs(t, exist_ok=True)
    a = _data_file(t, "part-a.parquet",
                   pd.DataFrame({"id": [1, 2], "name": ["x", "y"]}))
    b = _data_file(t, "part-b.parquet",
                   pd.DataFrame({"id": [3], "name": ["z"]}))
    _commit(t, 0, [_PROTO, _meta(_SCHEMA),
                   {"commitInfo": {"timestamp": 1, "operation": "WRITE"}},
                   a, b])
    c = _data_file(t, "part-c.parquet",
                   pd.DataFrame({"id": [4, 5], "name": ["u", "v"]}))
    _commit(t, 1, [
        {"commitInfo": {"timestamp": 2, "operation": "MERGE"}},
        c,
        {"remove": {"path": "part-b.parquet", "dataChange": True,
                    "deletionTimestamp": 2}},
    ])
    return t


def test_latest_snapshot_applies_adds_and_removes(spark, tmp_path):
    t = _basic_table(tmp_path)
    got = {tuple(r) for r in read_delta(spark, t).collect()}
    assert got == {(1, "x"), (2, "y"), (4, "u"), (5, "v")}


def test_time_travel_to_version_zero(spark, tmp_path):
    t = _basic_table(tmp_path)
    got = {tuple(r) for r in read_delta(spark, t, version=0).collect()}
    assert got == {(1, "x"), (2, "y"), (3, "z")}


def test_unknown_version_raises(spark, tmp_path):
    t = _basic_table(tmp_path)
    with pytest.raises(DeltaProtocolError, match="version 7"):
        read_delta(spark, t, version=7)


def test_history_counts_operations(spark, tmp_path):
    t = _basic_table(tmp_path)
    h = {r["version"]: r for r in delta_history(spark, t).collect()}
    assert h[0]["operation"] == "WRITE" and h[0]["n_added"] == 2
    assert h[1]["operation"] == "MERGE"
    assert h[1]["n_added"] == 1 and h[1]["n_removed"] == 1


def test_partition_values_reattach_with_types(spark, tmp_path):
    t = str(tmp_path / "dlp")
    os.makedirs(t, exist_ok=True)
    schema = T.StructType([
        T.StructField("id", T.LongType(), True),
        T.StructField("p", T.LongType(), True),   # partition col (long)
        T.StructField("s", T.StringType(), True), # partition col (str)
    ])
    # data files hold ONLY id — partition cols live in partitionValues
    a = _data_file(t, "p=0/s=aa/f1.parquet", pd.DataFrame({"id": [1, 2]}))
    a["add"]["partitionValues"] = {"p": "0", "s": "aa"}
    b = _data_file(t, "p=1/s=bb/f2.parquet", pd.DataFrame({"id": [3]}))
    b["add"]["partitionValues"] = {"p": "1", "s": "bb"}
    _commit(t, 0, [_PROTO, _meta(schema, part_cols=("p", "s")), a, b])
    df = read_delta(spark, t)
    assert df.schema["p"].dataType == T.LongType()
    got = {tuple(r) for r in df.collect()}
    assert got == {(1, 0, "aa"), (2, 0, "aa"), (3, 1, "bb")}
    assert df.columns == ["id", "p", "s"]  # declared column order


def test_checkpoint_is_actually_used(spark, tmp_path):
    """Build v0+v1, checkpoint at v1, add v2 — then DELETE the v0/v1
    JSON commits.  Reconstruction must come from the checkpoint plus
    the v2 replay alone."""
    t = _basic_table(tmp_path)
    log = os.path.join(t, "_delta_log")
    # hand-built checkpoint parquet for the v1 state (adds a, c)
    add_t = T.StructType([
        T.StructField("path", T.StringType()),
        T.StructField("partitionValues",
                      T.MapType(T.StringType(), T.StringType())),
        T.StructField("size", T.LongType()),
        T.StructField("modificationTime", T.LongType()),
        T.StructField("dataChange", T.BooleanType()),
    ])
    meta_t = T.StructType([
        T.StructField("id", T.StringType()),
        T.StructField("schemaString", T.StringType()),
        T.StructField("partitionColumns", T.ArrayType(T.StringType())),
        T.StructField("configuration",
                      T.MapType(T.StringType(), T.StringType())),
    ])
    proto_t = T.StructType([
        T.StructField("minReaderVersion", T.IntegerType()),
        T.StructField("minWriterVersion", T.IntegerType()),
    ])
    ck_schema = T.StructType([
        T.StructField("add", add_t),
        T.StructField("metaData", meta_t),
        T.StructField("protocol", proto_t),
    ])
    rows = [
        Row(add=None,
            metaData=Row(id="fixture-table",
                         schemaString=_SCHEMA.json(),
                         partitionColumns=[], configuration={}),
            protocol=None),
        Row(add=None, metaData=None, protocol=Row(1, 2)),
        Row(add=Row("part-a.parquet", {}, 1, 1, True),
            metaData=None, protocol=None),
        Row(add=Row("part-c.parquet", {}, 1, 1, True),
            metaData=None, protocol=None),
    ]
    ck_dir = str(tmp_path / "_ck")
    spark.createDataFrame(rows, ck_schema).coalesce(1).write.parquet(ck_dir)
    part = next(f for f in os.listdir(ck_dir) if f.endswith(".parquet"))
    os.replace(os.path.join(ck_dir, part),
               os.path.join(log, f"{1:020d}.checkpoint.parquet"))
    with open(os.path.join(log, "_last_checkpoint"), "w") as fh:
        json.dump({"version": 1, "size": 4}, fh)
    d = _data_file(t, "part-d.parquet",
                   pd.DataFrame({"id": [9], "name": ["w"]}))
    _commit(t, 2, [d, {"commitInfo": {"timestamp": 3,
                                      "operation": "WRITE"}}])
    # burn the pre-checkpoint commits: replay CANNOT use them
    os.remove(os.path.join(log, f"{0:020d}.json"))
    os.remove(os.path.join(log, f"{1:020d}.json"))
    got = {tuple(r) for r in read_delta(spark, t).collect()}
    assert got == {(1, "x"), (2, "y"), (4, "u"), (5, "v"), (9, "w")}
    # pinned read AT the checkpoint version still works, commit-less
    got1 = {tuple(r) for r in read_delta(spark, t, version=1).collect()}
    assert got1 == {(1, "x"), (2, "y"), (4, "u"), (5, "v")}


def test_column_mapping_name_mode(spark, tmp_path):
    t = str(tmp_path / "dlcm")
    os.makedirs(t, exist_ok=True)
    # logical id/name; physical col-1/col-2 (what Delta writers emit
    # after a RENAME under columnMapping.mode=name)
    fields = [
        {"name": "id", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.id": 1,
                      "delta.columnMapping.physicalName": "col-1"}},
        {"name": "name", "type": "string", "nullable": True,
         "metadata": {"delta.columnMapping.id": 2,
                      "delta.columnMapping.physicalName": "col-2"}},
    ]
    schema_json = json.dumps(
        {"type": "struct", "fields": fields})
    a = _data_file(t, "f.parquet",
                   pd.DataFrame({"col-1": [10], "col-2": ["q"]}))
    meta = {"metaData": {
        "id": "cm", "format": {"provider": "parquet", "options": {}},
        "schemaString": schema_json, "partitionColumns": [],
        "configuration": {"delta.columnMapping.mode": "name"},
    }}
    _commit(t, 0, [_PROTO, meta, a])
    df = read_delta(spark, t)
    assert df.columns == ["id", "name"]
    assert [tuple(r) for r in df.collect()] == [(10, "q")]


def test_undecodable_deletion_vector_errors_loudly(spark, tmp_path):
    """DVs are now decoded (r15), but a CORRUPT descriptor must still
    fail loudly, never silently return undeleted rows — and time
    travel before the DV version must stay readable."""
    t = _basic_table(tmp_path)
    dv = _data_file(t, "part-e.parquet", pd.DataFrame({"id": [6],
                                                       "name": ["d"]}))
    dv["add"]["deletionVector"] = {
        "storageType": "u", "pathOrInlineDv": "xyz", "offset": 1,
        "sizeInBytes": 40, "cardinality": 1,
    }
    _commit(t, 2, [dv])
    with pytest.raises((DeltaProtocolError, ValueError, OSError)):
        read_delta(spark, t).collect()
    # time travel BEFORE the DV version still reads fine
    assert read_delta(spark, t, version=1).count() == 4


def test_unsupported_protocol_refused(spark, tmp_path):
    t = str(tmp_path / "dlproto")
    os.makedirs(t, exist_ok=True)
    a = _data_file(t, "f.parquet", pd.DataFrame({"id": [1],
                                                 "name": ["x"]}))
    _commit(t, 0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["weirdFutureFeature"]}},
        _meta(_SCHEMA), a,
    ])
    with pytest.raises(DeltaProtocolError, match="weirdFutureFeature"):
        read_delta(spark, t)


def test_missing_log_raises(spark, tmp_path):
    with pytest.raises(DeltaProtocolError, match="_delta_log"):
        read_delta(spark, str(tmp_path))


# --------------------------------------------------------------------------
# incremental append tailing
# --------------------------------------------------------------------------


def test_changes_returns_appends_with_version_tag(spark, tmp_path):
    t = _basic_table(tmp_path)
    d = _data_file(t, "part-d.parquet",
                   pd.DataFrame({"id": [9, 10], "name": ["w", "q"]}))
    _commit(t, 2, [d, {"commitInfo": {"timestamp": 3,
                                      "operation": "WRITE"}}])
    tail = read_delta_changes(spark, t, starting_version=1)
    got = {tuple(r) for r in tail.collect()}
    assert got == {(9, "w", 2), (10, "q", 2)}
    assert tail.columns == ["id", "name", "_commit_version"]


def test_changes_from_minus_one_includes_version_zero(spark, tmp_path):
    t = _basic_table(tmp_path)
    tail = read_delta_changes(spark, t, starting_version=-1,
                              ending_version=0)
    got = {tuple(r) for r in tail.collect()}
    assert got == {(1, "x", 0), (2, "y", 0), (3, "z", 0)}


def test_changes_refuse_versions_with_removes(spark, tmp_path):
    t = _basic_table(tmp_path)
    with pytest.raises(DeltaProtocolError, match="remove"):
        read_delta_changes(spark, t, starting_version=0)  # v1 removes


def test_changes_empty_range_yields_empty_frame(spark, tmp_path):
    t = _basic_table(tmp_path)
    tail = read_delta_changes(spark, t, starting_version=0,
                              ending_version=0)
    assert tail.count() == 0
    assert tail.columns == ["id", "name", "_commit_version"]


# --------------------------------------------------------------------------
# writer (export half)
# --------------------------------------------------------------------------


def test_write_delta_roundtrip_unpartitioned(spark, tmp_path):
    t = str(tmp_path / "out")
    df = spark.createDataFrame(
        [(i, f"n{i}") for i in range(100)], "id long, name string"
    ).repartition(3)
    assert write_delta(df, t) == 0
    back = read_delta(spark, t)
    assert {tuple(r) for r in back.collect()} == \
        {(i, f"n{i}") for i in range(100)}
    # the log is protocol-shaped: v0 carries protocol+metaData, adds
    # have numRecords stats
    with open(os.path.join(t, "_delta_log", f"{0:020d}.json")) as fh:
        actions = [json.loads(line) for line in fh]
    assert any(a.get("protocol") for a in actions)
    assert any(a.get("metaData") for a in actions)
    adds = [a["add"] for a in actions if a.get("add")]
    assert sum(json.loads(a["stats"])["numRecords"] for a in adds) == 100


def test_write_delta_partitioned_layout_and_values(spark, tmp_path):
    t = str(tmp_path / "outp")
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "id long, grp string"
    )
    write_delta(df, t, partition_by=("grp",))
    # protocol: partition cols live in partitionValues, not the files
    with open(os.path.join(t, "_delta_log", f"{0:020d}.json")) as fh:
        adds = [json.loads(line)["add"] for line in fh
                if '"add"' in line]
    assert {a["partitionValues"]["grp"] for a in adds} == {"a", "b"}
    assert all(a["path"].startswith("grp=") for a in adds)
    import pyarrow.parquet as pq

    sample = os.path.join(t, adds[0]["path"])
    assert "grp" not in pq.ParquetFile(sample).schema_arrow.names
    back = read_delta(spark, t)
    assert {tuple(r) for r in back.collect()} == \
        {(1, "a"), (2, "a"), (3, "b")}
    assert back.columns == ["id", "grp"]


def test_write_delta_append_then_tail(spark, tmp_path):
    t = str(tmp_path / "outa")
    write_delta(spark.createDataFrame([(1,)], "id long"), t)
    v = write_delta(spark.createDataFrame([(2,), (3,)], "id long"), t,
                    mode="append")
    assert v == 1
    assert read_delta(spark, t).count() == 3
    tail = read_delta_changes(spark, t, starting_version=0)
    assert {tuple(r) for r in tail.collect()} == {(2, 1), (3, 1)}


def test_write_delta_overwrite_removes_old_files(spark, tmp_path):
    t = str(tmp_path / "outo")
    write_delta(spark.createDataFrame([(1,), (2,)], "id long"), t)
    write_delta(spark.createDataFrame([(9,)], "id long"), t,
                mode="overwrite")
    assert [tuple(r) for r in read_delta(spark, t).collect()] == [(9,)]
    # time travel still sees v0
    assert read_delta(spark, t, version=0).count() == 2
    h = {r["version"]: r for r in delta_history(spark, t).collect()}
    assert h[1]["operation"] == "OVERWRITE" and h[1]["n_removed"] >= 1


def test_write_delta_mode_error_refuses_existing(spark, tmp_path):
    t = str(tmp_path / "oute")
    write_delta(spark.createDataFrame([(1,)], "id long"), t)
    with pytest.raises(DeltaProtocolError, match="already holds"):
        write_delta(spark.createDataFrame([(2,)], "id long"), t)


def test_write_delta_version_collision_is_excl(spark, tmp_path,
                                               monkeypatch):
    import artis_data_ingest_spark.sources.delta as dl

    t = str(tmp_path / "outx")
    write_delta(spark.createDataFrame([(1,)], "id long"), t)
    # freeze the log listing at [v0], then let a 'racing' writer
    # publish v1 — our commit must hit O_EXCL, not overwrite it
    real_list = dl._list_log
    monkeypatch.setattr(dl, "_list_log",
                        lambda _d: ([0], {}))
    with open(os.path.join(t, "_delta_log", f"{1:020d}.json"),
              "w") as fh:
        fh.write(json.dumps({"commitInfo": {"timestamp": 0}}) + "\n")
    with pytest.raises(FileExistsError):
        write_delta(spark.createDataFrame([(2,)], "id long"), t,
                    mode="append")
    monkeypatch.setattr(dl, "_list_log", real_list)
    # the racing writer's commit is intact
    assert delta_history(spark, t).count() == 2


def test_write_delta_append_enforces_schema_and_partitioning(
    spark, tmp_path
):
    t = str(tmp_path / "enf")
    write_delta(spark.createDataFrame([(1, "a")], "id long, s string"),
                t, partition_by=("s",))
    with pytest.raises(DeltaProtocolError, match="schema mismatch"):
        write_delta(spark.createDataFrame([(2,)], "id long"), t,
                    mode="append", partition_by=("s",))
    with pytest.raises(DeltaProtocolError, match="partitioning"):
        write_delta(
            spark.createDataFrame([(2, "b")], "id long, s string"),
            t, mode="append")
    # conforming append still lands
    write_delta(spark.createDataFrame([(2, "b")], "id long, s string"),
                t, mode="append", partition_by=("s",))
    assert read_delta(spark, t).count() == 2


def test_changes_refuse_missing_commit_jsons(spark, tmp_path):
    t = str(tmp_path / "gap")
    write_delta(spark.createDataFrame([(1,)], "id long"), t)
    write_delta(spark.createDataFrame([(2,)], "id long"), t,
                mode="append")
    write_delta(spark.createDataFrame([(3,)], "id long"), t,
                mode="append")
    os.remove(os.path.join(t, "_delta_log", f"{1:020d}.json"))
    with pytest.raises(DeltaProtocolError, match="missing"):
        read_delta_changes(spark, t, starting_version=0)


def test_write_delta_checkpoint_replaces_burned_commits(spark,
                                                        tmp_path):
    """Our own checkpoint writer must satisfy our reader with the
    pre-checkpoint commits DELETED — proving the parquet layout is
    the one the protocol's state reconstruction expects."""
    from artis_data_ingest_spark.sources.delta import (
        write_delta_checkpoint,
    )

    t = str(tmp_path / "ockpt")
    write_delta(spark.createDataFrame([(1, "a")], "id long, s string"),
                t, partition_by=("s",))
    write_delta(spark.createDataFrame([(2, "b")], "id long, s string"),
                t, mode="append", partition_by=("s",))
    v = write_delta_checkpoint(spark, t)
    assert v == 1
    write_delta(spark.createDataFrame([(3, "c")], "id long, s string"),
                t, mode="append", partition_by=("s",))
    log = os.path.join(t, "_delta_log")
    os.remove(os.path.join(log, f"{0:020d}.json"))
    os.remove(os.path.join(log, f"{1:020d}.json"))
    got = {tuple(r) for r in read_delta(spark, t).collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c")}


def test_compact_and_vacuum_lifecycle(spark, tmp_path):
    from artis_data_ingest_spark.sources.delta import (
        compact_delta,
        vacuum_delta,
    )

    t = str(tmp_path / "life")
    for k in range(3):
        write_delta(
            spark.createDataFrame([(k * 10 + j,) for j in range(4)],
                                  "id long"),
            t, mode="append" if k else "error",
        )
    before = read_delta(spark, t)
    assert before.count() == 12
    v = compact_delta(spark, t, target_files=1)
    assert v == 3
    after = read_delta(spark, t)
    assert {r["id"] for r in after.collect()} == \
        {r["id"] for r in before.collect()}
    # plan reads ONE file now
    assert after.rdd.getNumPartitions() <= 2
    # pre-compact versions still readable until vacuum
    assert read_delta(spark, t, version=1).count() == 8
    doomed = vacuum_delta(spark, t, dry_run=True,
                          retention_hours=0, force=True)
    # every pre-compact part file is now unreferenced; the compacted
    # file is not
    assert len(doomed) >= 3
    import os as _os

    on_disk = [f for f in _os.listdir(t) if f.endswith(".parquet")]
    assert len(on_disk) == len(doomed) + 1
    # the retention interlock: fresh files survive the default
    # window, and a zero-retention vacuum refuses without force
    assert vacuum_delta(spark, t, dry_run=True) == []
    with pytest.raises(DeltaProtocolError, match="force"):
        vacuum_delta(spark, t, retention_hours=0)
    assert vacuum_delta(spark, t, retention_hours=0,
                        force=True) == doomed
    assert read_delta(spark, t).count() == 12  # current survives
    # history pins: OPTIMIZE recorded, removes counted
    h = {r["version"]: r for r in delta_history(spark, t).collect()}
    assert h[3]["operation"] == "OPTIMIZE"
    assert h[3]["n_removed"] == len(doomed)


def test_compact_refuses_partitioned_export(spark, tmp_path):
    from artis_data_ingest_spark.sources.delta import compact_delta

    t = str(tmp_path / "lifep")
    write_delta(spark.createDataFrame([(1, "a")], "id long, s string"),
                t, partition_by=("s",))
    with pytest.raises(DeltaProtocolError, match="unpartitioned"):
        compact_delta(spark, t)


# --------------------------------------------------------------------------
# change data feed
# --------------------------------------------------------------------------


def test_cdf_reads_cdc_files_and_inserts(spark, tmp_path):
    from artis_data_ingest_spark.sources.delta import read_delta_cdf

    t = str(tmp_path / "cdf")
    os.makedirs(t, exist_ok=True)
    a = _data_file(t, "a.parquet",
                   pd.DataFrame({"id": [1, 2], "name": ["x", "y"]}))
    _commit(t, 0, [_PROTO, _meta(_SCHEMA), a])
    # v1: delete id=2, recorded via a cdc file
    os.makedirs(os.path.join(t, "_change_data"), exist_ok=True)
    pd.DataFrame({"id": [2], "name": ["y"],
                  "_change_type": ["delete"]}).to_parquet(
        os.path.join(t, "_change_data", "c1.parquet"), index=False)
    b = _data_file(t, "a2.parquet",
                   pd.DataFrame({"id": [1], "name": ["x"]}))
    _commit(t, 1, [
        {"remove": {"path": "a.parquet", "dataChange": True}},
        b,
        {"cdc": {"path": "_change_data/c1.parquet",
                 "partitionValues": {}, "size": 1,
                 "dataChange": False}},
    ])
    feed = read_delta_cdf(spark, t, starting_version=-1)
    got = {tuple(r) for r in feed.collect()}
    assert got == {(1, "x", "insert", 0), (2, "y", "insert", 0),
                   (2, "y", "delete", 1)}
    # cdc files must NOT leak into snapshot reads
    assert read_delta(spark, t).count() == 1


def test_cdf_refuses_unrecorded_data_change(spark, tmp_path):
    from artis_data_ingest_spark.sources.delta import read_delta_cdf

    t = _basic_table(tmp_path)  # v1 removes without cdc actions
    with pytest.raises(DeltaProtocolError, match="cdc"):
        read_delta_cdf(spark, t, starting_version=-1)
    # a range that stops before the unrecorded change still works
    feed = read_delta_cdf(spark, t, starting_version=-1,
                          ending_version=0)
    assert {r["_change_type"] for r in feed.collect()} == {"insert"}


def test_cdf_empty_range(spark, tmp_path):
    from artis_data_ingest_spark.sources.delta import read_delta_cdf

    t = _basic_table(tmp_path)
    feed = read_delta_cdf(spark, t, starting_version=0,
                          ending_version=0)
    assert feed.count() == 0
    assert feed.columns[-2:] == ["_change_type", "_commit_version"]


# --------------------------------------------------------------------------
# delta_feed Structured Streaming source
# --------------------------------------------------------------------------


def _run_feed(spark, table, sink, ckpt, **opts):
    from artis_data_ingest_spark.streaming.delta_feed import (
        register_delta_feed,
    )

    register_delta_feed(spark)
    reader = spark.readStream.format("delta_feed").option("path", table)
    for k, v in opts.items():
        reader = reader.option(k, v)
    q = (
        reader.load()
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    return spark.read.parquet(sink)


def test_feed_streams_appends_with_versions(spark, tmp_path):
    t = str(tmp_path / "fd")
    write_delta(spark.createDataFrame([(1,)], "id long"), t)
    write_delta(spark.createDataFrame([(2,), (3,)], "id long"), t,
                mode="append")
    out = _run_feed(spark, t, str(tmp_path / "s"), str(tmp_path / "c"))
    assert {tuple(r) for r in out.collect()} == \
        {(1, 0), (2, 1), (3, 1)}


def test_feed_resume_is_exactly_once(spark, tmp_path):
    t = str(tmp_path / "fdr")
    write_delta(spark.createDataFrame([(1,)], "id long"), t)
    sink, ckpt = str(tmp_path / "s"), str(tmp_path / "c")
    _run_feed(spark, t, sink, ckpt)
    write_delta(spark.createDataFrame([(2,)], "id long"), t,
                mode="append")
    out = _run_feed(spark, t, sink, ckpt)  # same checkpoint
    assert sorted(tuple(r) for r in out.collect()) == \
        [(1, 0), (2, 1)]


def test_feed_refuses_removes_without_optin(spark, tmp_path):
    from pyspark.errors.exceptions.captured import StreamingQueryException

    t = _basic_table(tmp_path)  # v1 removes a file
    with pytest.raises(StreamingQueryException,
                       match="ignoreChanges"):
        _run_feed(spark, t, str(tmp_path / "s"), str(tmp_path / "c"))


def test_feed_ignore_changes_reemits_rewrites(spark, tmp_path):
    t = _basic_table(tmp_path)
    out = _run_feed(spark, t, str(tmp_path / "s"),
                    str(tmp_path / "c"), ignoreChanges="true")
    got = {tuple(r) for r in out.collect()}
    # v0 adds + v1's rewrite adds (downstream dedups, per contract)
    assert got == {(1, "x", 0), (2, "y", 0), (3, "z", 0),
                   (4, "u", 1), (5, "v", 1)}


def test_feed_ignore_deletes_skips_delete_only_version(spark,
                                                       tmp_path):
    t = str(tmp_path / "fdd")
    a = _data_file(t, "a.parquet", pd.DataFrame({"id": [1],
                                                 "name": ["x"]}))
    _commit(t, 0, [_PROTO, _meta(_SCHEMA), a])
    _commit(t, 1, [{"remove": {"path": "a.parquet",
                               "dataChange": True}}])
    b = _data_file(t, "b.parquet", pd.DataFrame({"id": [2],
                                                 "name": ["y"]}))
    _commit(t, 2, [b])
    out = _run_feed(spark, t, str(tmp_path / "s"),
                    str(tmp_path / "c"), ignoreDeletes="true")
    assert {tuple(r) for r in out.collect()} == \
        {(1, "x", 0), (2, "y", 2)}


def test_feed_starting_version_skips_history(spark, tmp_path):
    t = str(tmp_path / "fdsv")
    write_delta(spark.createDataFrame([(1,)], "id long"), t)
    write_delta(spark.createDataFrame([(2,)], "id long"), t,
                mode="append")
    out = _run_feed(spark, t, str(tmp_path / "s"),
                    str(tmp_path / "c"), startingVersion="1")
    assert [tuple(r) for r in out.collect()] == [(2, 1)]


def test_changes_reattach_partition_values(spark, tmp_path):
    t = str(tmp_path / "dlpc")
    os.makedirs(t, exist_ok=True)
    schema = T.StructType([
        T.StructField("id", T.LongType(), True),
        T.StructField("p", T.LongType(), True),
    ])
    a = _data_file(t, "p=0/f1.parquet", pd.DataFrame({"id": [1]}))
    a["add"]["partitionValues"] = {"p": "0"}
    _commit(t, 0, [_PROTO, _meta(schema, part_cols=("p",)), a])
    b = _data_file(t, "p=5/f2.parquet", pd.DataFrame({"id": [2, 3]}))
    b["add"]["partitionValues"] = {"p": "5"}
    _commit(t, 1, [b])
    tail = read_delta_changes(spark, t, starting_version=0)
    got = {tuple(r) for r in tail.collect()}
    assert got == {(2, 5, 1), (3, 5, 1)}


# --------------------------------------------------------------------------
# round-15 advice fixes: leading gaps, OPTIMIZE skip, checkpoint fidelity
# --------------------------------------------------------------------------


def _checkpointed_cleaned_table(spark, tmp_path, name: str) -> str:
    """versions 0..2, checkpoint at 2, version 3, then JSONs 0..2
    cleaned away — the shape an external engine's log-retention
    leaves behind.  The snapshot still reconstructs (checkpoint), but
    the append tail below the log floor is gone for good."""
    from artis_data_ingest_spark.sources.delta import (
        write_delta_checkpoint,
    )

    t = str(tmp_path / name)
    for k in range(3):
        write_delta(spark.createDataFrame([(k,)], "id long"), t,
                    mode="append" if k else "error")
    assert write_delta_checkpoint(spark, t) == 2
    write_delta(spark.createDataFrame([(3,)], "id long"), t,
                mode="append")
    log = os.path.join(t, "_delta_log")
    for v in range(3):
        os.remove(os.path.join(log, f"{v:020d}.json"))
    return t


def test_changes_refuse_leading_gap_below_log_floor(spark, tmp_path):
    """A cleaned log whose floor sits ABOVE cursor+1 must refuse: the
    skipped versions' rows cannot be reconstructed from JSON commits
    at all, and clamping to min(commits) silently loses them."""
    t = _checkpointed_cleaned_table(spark, tmp_path, "lead")
    # cursor 0 needs versions 1..3; 1 and 2 are gone
    with pytest.raises(DeltaProtocolError, match="log floor"):
        read_delta_changes(spark, t, starting_version=0)
    # a cursor at the log floor - 1 is still fine (nothing skipped)
    tail = read_delta_changes(spark, t, starting_version=2)
    assert [tuple(r) for r in tail.collect()] == [(3, 3)]


def test_feed_refuses_leading_gap_below_log_floor(spark, tmp_path):
    from pyspark.errors.exceptions.captured import StreamingQueryException

    t = _checkpointed_cleaned_table(spark, tmp_path, "leadf")
    with pytest.raises(StreamingQueryException, match="log floor"):
        _run_feed(spark, t, str(tmp_path / "s"), str(tmp_path / "c"),
                  startingVersion="1")


def test_changes_skip_optimize_commits(spark, tmp_path):
    """dataChange=false commits (OPTIMIZE) rearrange bytes, not rows —
    the append tail must skip them, not classify them as rewrites."""
    from artis_data_ingest_spark.sources.delta import compact_delta

    t = str(tmp_path / "opt")
    write_delta(spark.createDataFrame([(1,)], "id long"), t)
    write_delta(spark.createDataFrame([(2,)], "id long"), t,
                mode="append")
    v = compact_delta(spark, t, target_files=1)   # dataChange=false
    write_delta(spark.createDataFrame([(3,)], "id long"), t,
                mode="append")
    tail = read_delta_changes(spark, t, starting_version=0)
    assert {tuple(r) for r in tail.collect()} == {(2, 1), (3, v + 1)}


def test_feed_survives_optimize_commit(spark, tmp_path):
    from artis_data_ingest_spark.sources.delta import compact_delta

    t = str(tmp_path / "optf")
    write_delta(spark.createDataFrame([(1,)], "id long"), t)
    compact_delta(spark, t, target_files=1)
    write_delta(spark.createDataFrame([(2,)], "id long"), t,
                mode="append")
    out = _run_feed(spark, t, str(tmp_path / "s"), str(tmp_path / "c"))
    # v1 (OPTIMIZE) contributes nothing; no ignoreChanges needed
    assert {tuple(r) for r in out.collect()} == {(1, 0), (2, 2)}


def test_cdf_skips_optimize_commits(spark, tmp_path):
    from artis_data_ingest_spark.sources.delta import (
        compact_delta,
        read_delta_cdf,
    )

    t = str(tmp_path / "optc")
    write_delta(spark.createDataFrame([(1,)], "id long"), t)
    compact_delta(spark, t, target_files=1)
    write_delta(spark.createDataFrame([(2,)], "id long"), t,
                mode="append")
    feed = read_delta_cdf(spark, t, starting_version=0)
    assert {tuple(r) for r in feed.collect()} == \
        {(2, "insert", 2)}


def test_checkpoint_preserves_protocol_and_deletion_vectors(
    spark, tmp_path
):
    """A checkpoint that re-synthesized protocol (1,2) or dropped a
    live add's deletionVector would make checkpoint-based readers
    resurrect deleted rows; both must survive verbatim."""
    from artis_data_ingest_spark.sources.delta import (
        _snapshot_state,
        write_delta_checkpoint,
    )

    t = str(tmp_path / "ckdv")
    os.makedirs(t, exist_ok=True)
    a = _data_file(t, "a.parquet",
                   pd.DataFrame({"id": [1, 2], "name": ["x", "y"]}))
    a["add"]["deletionVector"] = {
        "storageType": "i", "pathOrInlineDv": "00000000",
        "sizeInBytes": 6, "cardinality": 1,
    }
    proto = {"protocol": {
        "minReaderVersion": 3, "minWriterVersion": 7,
        "readerFeatures": ["deletionVectors"],
        "writerFeatures": ["deletionVectors"],
    }}
    _commit(t, 0, [proto, _meta(_SCHEMA), a])
    v = write_delta_checkpoint(spark, t)
    assert v == 0
    # burn the JSON commit: state must reconstruct from the
    # checkpoint alone, DV and protocol intact
    os.remove(os.path.join(t, "_delta_log", f"{0:020d}.json"))
    adds, _meta_d, _v, protocol = _snapshot_state(spark, t, None)
    assert protocol["minReaderVersion"] == 3
    assert protocol["minWriterVersion"] == 7
    assert list(protocol["readerFeatures"]) == ["deletionVectors"]
    dv = adds["a.parquet"]["deletionVector"]
    assert dv["storageType"] == "i"
    assert dv["pathOrInlineDv"] == "00000000"
    assert dv["cardinality"] == 1


# --------------------------------------------------------------------------
# deletion vectors: codec golden bytes, read masking, DV-writing DELETE
# --------------------------------------------------------------------------


def test_roaring_codec_matches_spec_golden_bytes():
    """Pin the serialized form to hand-derived bytes of the PUBLIC
    formats (Delta PROTOCOL.md magic + RoaringFormatSpec cookie
    12346), so the codec is checked against the spec, not itself:
    magic 1681511377 LE | int64 LE bitmap count | cookie 12346 |
    container count | <key, card-1> pairs | offsets | values."""
    from artis_data_ingest_spark.sources.roaring import (
        deserialize_dv,
        serialize_dv,
        z85_decode,
        z85_encode,
    )

    golden = bytes.fromhex(
        "d1d33964"          # magic 1681511377 little-endian
        "0100000000000000"  # one 32-bit bitmap
        "3a300000"          # cookie 12346 (no run containers)
        "02000000"          # two containers
        "00000100"          # key 0, cardinality-1 = 1  (values 0, 2)
        "01000000"          # key 1, cardinality-1 = 0  (70000)
        "18000000"          # offset of container 0 (8+8+8 = 24)
        "1c000000"          # offset of container 1 (24 + 4)
        "00000200"          # container 0: uint16 values 0, 2
        "7011"              # container 1: uint16 value 4464 (70000&0xFFFF)
    )
    assert serialize_dv([0, 2, 70000]) == golden
    assert deserialize_dv(golden) == [0, 2, 70000]
    # RFC 32 Z85 test vector
    hello = bytes([0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B])
    assert z85_encode(hello) == "HelloWorld"
    assert z85_decode("HelloWorld") == hello


def test_roaring_decodes_run_and_bitset_containers():
    import struct

    from artis_data_ingest_spark.sources.roaring import (
        _deserialize_bitmap32,
        deserialize_dv,
        serialize_dv,
    )

    # run container via cookie 12347: one run [10, 20]
    buf = (struct.pack("<i", 12347) + b"\x01"
           + struct.pack("<HH", 0, 10)
           + struct.pack("<H", 1) + struct.pack("<HH", 10, 10))
    vals, _ = _deserialize_bitmap32(buf, 0)
    assert vals == list(range(10, 21))
    # bitset container roundtrip (cardinality > 4096) + high buckets
    dense = list(range(0, 9000)) + [2**32 + 7, 2**33]
    assert deserialize_dv(serialize_dv(dense)) == sorted(dense)


def _dv_table(tmp_path, storage: str) -> str:
    """Hand-write a Delta table whose add carries a DV deleting rows
    0 and 2 of a 4-row file — built action-by-action per the
    protocol, not by our writer."""
    from artis_data_ingest_spark.sources.roaring import (
        append_dv_entry,
        serialize_dv,
        z85_encode,
    )

    t = str(tmp_path / f"dv_{storage}")
    os.makedirs(t, exist_ok=True)
    a = _data_file(
        t, "a.parquet",
        pd.DataFrame({"id": [1, 2, 3, 4],
                      "name": ["x", "y", "z", "w"]}),
    )
    payload = serialize_dv([0, 2])
    if storage == "i":
        dv = {"storageType": "i",
              "pathOrInlineDv": z85_encode(payload),
              "sizeInBytes": len(payload), "cardinality": 2}
    else:
        import uuid

        u = uuid.uuid4()
        off = append_dv_entry(
            os.path.join(t, f"deletion_vector_{u}.bin"), payload
        )
        dv = {"storageType": "u",
              "pathOrInlineDv": z85_encode(u.bytes),
              "offset": off, "sizeInBytes": len(payload),
              "cardinality": 2}
    a["add"]["deletionVector"] = dv
    proto = {"protocol": {
        "minReaderVersion": 3, "minWriterVersion": 7,
        "readerFeatures": ["deletionVectors"],
        "writerFeatures": ["deletionVectors"],
    }}
    _commit(t, 0, [proto, _meta(_SCHEMA), a])
    return t


@pytest.mark.parametrize("storage", ["i", "u"])
def test_read_delta_masks_deletion_vectors(spark, tmp_path, storage):
    t = _dv_table(tmp_path, storage)
    got = {tuple(r) for r in read_delta(spark, t).collect()}
    assert got == {(2, "y"), (4, "w")}


def test_dv_cardinality_mismatch_refuses(spark, tmp_path):
    t = _dv_table(tmp_path, "i")
    log = os.path.join(t, "_delta_log")
    with open(os.path.join(log, f"{0:020d}.json")) as fh:
        actions = [json.loads(line) for line in fh]
    for a in actions:
        if a.get("add"):
            a["add"]["deletionVector"]["cardinality"] = 3
    _commit(t, 0, actions)
    with pytest.raises(DeltaProtocolError, match="cardinality"):
        read_delta(spark, t).collect()


def test_delete_delta_where_writes_deletion_vectors(spark, tmp_path):
    """The exporter's row-level DELETE: O(delta) DV commit, read back
    by our own DV-capable reader (the verdict's roundtrip), old
    versions untouched, protocol upgraded to (3,7)."""
    from artis_data_ingest_spark.sources.delta import (
        _snapshot_state,
        delete_delta_where,
    )

    t = str(tmp_path / "dvw")
    write_delta(
        spark.range(0, 100).selectExpr("id", "id % 3 as g"), t,
        partition_by=("g",),
    )
    assert delete_delta_where(spark, t, "id % 10 = 0") == 1
    assert read_delta(spark, t).count() == 90
    # merge into existing DVs on a second delete
    assert delete_delta_where(spark, t, "id % 10 = 1") == 2
    got = {r["id"] for r in read_delta(spark, t).collect()}
    assert got == {i for i in range(100) if i % 10 not in (0, 1)}
    # time travel unaffected
    assert read_delta(spark, t, version=0).count() == 100
    assert read_delta(spark, t, version=1).count() == 90
    # protocol upgraded once, with the feature listed
    _, _, _, proto = _snapshot_state(spark, t, None)
    assert proto["minReaderVersion"] == 3
    assert "deletionVectors" in proto["readerFeatures"]
    # deleting every row of a partition drops its files outright
    delete_delta_where(spark, t, "g = 2")
    adds, _, _, _ = _snapshot_state(spark, t, None)
    assert all(not a["path"].startswith("g=2/") for a in adds.values())
    # no-match DELETE commits nothing
    v = delete_delta_where(spark, t, "id = 12345")
    assert v == 3


def test_delete_then_checkpoint_roundtrip(spark, tmp_path):
    """DV delete → checkpoint → burn JSON commits → reconstruct from
    the checkpoint alone: the masked rows stay masked (task-7
    roundtrip through the task-1 reader)."""
    from artis_data_ingest_spark.sources.delta import (
        delete_delta_where,
        write_delta_checkpoint,
    )

    t = str(tmp_path / "dvck")
    write_delta(spark.range(0, 50).selectExpr("id"), t)
    delete_delta_where(spark, t, "id < 10")
    v = write_delta_checkpoint(spark, t)
    log = os.path.join(t, "_delta_log")
    for vv in range(v):
        os.remove(os.path.join(log, f"{vv:020d}.json"))
    got = {r["id"] for r in read_delta(spark, t).collect()}
    assert got == set(range(10, 50))


# --------------------------------------------------------------------------
# compact_delta zorder_by — OPTIMIZE ZORDER for exported tables
# --------------------------------------------------------------------------


def test_compact_zorder_clusters_both_dimensions(spark, tmp_path):
    import json as _json

    import pyarrow.parquet as _pq

    from artis_data_ingest_spark.sources.delta import (
        compact_delta,
        read_delta,
        write_delta,
    )

    t = str(tmp_path / "dz")
    # a 32x32 grid written in row-major order: a plain sort clusters
    # x only; z-order must produce narrow envelopes in BOTH dims
    df = spark.range(1024).selectExpr(
        "id", "id div 32 as x", "id % 32 as y"
    )
    write_delta(df.repartition(8), t)
    v = compact_delta(spark, t, target_files=4, zorder_by=("x", "y"))
    back = read_delta(spark, t)
    assert back.count() == 1024
    assert {r["id"] for r in back.collect()} == set(range(1024))
    # inspect the committed adds: 4 files, each with min/max stats
    # whose x AND y spans are both well under the global span
    log = os.path.join(t, "_delta_log", f"{v:020d}.json")
    adds = [
        _json.loads(line)["add"]
        for line in open(log)
        if '"add"' in line
    ]
    assert len(adds) == 4
    for a in adds:
        st = _json.loads(a["stats"])
        assert st["numRecords"] > 0
        x_span = st["maxValues"]["x"] - st["minValues"]["x"]
        y_span = st["maxValues"]["y"] - st["minValues"]["y"]
        assert x_span <= 16 and y_span <= 16, (x_span, y_span)
        assert not a["dataChange"]
    # physical files really are z-sorted (first file holds the
    # low-low quadrant, not the first row-major rows)
    f0 = _pq.read_table(os.path.join(t, adds[0]["path"]))
    del f0


def test_compact_zorder_refuses_non_numeric(spark, tmp_path):
    from artis_data_ingest_spark.sources.delta import (
        compact_delta,
        write_delta,
    )

    t = str(tmp_path / "dzs")
    write_delta(
        spark.range(4).selectExpr("id", "cast(id as string) s"), t
    )
    with pytest.raises(DeltaProtocolError, match="numeric"):
        compact_delta(spark, t, zorder_by=("s",))


def test_feed_max_files_per_trigger_advances(spark, tmp_path):
    """r15 regression pin: the PySpark 4.1 streaming runner never
    calls commit() on python stream readers, so committed-offset
    pacing pinned a capped stream at its first offset forever.  The
    emitted-offset pacing must drain a 3-version backlog across
    multiple processingTime micro-batches."""
    import glob as _glob
    import time

    from artis_data_ingest_spark.streaming.delta_feed import (
        register_delta_feed,
    )

    t = str(tmp_path / "fdmax")
    for i in range(3):
        write_delta(
            spark.createDataFrame([(i,)], "id long"), t,
            mode="error" if i == 0 else "append",
        )
    sink, ckpt = str(tmp_path / "s"), str(tmp_path / "c")
    register_delta_feed(spark)
    q = (
        spark.readStream.format("delta_feed").option("path", t)
        .option("maxFilesPerTrigger", "1").load()
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="1 second").start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            try:
                if spark.read.parquet(sink).count() >= 3:
                    break
            except Exception:  # noqa: BLE001 - sink not created yet
                pass
            time.sleep(1)
    finally:
        q.stop()
    got = sorted(tuple(r) for r in spark.read.parquet(sink).collect())
    assert got == [(0, 0), (1, 1), (2, 2)]
    assert len(_glob.glob(os.path.join(ckpt, "offsets", "*"))) >= 2


def test_fixture_build_failure_leaves_no_table_and_next_call_rebuilds(
    spark, tmp_path, monkeypatch
):
    """A fixture cache whose build raises part-way (here after its
    first bucket file moved into the table) is removed whole, so no
    half-built table or ``_build_tmp`` debris survives, and the next
    call builds it from scratch and marks it ``_SUCCESS``."""
    from conftest import SF_DIR

    from artis_data_ingest_spark.plans import pipeline

    table = str(tmp_path / "delta_interop")
    monkeypatch.setattr(pipeline, "_delta_cache_path", lambda sf_dir: table)
    real_replace = os.replace
    moved = []

    def replace_then_fail(src, dst):
        if moved:
            raise OSError("disk full")
        moved.append(dst)
        real_replace(src, dst)

    monkeypatch.setattr(os, "replace", replace_then_fail)
    with pytest.raises(OSError, match="disk full"):
        pipeline._build_delta_fixture(spark, SF_DIR)
    assert moved and moved[0].startswith(table)
    assert not os.path.exists(table)

    monkeypatch.setattr(os, "replace", real_replace)
    assert pipeline._build_delta_fixture(spark, SF_DIR) == table
    assert sorted(os.listdir(table)) == [
        "_SUCCESS", "_delta_log",
        "bucket=0", "bucket=1", "bucket=2", "bucket=3",
    ]
    assert len(os.listdir(os.path.join(table, "_delta_log"))) == 3
    # cached: a third call neither rebuilds nor touches the table
    mtime = os.stat(os.path.join(table, "_SUCCESS")).st_mtime_ns
    assert pipeline._build_delta_fixture(spark, SF_DIR) == table
    assert os.stat(os.path.join(table, "_SUCCESS")).st_mtime_ns == mtime
    buckets = read_delta(spark, table).select("bucket").distinct().collect()
    assert sorted(r.bucket for r in buckets) == [0, 2, 3]
