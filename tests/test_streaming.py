"""Structured Streaming smoke tests: the same aggregation builders used
by the batch oracle queries run as real streams against a file source
with watermarks, into a memory sink (SURVEY.md §2.10)."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from artis_data_ingest_spark.sources.tables import load_table
from artis_data_ingest_spark.streaming.windows import (
    dedup_stream,
    run_stream_to_memory,
    session_agg,
    tumbling_agg,
    with_watermark,
)

SF_DIR = "/root/testdata/sf0.001"


def _events_stream(spark, tmp_path):
    # materialize fixture events as a parquet dir Spark can stream from
    src = str(tmp_path / "events_stream_src")
    load_table(spark, SF_DIR, "events").write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    return spark.readStream.schema(schema).parquet(src)


def _await_done(query, timeout_s: float = 60.0):
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        query.processAllAvailable()
        if not query.status["isDataAvailable"]:
            return
        time.sleep(0.2)


def test_tumbling_stream_matches_batch(spark, tmp_path):
    stream = _events_stream(spark, tmp_path)
    q = run_stream_to_memory(
        tumbling_agg(with_watermark(stream)), "t_tumbling", mode="update"
    )
    try:
        _await_done(q)
        got = {
            r.window_start: r.n_events
            for r in spark.sql("SELECT * FROM t_tumbling").collect()
        }
    finally:
        q.stop()
    batch = {
        r.window_start: r.n_events
        for r in tumbling_agg(load_table(spark, SF_DIR, "events")).collect()
    }
    assert got == batch


def test_session_stream_runs(spark, tmp_path):
    stream = _events_stream(spark, tmp_path)
    # session windows only support append output on streams; finalized
    # sessions (older than the watermark) are emitted
    q = run_stream_to_memory(
        session_agg(with_watermark(stream)), "t_session", mode="append"
    )
    try:
        _await_done(q)
        n = spark.sql("SELECT count(*) c FROM t_session").collect()[0].c
    finally:
        q.stop()
    assert n > 0


def test_dedup_stream_drops_duplicates(spark, tmp_path):
    src = str(tmp_path / "dup_src")
    ev = load_table(spark, SF_DIR, "events").limit(50)
    ev.union(ev).write.mode("overwrite").parquet(src)  # every row twice
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    deduped = dedup_stream(stream, ["event_id"])
    q = run_stream_to_memory(
        deduped.groupBy().agg(F.count(F.lit(1)).alias("n")),
        "t_dedup",
        mode="complete",
    )
    try:
        _await_done(q)
        n = spark.sql("SELECT n FROM t_dedup").collect()[0].n
    finally:
        q.stop()
    assert n == 50


def test_watermark_drops_late_rows(spark, tmp_path):
    # two micro-batches via two files: batch 1 advances event time far
    # ahead; batch 2 delivers a row older than the watermark -> dropped
    import datetime as dt
    import time as _time

    src = tmp_path / "late_src"
    src.mkdir()

    def write_batch(name, rows):
        spark.createDataFrame(rows, "event_id long, ts timestamp, value double") \
            .coalesce(1).write.mode("overwrite").parquet(str(src / name))

    t0 = dt.datetime(2025, 1, 1, 0, 0, 0)
    write_batch("b1", [
        (1, t0, 1.0),
        (2, t0 + dt.timedelta(hours=2), 1.0),  # advances watermark to 1h45m
    ])
    schema = spark.read.parquet(str(src / "b1")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    agg = (
        stream.withWatermark("ts", "15 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    q = agg.writeStream.format("memory").queryName("t_late").outputMode("update").start()
    try:
        _await_done(q)
        # late batch: a row at t0 + 10 min, far behind the watermark
        write_batch("b2", [(3, t0 + dt.timedelta(minutes=10), 1.0)])
        deadline = _time.time() + 60
        while _time.time() < deadline and q.lastProgress is None:
            _time.sleep(0.2)
        q.processAllAvailable()
        rows = {r.ws: r.n for r in spark.sql("SELECT * FROM t_late").collect()}
    finally:
        q.stop()
    # the late row's 00:10 window must NOT appear; the on-time windows do
    assert dt.datetime(2025, 1, 1, 0, 0) in rows
    assert dt.datetime(2025, 1, 1, 2, 0) in rows
    assert dt.datetime(2025, 1, 1, 0, 10) not in rows


def test_foreachbatch_parquet_sink_idempotent(spark, tmp_path):
    from artis_data_ingest_spark.streaming.sink import (
        batch_writer,
        start_parquet_stream,
    )

    src = str(tmp_path / "sink_src")
    ev = load_table(spark, SF_DIR, "events").limit(40)
    ev.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    out = str(tmp_path / "sink_out")
    ckpt = str(tmp_path / "sink_ckpt")
    q = start_parquet_stream(stream, out, ckpt, trigger_once=True)
    q.awaitTermination(120)
    back = spark.read.parquet(out)
    assert back.count() == 40
    assert "batch_id" in back.columns
    # replaying a batch overwrites its directory -> still 40 rows
    # (materialize first: a lazy self-read-overwrite would race itself)
    b0 = spark.read.parquet(f"{out}/batch_id=0")
    batch0 = spark.createDataFrame(b0.collect(), b0.schema)
    batch_writer(out)(batch0, 0)
    assert spark.read.parquet(out).count() == 40


def test_compact_batches_to_partitioned(spark, tmp_path):
    from artis_data_ingest_spark.streaming.sink import (
        compact_batches,
        start_parquet_stream,
    )

    src = str(tmp_path / "c_src")
    ev = load_table(spark, SF_DIR, "events").limit(60)
    ev.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    sink = str(tmp_path / "c_sink")
    q = start_parquet_stream(
        stream, sink, str(tmp_path / "c_ckpt"), trigger_once=True
    )
    q.awaitTermination(120)

    compacted = str(tmp_path / "c_table")
    compact_batches(spark, sink, compacted, ["event_type"])
    back = spark.read.parquet(compacted)
    assert back.count() == 60
    assert "batch_id" not in back.columns
    import pathlib

    dirs = [
        p.name for p in pathlib.Path(compacted).iterdir()
        if p.name.startswith("event_type=")
    ]
    assert len(dirs) == 5


def test_sliding_stream_matches_batch(spark, tmp_path):
    from artis_data_ingest_spark.streaming.windows import sliding_agg

    stream = _events_stream(spark, tmp_path)
    q = run_stream_to_memory(
        sliding_agg(with_watermark(stream)), "t_sliding", mode="update"
    )
    try:
        _await_done(q)
        got = {
            r.window_start: r.n_events
            for r in spark.sql("SELECT * FROM t_sliding").collect()
        }
    finally:
        q.stop()
    batch = {
        r.window_start: r.n_events
        for r in sliding_agg(load_table(spark, SF_DIR, "events")).collect()
    }
    assert got == batch


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    from artis_data_ingest_spark.streaming.windows import (
        interval_join_streams,
    )

    ev = load_table(spark, SF_DIR, "events")
    src = str(tmp_path / "ss_src")
    ev.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    def stream():
        return spark.readStream.schema(schema).parquet(src)

    p_s = stream().filter(F.col("event_type") == "purchase")
    c_s = stream().filter(F.col("event_type") == "click")
    q = run_stream_to_memory(
        interval_join_streams(p_s, c_s), "t_ssjoin", mode="append"
    )
    try:
        _await_done(q)
        got = {
            (r.p_id, r.c_ts) for r in spark.sql("SELECT * FROM t_ssjoin").collect()
        }
    finally:
        q.stop()
    batch = interval_join_streams(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "click"),
    )
    expected = {(r.p_id, r.c_ts) for r in batch.collect()}
    # static input + processAllAvailable -> nothing is late; stream
    # output must equal the batch join exactly
    assert got == expected
    assert len(expected) > 0


def test_drip_feed_restart_and_replay_idempotent(spark, tmp_path):
    """End-to-end file-source lifecycle on the idempotent sink: (1) a
    first availableNow run drains file 1; (2) a second run with the SAME
    checkpoint picks up only the file dropped in between (incremental,
    no reprocessing); (3) deleting the last commit marker — the exact
    state a crash between sink write and checkpoint commit leaves — and
    restarting makes the engine REPLAY that batch into the same
    batch_id directory, so total rows never duplicate."""
    import pathlib

    from artis_data_ingest_spark.streaming.sink import start_parquet_stream

    ev = load_table(spark, SF_DIR, "events").limit(80).cache()
    first, second = ev.limit(50), ev.subtract(ev.limit(50))
    n_first, n_second = first.count(), second.count()
    assert n_first + n_second == 80

    src = tmp_path / "drip_src"
    out, ckpt = str(tmp_path / "drip_out"), str(tmp_path / "drip_ckpt")
    first.coalesce(1).write.mode("append").parquet(str(src))
    schema = spark.read.parquet(str(src)).schema

    def run_once():
        stream = spark.readStream.schema(schema).parquet(str(src))
        q = start_parquet_stream(stream, out, ckpt, trigger_once=True)
        try:
            q.awaitTermination(120)
        finally:
            # release the checkpoint before the next restart — stop()
            # is synchronous, awaitTermination alone can return while
            # the query is still registered as active
            q.stop()
        deadline = time.time() + 30
        while q.isActive and time.time() < deadline:
            time.sleep(0.2)
        assert not q.isActive

    run_once()
    assert spark.read.parquet(out).count() == n_first

    # drip the second file in; same checkpoint → only new data processed
    second.coalesce(1).write.mode("append").parquet(str(src))
    run_once()
    back = spark.read.parquet(out)
    assert back.count() == 80
    batch_dirs = sorted(
        p.name for p in pathlib.Path(out).iterdir()
        if p.name.startswith("batch_id=")
    )
    assert len(batch_dirs) == 2

    # simulate crash-after-write-before-commit: drop the newest commit
    # marker; restart must replay that batch into the SAME directory
    commits = sorted(
        p for p in (pathlib.Path(ckpt) / "commits").iterdir()
        if p.name.isdigit()
    )
    commits[-1].unlink()
    # the local checkpoint-file manager keeps a .N.crc sibling; leaving
    # it behind makes the replay's atomic re-create trip on it
    crc = commits[-1].with_name(f".{commits[-1].name}.crc")
    if crc.exists():
        crc.unlink()
    run_once()
    assert spark.read.parquet(out).count() == 80  # replay, not append
    ev.unpersist()


def test_bounded_microbatches_max_files_per_trigger(spark, tmp_path):
    """Backpressure control for the 100 TB ingest shape: with
    maxFilesPerTrigger=1, an availableNow run drains a 4-file backlog
    as 4 bounded micro-batches (each its own batch_id directory in the
    idempotent sink) instead of one unbounded batch — the knob that
    keeps executor memory flat when a backlog accumulates."""
    import pathlib

    from artis_data_ingest_spark.streaming.sink import start_parquet_stream

    ev = load_table(spark, SF_DIR, "events").limit(40)
    src = tmp_path / "bp_src"
    for i in range(4):
        ev.filter(F.col("event_id") % 4 == i).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
    schema = spark.read.parquet(str(src)).schema

    out, ckpt = str(tmp_path / "bp_out"), str(tmp_path / "bp_ckpt")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = start_parquet_stream(stream, out, ckpt, trigger_once=True)
    try:
        q.awaitTermination(120)
    finally:
        q.stop()

    back = spark.read.parquet(out)
    assert back.count() == 40
    batch_dirs = [
        p.name for p in pathlib.Path(out).iterdir()
        if p.name.startswith("batch_id=")
    ]
    # one micro-batch per file (coalesce(1) wrote one data file each)
    assert len(batch_dirs) == 4


def test_streaming_changelog_matches_batch(spark, tmp_path):
    """Incremental file-arrival changelog == batch file_level_log on the
    real snapshot fixtures: files drip in across two checkpointed runs
    (the second resumes and processes ONLY the new arrival), per-batch
    verdicts land in the idempotent sink, and the end-of-stream
    'removed' reconciliation completes the picture row-for-row."""
    import shutil
    from pathlib import Path

    from artis_data_ingest_spark.operators.changelog import file_level_log
    from artis_data_ingest_spark.streaming.changelog import (
        removed_files,
        stream_file_changes,
    )

    old_dir = "/root/repo/data/snapshots/old"
    src_new = Path("/root/repo/data/snapshots/new")
    arrivals = tmp_path / "arrivals"
    arrivals.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    first, second = sorted(src_new.iterdir())

    shutil.copy(first, arrivals / first.name)
    q = stream_file_changes(spark, old_dir, str(arrivals), out, ckpt)
    q.awaitTermination(120)

    shutil.copy(second, arrivals / second.name)
    q = stream_file_changes(spark, old_dir, str(arrivals), out, ckpt)
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    # one row per arrival, each in its own batch dir — the restart
    # processed only the second file (checkpoint held batch 0)
    assert got.count() == 2
    assert got.select("batch_id").distinct().count() == 2

    streamed = got.drop("batch_id")
    # statuses: the production file matches an old-side key (changed or
    # unchanged by size), the capture file is brand new
    by_status = {r.status for r in streamed.collect()}
    assert "added" in by_status
    full = streamed.drop("status").unionByName(
        removed_files(spark, old_dir, out).drop("status")
    )
    batch = file_level_log(spark, old_dir, str(arrivals))
    cols = sorted(batch.columns)
    a = {tuple(r[c] for c in cols) for r in full.collect()}
    b = {tuple(r[c] for c in cols) for r in batch.collect()}
    assert a == b


def test_removed_files_before_any_batch(spark, tmp_path):
    """Calling the reconciliation before the stream ever ran must report
    every old-side file as removed, not crash on the absent sink path."""
    from artis_data_ingest_spark.streaming.changelog import removed_files

    out = str(tmp_path / "never_written")
    got = removed_files(spark, "/root/repo/data/snapshots/old", out)
    rows = got.collect()
    assert len(rows) == 2  # both old-snapshot fixtures
    assert all(r.status == "removed" and not r.exists_in_new for r in rows)


def test_stream_static_enrich_matches_batch(spark, tmp_path):
    """Stream-static broadcast join: per-user tier dimension joined
    onto the event stream micro-batches; result equals the batch join
    and the static side never becomes stream state."""
    from artis_data_ingest_spark.streaming.windows import enrich_with_dim

    dim = spark.createDataFrame(
        [(i, "gold" if i % 3 == 0 else "basic") for i in range(200)],
        ["user_id", "tier"],
    )
    stream = _events_stream(spark, tmp_path)
    out = enrich_with_dim(
        stream.select("event_id", "user_id", "value"), dim, "user_id"
    )
    q = run_stream_to_memory(out, "t_enrich", mode="append")
    try:
        _await_done(q)
        got = {
            (r.event_id, r.tier)
            for r in spark.sql("SELECT * FROM t_enrich").collect()
        }
    finally:
        q.stop()
    ev = load_table(spark, SF_DIR, "events")
    batch = {
        (r.event_id, r.tier)
        for r in enrich_with_dim(
            ev.select("event_id", "user_id", "value"), dim, "user_id"
        ).collect()
    }
    assert got == batch and len(got) == ev.count()


def test_streaming_index_maintenance_matches_full_build(spark, tmp_path):
    """Incremental index maintenance == one-shot full build: document
    files drip in across two checkpointed runs (the second resumes and
    merges ONLY the new arrivals), each batch merges algebraically
    into the previous snapshot, and the final snapshot equals the
    full-corpus partial_index row-for-row."""
    from artis_data_ingest_spark.sources.tables import load_table
    from artis_data_ingest_spark.streaming.index import (
        current_index,
        partial_index,
        stream_index_maintenance,
    )

    docs = load_table(spark, SF_DIR, "documents")
    arrivals = tmp_path / "docs_arrivals"
    arrivals.mkdir()
    idx, ckpt = str(tmp_path / "index"), str(tmp_path / "index_ckpt")

    # three disjoint document files, landed in two waves
    parts = [
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1) for i in range(3)
    ]
    parts[0].write.parquet(str(arrivals), mode="append")
    q = stream_index_maintenance(spark, str(arrivals), idx, ckpt)
    q.awaitTermination(120)

    parts[1].write.parquet(str(arrivals), mode="append")
    parts[2].write.parquet(str(arrivals), mode="append")
    q = stream_index_maintenance(spark, str(arrivals), idx, ckpt)
    q.awaitTermination(120)

    final = current_index(spark, idx)
    want = partial_index(docs)
    key = lambda r: r.term  # noqa: E731
    got_rows = sorted(
        ((r.term, r.df, r.total_tf, list(r.plist)) for r in final.collect())
    )
    want_rows = sorted(
        ((r.term, r.df, r.total_tf, list(r.plist)) for r in want.collect())
    )
    assert got_rows == want_rows and got_rows
    # the replay guard: merging a batch into its OWN snapshot would
    # double-count; current_index(before=N) must skip batch N
    assert current_index(spark, idx, before=0) is None


def test_jsonl_gz_stream_matches_batch(spark):
    """Streaming twin of q_jsonl_gz_ingest (r7): the gzip'd JSONL shard
    directory consumed as a file-arrival stream (each .jsonl.gz is one
    unsplittable file-source unit, decompressed by the same codec
    inference as batch) must produce the batch query's per-(shard,lang)
    accounting exactly — including the '<corrupt>' rows from PERMISSIVE
    null-fill."""
    from pyspark.sql import types as T

    from artis_data_ingest_spark import plans
    from artis_data_ingest_spark.streaming.windows import (
        run_stream_to_memory,
    )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("maxFilesPerTrigger", 1)  # one shard per micro-batch
        .json("/root/repo/data/jsonl_gz/*.jsonl.gz")
    )
    n_toks = F.size(F.split(F.trim("text"), r"[ \t\n\r\f\x0B]+"))
    agg = (
        stream.groupBy(
            F.regexp_extract(
                F.input_file_name(), r"([^/]+)$", 1
            ).alias("shard"),
            F.coalesce("lang", F.lit("<corrupt>")).alias("lang"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
            F.sum(n_toks).cast("bigint").alias("total_tokens"),
        )
    )
    q = run_stream_to_memory(agg, "t_jsonl_gz", mode="complete")
    try:
        _await_done(q)
        got = {
            (r.shard, r.lang): (r.n_docs, r.min_doc_id, r.total_tokens)
            for r in spark.sql("SELECT * FROM t_jsonl_gz").collect()
        }
    finally:
        q.stop()
    batch = {
        (r.shard, r.lang): (r.n_docs, r.min_doc_id, r.total_tokens)
        for r in plans.all_queries()["q_jsonl_gz_ingest"]
        .fn(spark, SF_DIR)
        .collect()
    }
    assert got == batch and len(got) == 15


def test_streaming_quality_scores_match_batch(spark, tmp_path):
    """Arrival-time LM scoring == batch scoring, bit-for-bit: the LM
    artifacts persist once, document files drip in across two
    checkpointed runs, and the union of per-batch score snapshots
    equals score_documents over the whole doc set (the exact-integer
    key makes the comparison exact, not approximate)."""
    import glob

    from artis_data_ingest_spark.operators.lm import score_documents
    from artis_data_ingest_spark.sources.tables import load_table
    from artis_data_ingest_spark.streaming.quality import (
        load_lm_artifacts,
        persist_lm_artifacts,
        stream_quality_scores,
    )

    docs = load_table(spark, SF_DIR, "documents")
    lm_path = str(tmp_path / "lm")
    persist_lm_artifacts(spark, docs, lm_path)

    apply_docs = docs.filter(F.col("doc_id") % 10 != 0)
    arrivals = tmp_path / "arrivals"
    arrivals.mkdir()
    scores, ckpt = str(tmp_path / "scores"), str(tmp_path / "ckpt")
    parts = [
        apply_docs.filter(F.col("doc_id") % 3 == i).coalesce(1)
        for i in range(3)
    ]
    parts[0].write.parquet(str(arrivals), mode="append")
    q = stream_quality_scores(spark, str(arrivals), lm_path, scores, ckpt)
    q.awaitTermination(120)
    parts[1].write.parquet(str(arrivals), mode="append")
    parts[2].write.parquet(str(arrivals), mode="append")
    q = stream_quality_scores(spark, str(arrivals), lm_path, scores, ckpt)
    q.awaitTermination(120)

    snaps = sorted(glob.glob(f"{scores}/batch_id=*"))
    assert len(snaps) >= 2  # work actually split across batches
    got = {
        (r.doc_id, r.key)
        for r in spark.read.parquet(f"{scores}/batch_id=*").collect()
    }
    vocab_s, sden = load_lm_artifacts(spark, lm_path)
    want = {
        (r.doc_id, r.key)
        for r in score_documents(apply_docs, vocab_s, sden).collect()
    }
    assert got == want and got


def test_streaming_nb_predictions_match_batch(spark, tmp_path):
    """Arrival-time NB classification == batch classification, row for
    row: the model persists once, document files drip in across two
    checkpointed runs, and the union of per-batch prediction snapshots
    equals nb_predict over the whole doc set (integer qlog2 scores +
    deterministic tie-break make equality exact)."""
    import glob

    from artis_data_ingest_spark.plans.classify import nb_predict
    from artis_data_ingest_spark.sources.tables import load_table
    from artis_data_ingest_spark.streaming.classify import (
        load_nb_artifacts,
        persist_nb_artifacts,
        stream_nb_predictions,
    )

    docs = load_table(spark, SF_DIR, "documents")
    labeled = docs.select("doc_id", F.col("lang").alias("label"), "text")
    model = str(tmp_path / "model")
    persist_nb_artifacts(spark, labeled.filter(F.col("doc_id") % 5 < 4),
                         model)

    test_docs = docs.filter(F.col("doc_id") % 5 == 4)
    arrivals = tmp_path / "arrivals"
    arrivals.mkdir()
    preds, ckpt = str(tmp_path / "preds"), str(tmp_path / "ckpt")
    parts = [
        test_docs.filter(F.col("doc_id") % 2 == i).coalesce(1)
        for i in range(2)
    ]
    parts[0].write.parquet(str(arrivals), mode="append")
    q = stream_nb_predictions(spark, str(arrivals), model, preds, ckpt)
    q.awaitTermination(120)
    parts[1].write.parquet(str(arrivals), mode="append")
    q = stream_nb_predictions(spark, str(arrivals), model, preds, ckpt)
    q.awaitTermination(120)

    assert len(glob.glob(f"{preds}/batch_id=*")) >= 2
    got = {
        (r.doc_id, r.label, r.predicted)
        for r in spark.read.parquet(f"{preds}/batch_id=*").collect()
    }
    weights, cstat = load_nb_artifacts(spark, model)
    want = {
        (r.doc_id, r.label, r.predicted)
        for r in nb_predict(
            test_docs.select(
                "doc_id", F.col("lang").alias("label"), "text"
            ),
            weights, cstat,
        ).collect()
    }
    assert got == want and got


def test_streaming_corpus_dedup_matches_batch(spark, tmp_path):
    """Arrival-time corpus dedup == batch exact dedup when files
    arrive in doc_id order: the streamed keep-set equals exact_dedup's
    min-doc_id canonicals, corpus-duplicate hits are flagged against
    PRIOR batches only, and a replayed batch is idempotent."""
    import glob

    from artis_data_ingest_spark.operators.dedup import exact_dedup
    from artis_data_ingest_spark.streaming.dedup_corpus import (
        stream_corpus_dedup,
    )

    # 3 arrival waves in doc_id order; wave 2 and 3 re-ship some texts
    rows = [(i, f"text number {i % 8} !") for i in range(12)]  # dups mod 8
    docs = spark.createDataFrame(
        [(i, t, "en", "s0", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string,"
        " n_chars bigint",
    )
    arrivals = tmp_path / "arrivals"
    arrivals.mkdir()
    fps, dec, ckpt = (
        str(tmp_path / "fps"), str(tmp_path / "dec"), str(tmp_path / "ckpt")
    )
    for lo, hi in ((0, 4), (4, 8), (8, 12)):
        docs.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        ).coalesce(1).write.parquet(str(arrivals), mode="append")
        q = stream_corpus_dedup(spark, str(arrivals), fps, dec, ckpt)
        q.awaitTermination(120)

    assert len(glob.glob(f"{dec}/batch_id=*")) >= 3
    got = {
        r.doc_id: r.decision
        for r in spark.read.parquet(f"{dec}/batch_id=*").collect()
    }
    keep_batch = {
        r.keep_doc_id for r in exact_dedup(docs.select("doc_id", "text"))
        .collect()
    }
    streamed_keep = {d for d, v in got.items() if v == "kept"}
    assert streamed_keep == keep_batch
    assert got[8] == "dup_of_corpus"  # text 0 re-shipped in wave 3
    assert len(got) == 12


def test_streaming_bloom_triage_no_false_negatives(spark, tmp_path):
    """Arrival-time Bloom triage: every re-shipped text must come back
    'maybe' (no false negatives), genuinely novel texts come back
    overwhelmingly 'new', and cross-batch state stays m-bounded (the
    distinct-bit union never exceeds the filter geometry)."""
    import glob

    from artis_data_ingest_spark.plans.sharding import _BLOOM_M
    from artis_data_ingest_spark.streaming.bloom import (
        seen_bits,
        stream_bloom_triage,
    )

    def mk(lo, hi, tag):
        rows = [(i, f"{tag} text number {i} !", "en", "s0", 20)
                for i in range(lo, hi)]
        return spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string,"
            " n_chars bigint",
        )

    arrivals = tmp_path / "arrivals"
    arrivals.mkdir()
    bits, ver, ckpt = (
        str(tmp_path / "bits"), str(tmp_path / "ver"), str(tmp_path / "ckpt")
    )
    # wave 1: docs 0..40 fresh
    mk(0, 40, "alpha").coalesce(1).write.parquet(str(arrivals), mode="append")
    q = stream_bloom_triage(spark, str(arrivals), bits, ver, ckpt)
    q.awaitTermination(120)
    # wave 2: docs 0..40 re-shipped verbatim (same text), 100..140 novel
    reship = mk(0, 40, "alpha").withColumn(
        "doc_id", F.col("doc_id") + 1000
    )
    reship.union(mk(100, 140, "beta")).coalesce(1).write.parquet(
        str(arrivals), mode="append"
    )
    q = stream_bloom_triage(spark, str(arrivals), bits, ver, ckpt)
    q.awaitTermination(120)

    assert len(glob.glob(f"{ver}/batch_id=*")) >= 2
    got = {
        r.doc_id: r.verdict
        for r in spark.read.parquet(f"{ver}/batch_id=*").collect()
    }
    # wave-1 docs were unseen at their arrival
    # re-shipped docs (1000..1039): Bloom guarantees 'maybe'
    for d in range(1000, 1040):
        assert got[d] == "maybe", d
    # novel docs: mostly 'new' (small FP mass allowed by geometry)
    novel = [got[d] for d in range(100, 140)]
    assert novel.count("new") >= 30
    # state is m-bounded
    nbits = seen_bits(spark, bits).count()
    assert nbits <= _BLOOM_M


def test_streaming_manifest_matches_batch_merkle(spark, tmp_path):
    """Arrival-time Merkle maintenance == batch merkle_manifest once
    every doc has arrived; shards split across batches re-fold from
    leaf hashes alone (no text re-read is possible — the maintainer
    only ever sees leaf snapshots for prior batches)."""
    import glob

    from artis_data_ingest_spark.plans.sharding import merkle_manifest
    from artis_data_ingest_spark.streaming.manifest import (
        stream_manifest_maintenance,
    )

    rows = [
        (i, f"doc body {i} {'x' * (i % 7)}", "en", "s0", 20)
        for i in range(150)
    ]
    docs = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars bigint",
    )
    arrivals = tmp_path / "arrivals"
    arrivals.mkdir()
    leaves, man, ckpt = (
        str(tmp_path / "leaves"), str(tmp_path / "man"),
        str(tmp_path / "ckpt"),
    )
    # waves deliberately split shard boundaries (shard size 64):
    # 0-99 then 100-149 — shard 1 (docs 64..127) spans both waves
    for lo, hi in ((0, 100), (100, 150)):
        docs.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        ).coalesce(1).write.parquet(str(arrivals), mode="append")
        q = stream_manifest_maintenance(
            spark, str(arrivals), leaves, man, ckpt
        )
        q.awaitTermination(120)

    batch_ids = sorted(
        int(p.rsplit("=", 1)[1]) for p in glob.glob(f"{man}/batch_id=*")
    )
    assert len(batch_ids) >= 2
    got = (
        spark.read.parquet(f"{man}/batch_id={batch_ids[-1]}")
        .orderBy("shard")
        .collect()
    )
    want = {
        r.node: (r.n_docs, r.hash)
        for r in merkle_manifest(docs).collect()
        if r.node != "<root>"
    }
    assert {str(r.shard): (r.n_docs, r.hash) for r in got} == want


def test_versioned_stream_appends_exactly_once(spark, tmp_path):
    """Streaming -> versioned table: each micro-batch lands as an
    append commit (note=batch id); replaying a batch (the at-least-once
    failure mode) must NOT double-append — the writer finds the note in
    the manifest chain and skips.  Final latest-version contents equal
    the batch source exactly; every intermediate version stays
    time-travelable."""
    from artis_data_ingest_spark.sinks.versioned import (
        history,
        latest_version,
        read_version,
    )
    from artis_data_ingest_spark.streaming.sink import (
        start_versioned_stream,
        versioned_batch_writer,
    )

    src = str(tmp_path / "src")
    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "user_id"
    ).limit(90)
    ev.repartition(3).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    tdir = str(tmp_path / "tbl")
    q = start_versioned_stream(
        stream, tdir, str(tmp_path / "ckpt"), trigger_once=True
    )
    q.awaitTermination(120)
    n_versions = latest_version(tdir) + 1
    assert n_versions == 3  # one commit per file-batch
    got = sorted(r.event_id for r in read_version(spark, tdir).collect())
    want = sorted(r.event_id for r in ev.collect())
    assert got == want
    # replay batch 1 (failure recovery): must be a no-op
    writer = versioned_batch_writer(tdir)
    some = spark.read.parquet(src).limit(10)
    writer(some, 1)
    assert latest_version(tdir) + 1 == n_versions
    assert sorted(
        r.event_id for r in read_version(spark, tdir).collect()
    ) == want
    # intermediate versions still resolve and grow monotonically
    counts = [read_version(spark, tdir, v).count() for v in range(3)]
    assert counts == sorted(counts) and counts[-1] == 90
    modes = [r.mode for r in history(spark, tdir).collect()]
    assert modes.count("append") == 2


def test_versioned_stream_replay_dedup_survives_retention(spark, tmp_path):
    """Replay dedup must not depend on manifest retention: if expire()
    runs with a window shorter than the replay window, a manifest-note-
    only scan would re-commit the replayed batch (duplicate rows).  The
    writer persists batch-id markers under _batch_commits/ that
    expire() never touches, so the replay stays a no-op."""
    from artis_data_ingest_spark.sinks.versioned import (
        expire,
        latest_version,
        list_versions,
        read_version,
    )
    from artis_data_ingest_spark.streaming.sink import (
        versioned_batch_writer,
    )

    tdir = str(tmp_path / "tbl")
    writer = versioned_batch_writer(tdir)
    for b in range(4):
        writer(
            spark.range(10 * b, 10 * b + 3).select(F.col("id").alias("k")),
            b,
        )
    assert latest_version(tdir) == 3
    n = read_version(spark, tdir).count()
    # retention shorter than the replay window: batch 0's manifest gone
    expire(tdir, keep_last=2)
    assert list_versions(tdir) == [2, 3]
    # replay batch 0 — its commit note is no longer in any retained
    # manifest; only the marker prevents a duplicate commit
    writer(spark.range(0, 3).select(F.col("id").alias("k")), 0)
    assert latest_version(tdir) == 3
    assert read_version(spark, tdir).count() == n


def test_versioned_merge_stream_cdc_upserts(spark, tmp_path):
    """Streaming CDC -> versioned MERGE sink: each micro-batch
    merge-commits (update matched keys, insert new, apply delete
    flags), intermediate states stay time-travelable, change_feed
    surfaces exactly each batch's delta, and a replayed batch is a
    no-op (the non-idempotent merge is guarded by the batch marker)."""
    from artis_data_ingest_spark.sinks.versioned import (
        change_feed,
        history,
        latest_version,
        read_version,
    )
    from artis_data_ingest_spark.streaming.sink import (
        start_versioned_merge_stream,
        versioned_merge_writer,
    )

    src = str(tmp_path / "src")
    batches = [
        [(1, "a", 10, False), (2, "b", 20, False), (3, "c", 30, False)],
        [(2, "B", 99, False), (4, "d", 40, False)],   # update + insert
        [(1, None, 0, True), (5, "e", 50, False)],    # delete + insert
    ]
    schema = "k int, s string, v int, _deleted boolean"
    import os
    os.makedirs(src)
    for i, rows in enumerate(batches):
        # one file per micro-batch; zero-padded names fix the order
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/b{i}")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(f"{src}/b*")
    )
    tdir = str(tmp_path / "tbl")
    q = start_versioned_merge_stream(
        stream, tdir, str(tmp_path / "ckpt"),
        keys=["k"], delete_col="_deleted", trigger_once=True,
    )
    q.awaitTermination(120)
    assert latest_version(tdir) == 2
    final = sorted(
        (r.k, r.s, r.v) for r in read_version(spark, tdir).collect()
    )
    assert final == [(2, "B", 99), (3, "c", 30), (4, "d", 40),
                     (5, "e", 50)]
    # time travel: the pre-delete state still has k=1
    v1 = sorted((r.k, r.v) for r in read_version(spark, tdir, 1).collect())
    assert v1 == [(1, 10), (2, 99), (3, 30), (4, 40)]
    modes = {r.version: r.mode for r in history(spark, tdir).collect()}
    assert modes == {0: "overwrite", 1: "merge", 2: "merge"}
    # feed shows each batch's delta rows, not rewritten states
    feed = change_feed(spark, tdir, since=0)
    assert sorted((r._version, r.k) for r in feed.collect()) == [
        (1, 2), (1, 4), (2, 1), (2, 5),
    ]
    # replay batch 1: marker makes the non-idempotent merge a no-op
    writer = versioned_merge_writer(tdir, keys=["k"],
                                    delete_col="_deleted")
    writer(spark.createDataFrame(batches[1], schema), 1)
    assert latest_version(tdir) == 2
    assert sorted(
        (r.k, r.s, r.v) for r in read_version(spark, tdir).collect()
    ) == final


def test_versioned_feed_date_column(spark, tmp_path):
    """A DATE column, which manifests record as pyarrow's
    ``date32[day]``, reads through the versioned_feed source as DATE in
    a batch read and in a stream micro-batch."""
    import datetime

    from artis_data_ingest_spark.sinks.versioned import commit
    from artis_data_ingest_spark.streaming.source import (
        register_versioned_feed,
    )

    register_versioned_feed(spark)
    d = str(tmp_path / "tbl")
    commit(
        spark.range(3).select(
            F.col("id").alias("k"),
            F.expr("date_add(DATE'2024-01-30', CAST(id AS INT))")
            .alias("day"),
        ),
        d, mode="overwrite", expect_version=None,
    )
    want = [
        (0, datetime.date(2024, 1, 30)),
        (1, datetime.date(2024, 1, 31)),
        (2, datetime.date(2024, 2, 1)),
    ]
    snap = spark.read.format("versioned_feed").option("path", d).load()
    assert snap.dtypes == [("k", "bigint"), ("day", "date"),
                           ("_version", "bigint")]
    assert sorted((r.k, r.day) for r in snap.collect()) == want
    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("versioned_feed").option("path", d).load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert dict(got.dtypes)["day"] == "date"
    assert sorted((r.k, r.day) for r in got.collect()) == want


def test_versioned_feed_datasource_stream_and_batch(spark, tmp_path):
    """r12, streaming/source.py: the versioned change feed as a real
    Structured Streaming SOURCE (PySpark Python Data Source API) —
    one input partition per delta file, offsets = versions in the
    query checkpoint (exactly-once across restarts), the same
    append/overwrite/merge/restore/compact semantics as change_feed,
    plus the batch snapshot reader with version/asOfTimestamp time
    travel and an out-of-retention cursor error."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from artis_data_ingest_spark.sinks.versioned import (
        RetentionError,
        commit,
        compact,
        expire,
        merge_commit,
        restore,
    )
    from artis_data_ingest_spark.streaming.source import (
        register_versioned_feed,
    )

    register_versioned_feed(spark)
    d = str(tmp_path / "tbl")
    commit(
        spark.range(5).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        ),
        d, mode="overwrite", expect_version=None, timestamp=100.0,
    )
    commit(
        spark.range(5, 8).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        ),
        d, mode="append", timestamp=200.0,
    )

    # --- batch snapshot reads + time travel
    snap = spark.read.format("versioned_feed").option("path", d).load()
    assert snap.count() == 8 and snap.columns == ["k", "v", "_version"]
    v0 = (
        spark.read.format("versioned_feed")
        .option("path", d).option("version", "0").load()
    )
    assert v0.count() == 5
    ts = (
        spark.read.format("versioned_feed")
        .option("path", d).option("asOfTimestamp", "150").load()
    )
    assert ts.count() == 5

    # --- stream batch 1: full feed
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_stream():
        q = (
            spark.readStream.format("versioned_feed")
            .option("path", d).load()
            .writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    run_stream()
    got = {
        r._version: r.n
        for r in spark.read.parquet(out)
        .groupBy("_version").agg(F.count("*").alias("n")).collect()
    }
    assert got == {0: 5, 1: 3}

    # --- more commits: merge delta, silent compact, restore
    merge_commit(
        spark, d,
        spark.createDataFrame([(0, 999), (100, 100)],
                              "k bigint, v bigint"),
        keys=["k"], timestamp=300.0,
    )
    compact(spark, d, n_files=1, timestamp=400.0)
    restore(spark, d, version=1, timestamp=500.0)

    # --- resume from checkpoint: ONLY the new versions, exactly once
    run_stream()
    got2 = {
        r._version: r.n
        for r in spark.read.parquet(out)
        .groupBy("_version").agg(F.count("*").alias("n")).collect()
    }
    assert got2 == {0: 5, 1: 3, 2: 2, 4: 8}  # v3 (compact) silent

    # --- startingVersion skips history
    out2 = str(tmp_path / "out2")
    q = (
        spark.readStream.format("versioned_feed")
        .option("path", d).option("startingVersion", "3").load()
        .writeStream.format("parquet").option("path", out2)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    vs = {r._version for r in spark.read.parquet(out2)
          .select("_version").distinct().collect()}
    assert vs == {4}

    # --- out-of-retention cursor raises instead of silently skipping
    expire(d, keep_last=2)  # keeps v3 (compact), v4 (restore)
    commit(
        spark.range(8, 9).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        ),
        d, mode="append", timestamp=600.0,
    )
    with _pytest.raises(RetentionError):
        q = (
            spark.readStream.format("versioned_feed")
            .option("path", d).option("startingVersion", "0").load()
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt3"))
            .trigger(availableNow=True).start()
        )
        try:
            q.awaitTermination(120)
        except Exception as e:  # unwrap the streaming query failure
            if "RetentionError" in str(e) or "out of retention" in str(e):
                raise RetentionError(str(e)) from e
            raise


def test_table_to_table_streaming_etl(spark, tmp_path):
    """r12 end-to-end loop: readStream('versioned_feed') FROM versioned
    table A -> transform -> versioned_batch_writer INTO versioned
    table B.  Both sides are exactly-once (engine-checkpointed version
    offsets on the source, batch markers on the sink), so re-running
    the stream after new commits on A appends exactly the new rows to
    B — table-to-table incremental ETL with time travel on both ends."""
    from pyspark.sql import functions as F

    from artis_data_ingest_spark.sinks.versioned import (
        commit,
        history,
        read_version,
    )
    from artis_data_ingest_spark.streaming.sink import (
        versioned_batch_writer,
    )
    from artis_data_ingest_spark.streaming.source import (
        register_versioned_feed,
    )

    register_versioned_feed(spark)
    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    ckpt = str(tmp_path / "ckpt")
    commit(
        spark.range(10).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ),
        a, mode="overwrite", expect_version=None,
    )

    def run():
        q = (
            spark.readStream.format("versioned_feed")
            .option("path", a).load()
            .withColumn("v2", F.col("v") * 10)
            .drop("_version")
            .writeStream.foreachBatch(versioned_batch_writer(b))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    run()
    assert read_version(spark, b).count() == 10
    assert read_version(spark, b).agg(
        F.sum("v2")
    ).first()[0] == sum(i * 20 for i in range(10))

    # new commit on A; resumed stream moves ONLY the delta
    commit(
        spark.range(10, 13).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ),
        a, mode="append",
    )
    run()
    assert read_version(spark, b).count() == 13
    # sink history: one append version per non-empty micro-batch
    modes = [r.mode for r in history(spark, b).collect()]
    assert all(m in ("append", "overwrite") for m in modes)
    # idempotent replay: running again with no new A commits is a no-op
    before = read_version(spark, b).count()
    run()
    assert read_version(spark, b).count() == before


def test_versioned_feed_admission_control(spark, tmp_path):
    """r13, streaming/source.py: maxVersionsPerTrigger /
    maxFilesPerTrigger bound each micro-batch (Delta's
    maxFilesPerTrigger / Kafka's maxOffsetsPerTrigger role) — a
    6-version backlog with maxVersionsPerTrigger=2 drains in exactly 3
    micro-batches with identical total output, and a stream stopped
    mid-backlog resumes exactly-once from the checkpoint + the durable
    consumer cursor (caps require consumerId; see the reader docstring
    for why a capped offset below the committed one would poison the
    checkpoint)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from artis_data_ingest_spark.sinks.versioned import commit
    from artis_data_ingest_spark.streaming.source import (
        _make_datasource_class,
        register_versioned_feed,
    )

    d = str(tmp_path / "tbl")
    commit(
        spark.range(2).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        ).coalesce(1),
        d, mode="overwrite", expect_version=None, timestamp=100.0,
    )
    for i in range(1, 6):  # v1..v5: one row, one file each
        commit(
            spark.range(10 + i, 11 + i).select(
                F.col("id").alias("k"), (F.col("id") * 10).alias("v")
            ).coalesce(1),
            d, mode="append", timestamp=100.0 + i,
        )

    # --- caps without a consumerId are rejected loudly
    cls = _make_datasource_class()
    with _pytest.raises(ValueError, match="consumerId"):
        cls(options={"path": d, "maxVersionsPerTrigger": "2"}).streamReader(None)

    # --- direct-drive the reader: deterministic offset sequence
    ds = cls(options={
        "path": d, "maxVersionsPerTrigger": "2", "consumerId": "c1",
    })
    r = ds.streamReader(None)
    assert r.initialOffset() == {"version": -1}
    assert r.latestOffset() == {"version": 1}   # v0..v1
    assert r.latestOffset() == {"version": 3}   # v2..v3
    assert r.latestOffset() == {"version": 5}   # v4..v5
    assert r.latestOffset() == {"version": 5}   # caught up: no change

    # maxFilesPerTrigger: 1 file per version here, so a 3-file cap
    # admits 3 versions per trigger (and always at least one)
    ds2 = cls(options={
        "path": d, "maxFilesPerTrigger": "3", "consumerId": "c2",
    })
    r2 = ds2.streamReader(None)
    assert r2.initialOffset() == {"version": -1}
    assert r2.latestOffset() == {"version": 2}
    assert r2.latestOffset() == {"version": 5}

    # --- e2e: one processingTime run drains the backlog in 3 bounded
    # micro-batches (reader state persists across triggers in a run)
    register_versioned_feed(spark)
    seen: list[tuple[int, dict]] = []

    def record(df, batch_id):
        if any(b == batch_id for b, _ in seen):
            return  # engine replay of a pending batch: already counted
        rows = {
            row["_version"]: row["n"]
            for row in df.groupBy("_version")
            .agg(F.count("*").alias("n")).collect()
        }
        if rows:
            seen.append((batch_id, rows))

    q = (
        spark.readStream.format("versioned_feed")
        .option("path", d).option("maxVersionsPerTrigger", "2")
        .option("consumerId", "e2e").load()
        .writeStream.foreachBatch(record)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="300 milliseconds").start()
    )
    deadline = time.time() + 90
    while time.time() < deadline:
        if sum(sum(r.values()) for _, r in seen) >= 7:
            break
        time.sleep(0.3)
    q.stop()
    assert [r for _, r in seen] == [
        {0: 2, 1: 1},
        {2: 1, 3: 1},
        {4: 1, 5: 1},
    ]

    # --- resume mid-backlog: two more commits land, the restarted
    # stream (same checkpoint + consumer cursor) emits ONLY them,
    # exactly once
    for i in range(6, 8):
        commit(
            spark.range(10 + i, 11 + i).select(
                F.col("id").alias("k"), (F.col("id") * 10).alias("v")
            ).coalesce(1),
            d, mode="append", timestamp=100.0 + i,
        )
    q = (
        spark.readStream.format("versioned_feed")
        .option("path", d).option("maxVersionsPerTrigger", "2")
        .option("consumerId", "e2e").load()
        .writeStream.foreachBatch(record)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    total = {}
    for _, rows in seen:
        for v, n in rows.items():
            total[v] = total.get(v, 0) + n
    assert total == {0: 2, 1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 7: 1}


def test_versioned_feed_datasource_column_mapping(spark, tmp_path):
    """r13 column mapping through the Python DataSource: a renamed
    table's snapshot (and stream) serves the LOGICAL names by reading
    the files' physical columns through the manifest mapping; batch
    time travel to a pre-rename version serves that version's own
    names; dropped columns disappear from the declared schema."""
    from pyspark.sql import functions as F

    from artis_data_ingest_spark.sinks.versioned import (
        commit,
        drop_column,
        rename_column,
    )
    from artis_data_ingest_spark.streaming.source import (
        register_versioned_feed,
    )

    register_versioned_feed(spark)
    d = str(tmp_path / "tbl")
    commit(
        spark.range(6).select(
            F.col("id").alias("k"),
            (F.col("id") * 10).alias("v"),
            F.lit("x").alias("junk"),
        ),
        d, mode="overwrite", timestamp=100.0,
    )
    rename_column(d, "v", "amount", timestamp=101.0)
    drop_column(d, "junk", timestamp=102.0)
    commit(
        spark.range(6, 9).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("amount")
        ),
        d, timestamp=103.0,
    )

    snap = spark.read.format("versioned_feed").option("path", d).load()
    assert snap.columns == ["k", "amount", "_version"]
    assert snap.count() == 9
    assert (
        snap.agg(F.sum("amount")).collect()[0][0]
        == sum(i * 10 for i in range(9))
    )

    # pre-rename batch time travel: the OLD logical names
    v0 = (
        spark.read.format("versioned_feed")
        .option("path", d).option("version", "0").load()
    )
    assert v0.columns == ["k", "v", "junk", "_version"]
    assert v0.count() == 6

    # stream: all rows arrive under the current logical schema
    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("versioned_feed")
        .option("path", d).load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert sorted(got.columns) == ["_version", "amount", "k"]
    assert got.count() == 9


def test_versioned_feed_filter_pushdown(spark, tmp_path):
    """r13 filter pushdown (PySpark 4.1 DataSource API): with
    .option('filterPushdown','true') the snapshot reader prunes data
    files from the manifest's stats and Bloom bitmaps for pushed
    equality/range/IN predicates — verified both by exact results and
    by the reader's partition count; WITHOUT the option (the default)
    partitions never prune, so mixed filtered/unfiltered reuse of one
    DataFrame stays exact despite the engine-side readInfo cache (see
    _SnapshotReader.pushFilters.__doc__)."""
    from pyspark.sql import functions as F
    from pyspark.sql.datasource import EqualTo, In

    from artis_data_ingest_spark.sinks.versioned import commit
    from artis_data_ingest_spark.streaming import source as S
    from artis_data_ingest_spark.streaming.source import (
        register_versioned_feed,
    )

    register_versioned_feed(spark)
    d = str(tmp_path / "tbl")
    commit(
        spark.range(100000).select(
            F.col("id").alias("k"),
            (F.col("id") % 100).alias("cat"),
            F.concat(F.lit("u"), F.col("id")).alias("tag"),
        ),
        d, mode="overwrite", cluster_by=["k"], bloom_cols=["tag"],
        n_files=8, timestamp=100.0,
    )

    # exact results through the pushdown path (fresh load per query —
    # the contract the option documents)
    def load():
        return (
            spark.read.format("versioned_feed")
            .option("path", d).option("filterPushdown", "true").load()
        )

    assert load().filter("k = 77").count() == 1
    assert load().filter("k >= 99990").count() == 10
    assert load().filter("k in (5, 99999)").count() == 2
    assert load().filter("tag = 'u123'").count() == 1
    assert load().count() == 100000

    # the reader actually prunes files (stats for =/range/IN, blooms
    # for equality on the unsorted high-cardinality key); files are
    # packed into partitions, so count the file units they carry
    klass = S._make_datasource_class()
    inst = klass(options={"path": d, "filterPushdown": "true"})

    def files(rd):
        return sum(len(p.value) for p in rd.partitions())

    def parts(*filters):
        rd = inst.reader(None)
        list(rd.pushFilters(list(filters)))
        return files(rd)

    assert parts() == 8
    assert parts(EqualTo(("k",), 77)) == 1
    assert parts(In(("k",), (5, 99999))) == 2
    assert parts(EqualTo(("tag",), "u123")) == 1
    # state never leaks into the next filterless plan
    rd = inst.reader(None)
    list(rd.pushFilters([EqualTo(("k",), 77)]))
    assert files(rd) == 1
    assert files(rd) == 8

    # default (no option): mixed reuse of ONE DataFrame stays exact
    df = spark.read.format("versioned_feed").option("path", d).load()
    assert df.filter("k = 77").count() == 1
    assert df.count() == 100000
    # r14: the default reader must not even DEFINE pushFilters —
    # PySpark 4.1 raises DATA_SOURCE_PUSHDOWN_DISABLED for any batch
    # read through a pushFilters-bearing reader on a session without
    # spark.sql.python.filterPushdown.enabled (the r13 driver red row)
    inst2 = klass(options={"path": d})
    rd2 = inst2.reader(None)
    assert not hasattr(type(rd2), "pushFilters") or (
        "pushFilters" not in type(rd2).__dict__
        and "pushFilters"
        not in {
            k
            for base in type(rd2).__mro__[1:]
            if base.__module__.startswith("artis")
            for k in base.__dict__
        }
    )
    assert files(rd2) == 8


def test_versioned_feed_packs_small_table_into_one_partition(
    spark, tmp_path
):
    """Files are packed into byte-sized partitions with Spark's file
    scan split size, so a multi-file table far under the split is one
    partition, for the batch reader and the stream reader alike."""
    from pyspark.sql import functions as F

    from artis_data_ingest_spark.sinks.versioned import _read_manifest, commit
    from artis_data_ingest_spark.streaming import source as S

    d = str(tmp_path / "tbl")
    commit(
        spark.range(4000).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("v")
        ),
        d, mode="overwrite", n_files=6, timestamp=100.0,
    )
    commit(
        spark.range(4000, 4100).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("v")
        ),
        d, mode="append", n_files=2, timestamp=200.0,
    )
    files = _read_manifest(d, 1)["files"]
    assert len(files) >= 4
    ds = S._make_datasource_class()(options={"path": d})
    parts = ds.reader(None).partitions()
    assert len(parts) == 1
    assert sorted(u[0] for u in parts[0].value) == sorted(files)
    stream = ds.streamReader(None).partitions(
        {"version": -1}, {"version": 1}
    )
    assert len(stream) == 1 and len(stream[0].value) == len(files)
    # the session's conf is what registration packs with
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "1m")
    try:
        assert S._split_conf(spark) == (
            1 << 20, 4 << 20, spark.sparkContext.defaultParallelism
        )
    finally:
        spark.conf.set(key, old)
    S.register_versioned_feed(spark)
    got = spark.read.format("versioned_feed").load(d)
    assert got.rdd.getNumPartitions() == 1
    assert got.count() == 4100


def test_versioned_feed_splits_at_max_partition_bytes(spark, tmp_path):
    """Files larger in sum than maxPartitionBytes split into several
    partitions, largest first; no partition holds more than the split
    unless it holds one file, and no file is cut or read twice."""
    import os

    from pyspark.sql import functions as F

    from artis_data_ingest_spark.sinks.versioned import (
        _read_manifest,
        commit,
        read_version,
    )
    from artis_data_ingest_spark.streaming import source as S

    d = str(tmp_path / "tbl")
    commit(
        spark.range(20000).select(
            F.col("id").alias("k"), F.sha2(F.col("id").cast("string"), 256)
            .alias("h"),
        ),
        d, mode="overwrite", n_files=6, timestamp=100.0,
    )
    files = _read_manifest(d, 0)["files"]
    sizes = {f: os.path.getsize(f) for f in files}
    split = max(sizes.values()) * 2 + 1
    parts = S._pack_units([(f,) for f in files], (split, 1, 1))
    assert len(parts) > 1
    packed = [u[0] for p in parts for u in p.value]
    assert sorted(packed) == sorted(files)
    for p in parts:
        held = sum(sizes[u[0]] for u in p.value)
        assert held <= split or len(p.value) == 1
    # one file over the split is still one whole partition
    tiny = S._pack_units([(f,) for f in files], (1, 1, 1))
    assert [len(p.value) for p in tiny] == [1] * len(files)
    # a reader built with that split returns the table's rows
    ds = S._make_datasource_class((split, 1, 1))(options={"path": d})
    rd = ds.reader(None)
    planned = rd.partitions()
    assert len(planned) == len(parts)
    rows = sorted(
        r for p in planned for b in rd.read(p)
        for r in zip(*b.to_pydict().values())
    )
    want = sorted(
        (r.k, r.h, 0) for r in read_version(spark, d, 0).collect()
    )
    assert rows == want


def test_versioned_feed_packed_deletion_vectors(spark, tmp_path):
    """One packed partition mixing deletion-vector-masked and unmasked
    files returns read_version's rows."""
    from pyspark.sql import functions as F

    from artis_data_ingest_spark.sinks.versioned import (
        commit,
        delete_where,
        read_version,
    )
    from artis_data_ingest_spark.streaming import source as S

    d = str(tmp_path / "tbl")
    commit(
        spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") % 5).alias("v")
        ).repartitionByRange(4, "k"),
        d, mode="overwrite", n_files=4, cluster_by=["k"], timestamp=100.0,
    )
    delete_where(spark, d, "k < 100 or k between 600 and 650",
                 timestamp=200.0)
    parts = S._make_datasource_class()(options={"path": d}) \
        .reader(None).partitions()
    assert len(parts) == 1
    units = parts[0].value
    assert len(units) == 4
    masked = [u for u in units if u[2]]
    assert 0 < len(masked) < len(units)
    S.register_versioned_feed(spark)
    got = spark.read.format("versioned_feed").load(d).drop("_version")
    want = read_version(spark, d)
    assert sorted(tuple(r) for r in got.collect()) == sorted(
        tuple(r) for r in want.collect()
    )
    assert got.count() == 849


def test_versioned_feed_cdc_stream_packed_matches_batch(spark, tmp_path):
    """The CDC stream over a delete, updates, a replace and merges
    packs every insert and retraction unit into one partition and
    returns batch cdc_feed's rows, row for row; so does the CDC stream
    of a clone of a version with deletion vectors."""
    from pyspark.sql import functions as F

    from artis_data_ingest_spark.sinks.versioned import (
        cdc_feed,
        clone_table,
        commit,
        delete_where,
        merge_commit,
        replace_where,
        update_where,
    )
    from artis_data_ingest_spark.streaming import source as S

    d = str(tmp_path / "tbl")
    commit(
        spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        ),
        d, mode="overwrite", n_files=3, timestamp=100.0,
    )
    delete_where(spark, d, "k % 7 = 0", timestamp=200.0)
    update_where(spark, d, {"v": "v + 1"}, "k between 20 and 40",
                 timestamp=300.0)
    merge_commit(
        spark, d,
        spark.createDataFrame(
            [(30, 999), (55, 555), (500, 5000)], "k long, v long"
        ),
        keys=["k"], timestamp=400.0,
    )
    ds = S._make_datasource_class()(
        options={"path": d, "readChangeFeed": "true"}
    )
    parts = ds.streamReader(None).partitions(
        {"version": 0}, {"version": 3}
    )
    assert len(parts) == 1
    assert {u[4] for u in parts[0].value} == {
        "delete", "update_preimage", "update_postimage", "insert",
    }
    # an update of merged and updated rows, a replace, and a merge
    # whose source flags deletes
    update_where(spark, d, {"v": "v * 2"}, "k in (30, 31, 500)",
                 timestamp=500.0)
    replace_where(
        spark, d,
        spark.createDataFrame([(60, 1), (61, 2)], "k long, v long"),
        "k between 60 and 69", timestamp=600.0,
    )
    merge_commit(
        spark, d,
        spark.createDataFrame(
            [(61, 7, False), (80, 0, True), (700, 7, False)],
            "k long, v long, gone boolean",
        ),
        keys=["k"], delete_col="gone", timestamp=700.0,
    )
    c = str(tmp_path / "clone")
    clone_table(d, c, version=6, timestamp=800.0)
    S.register_versioned_feed(spark)

    def stream_rows(path, start):
        rows = []
        q = (
            spark.readStream.format("versioned_feed")
            .option("path", path).option("readChangeFeed", "true")
            .option("startingVersion", str(start)).load()
            .writeStream.foreachBatch(
                lambda df, _: rows.extend(
                    tuple(r) for r in df.select(
                        "k", "v", "_version", "_change_type"
                    ).collect()
                )
            )
            .option("checkpointLocation", path + "-ckpt")
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        return rows

    for path, since in ((d, 0), (c, None)):
        want = [
            tuple(r) for r in cdc_feed(spark, path, since=since)
            .select("k", "v", "_version", "_change_type").collect()
        ]
        assert len(want) > 0
        rows = stream_rows(path, -1 if since is None else since)
        assert sorted(rows) == sorted(want)
    kinds = {
        r["_change_type"] for r in cdc_feed(spark, d, since=3)
        .select("_change_type").distinct().collect()
    }
    assert kinds == {
        "delete", "update_preimage", "update_postimage", "insert",
    }
    clone_rows = cdc_feed(spark, c).collect()
    assert {r._change_type for r in clone_rows} == {"insert"}
    assert not {r.k for r in clone_rows} & {0, 7, 63, 80}


def test_versioned_feed_streams_apply_deletion_vectors_of_restore_and_clone(
    spark, tmp_path
):
    """The adds stream across a restore and the readChangeFeed stream
    on a clone deliver the restored or cloned state's LIVE rows: the
    deletion vectors republished with its files mask the deleted
    rows, as in the batch feeds and the snapshot reader."""
    from artis_data_ingest_spark.sinks.versioned import (
        clone_table,
        commit,
        delete_where,
        read_version,
        restore,
    )
    from artis_data_ingest_spark.streaming.source import (
        register_versioned_feed,
    )

    def rows(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )

    d, c = str(tmp_path / "t"), str(tmp_path / "c")
    commit(rows(0, 100), d, mode="overwrite", n_files=2, timestamp=100.0)
    delete_where(spark, d, "k < 40", timestamp=101.0)
    commit(rows(100, 110), d, timestamp=102.0)
    restore(spark, d, version=1, timestamp=103.0)
    clone_table(d, c, version=1, timestamp=110.0)
    register_versioned_feed(spark)

    def drain(path, start, cdc):
        got = []
        reader = (
            spark.readStream.format("versioned_feed")
            .option("path", path).option("startingVersion", str(start))
        )
        if cdc:
            reader = reader.option("readChangeFeed", "true")
        q = (
            reader.load().writeStream.foreachBatch(
                lambda df, _: got.extend(df.collect())
            )
            .option("checkpointLocation", path + "-ckpt")
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        return got

    live = sorted(
        (r.k, r.v) for r in read_version(spark, d, 1).collect()
    )
    assert len(live) == 60
    adds = drain(d, 2, cdc=False)
    assert {r._version for r in adds} == {3}
    assert sorted((r.k, r.v) for r in adds) == live
    changes = drain(c, -1, cdc=True)
    assert {r._change_type for r in changes} == {"insert"}
    assert sorted((r.k, r.v) for r in changes) == live


def test_stream_writer_complete_mode_overwrites(spark, tmp_path):
    """ADVICE r13 #4: outputMode('complete') passes overwrite=True to
    streamWriter — each micro-batch must REPLACE the table state (one
    overwrite version), not silently accumulate appended rows."""
    from pyspark.sql import functions as F

    from artis_data_ingest_spark.sinks.versioned import (
        commit,
        read_version,
        _read_manifest,
        latest_version,
    )
    from artis_data_ingest_spark.streaming.source import (
        register_versioned_feed,
    )

    register_versioned_feed(spark)
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    ck = str(tmp_path / "ck")
    commit(
        spark.createDataFrame(
            [(1, "a"), (2, "a"), (3, "b")], "k long, g string"
        ),
        src, mode="overwrite", timestamp=100.0,
    )

    def run_round():
        q = (
            spark.readStream.format("versioned_feed")
            .option("path", src).option("consumerId", "agg").load()
            .groupBy("g")
            .agg(F.count(F.lit(1)).alias("n"))
            .writeStream.format("versioned_feed")
            .option("path", dst).option("writerId", "w1")
            .option("checkpointLocation", ck)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_round()
    got = {
        r["g"]: r["n"] for r in read_version(spark, dst).collect()
    }
    assert got == {"a": 2, "b": 1}
    commit(
        spark.createDataFrame([(4, "b"), (5, "b")],
                              "k long, g string"),
        src, timestamp=200.0,
    )
    run_round()
    # complete mode REPLACES: latest state is the new aggregate, not
    # the union of both rounds' outputs
    got = {
        r["g"]: r["n"] for r in read_version(spark, dst).collect()
    }
    assert got == {"a": 2, "b": 3}
    assert _read_manifest(dst, latest_version(dst))["mode"] == (
        "overwrite"
    )


def test_versioned_feed_batch_read_default_session(spark, tmp_path):
    """r14 regression pin for the r13 driver red row
    (q_version_pushdown / DATA_SOURCE_PUSHDOWN_DISABLED): a plain
    batch .load() of a versioned_feed table must work on a session
    where spark.sql.python.filterPushdown.enabled is FALSE — i.e. any
    session not built by this repo's factory (session.py:56).  The
    pushdown hook now lives on an opt-in subclass, so default readers
    never trip PySpark 4.1's refuse-to-ignore-pushFilters check
    (pyspark/sql/worker/plan_data_source_read.py:375-388); the
    explicit .option('filterPushdown','true') path still needs the
    conf, which is runtime-settable."""
    from pyspark.sql import functions as F

    from artis_data_ingest_spark.sinks.versioned import commit
    from artis_data_ingest_spark.streaming.source import (
        register_versioned_feed,
    )

    d = str(tmp_path / "tbl")
    commit(
        spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("cat")
        ),
        d, mode="overwrite", timestamp=100.0,
    )
    register_versioned_feed(spark)
    conf = "spark.sql.python.filterPushdown.enabled"
    prev = spark.conf.get(conf, "true")
    # simulate the driver's session: the conf is OFF (the repo factory
    # turns it on at session.py:56, which masked the bug in r13)
    spark.conf.set(conf, "false")
    try:
        # the exact shape that died under the driver: default load,
        # filter, aggregate — must be exact with the conf OFF
        df = (
            spark.read.format("versioned_feed").option("path", d)
            .load()
        )
        assert df.count() == 1000
        assert df.filter("cat = 3").count() == len(
            [i for i in range(1000) if i % 7 == 3]
        )
        # opt-in pushdown on the conf-off session: flipping the conf
        # at runtime repairs it in the same session (what
        # q_version_pushdown does at query start)
        spark.conf.set(conf, "true")
        dfp = (
            spark.read.format("versioned_feed").option("path", d)
            .option("filterPushdown", "true").load()
        )
        assert dfp.filter("k = 5").count() == 1
    finally:
        spark.conf.set(conf, prev)


def test_versioned_feed_datasource_writer(spark, tmp_path):
    """r13 write path of the DataSource: df.write.format(
    'versioned_feed') stages one Arrow-native parquet file per task
    and publishes atomically via commit_staged (schema-enforced,
    conflict-guarded); mode('overwrite') restarts the file list; the
    stream writer publishes one version per micro-batch with
    exactly-once replay protection (durable writer cursor + manifest
    batch markers); tables whose properties need Spark to honor
    refuse loudly."""
    import pytest
    from pyspark.sql import functions as F

    from artis_data_ingest_spark.sinks.versioned import (
        add_constraint,
        commit,
        history,
        latest_version,
        list_versions,
        read_version,
        _read_manifest,
    )
    from artis_data_ingest_spark.streaming.source import (
        register_versioned_feed,
    )

    register_versioned_feed(spark)
    d = str(tmp_path / "tbl")

    def w(df, mode="append", **opts):
        wr = df.write.format("versioned_feed").mode(mode).option(
            "path", d
        )
        for k, v in opts.items():
            wr = wr.option(k, v)
        wr.save()

    w(spark.range(100).select(F.col("id").alias("k"),
                              (F.col("id") * 2).alias("v")),
      timestamp="100.0")
    w(spark.range(100, 150).select(F.col("id").alias("k"),
                                   (F.col("id") * 2).alias("v")),
      timestamp="200.0")
    assert list_versions(d) == [0, 1]
    assert read_version(spark, d).count() == 150
    w(spark.range(10).select(F.col("id").alias("k"),
                             (F.col("id") * 2).alias("v")),
      mode="overwrite", timestamp="300.0")
    assert read_version(spark, d).count() == 10
    assert read_version(spark, d, 1).count() == 150  # time travel
    m = _read_manifest(d, 2)
    assert m["mode"] == "overwrite" and m["schema"]["k"] == "int64"

    # schema enforcement holds on the writer path
    with pytest.raises(Exception, match="incompatible|SchemaMismatch"):
        w(spark.range(3).select(
            F.col("id").cast("int").alias("k"),
            (F.col("id") * 2).alias("v")))
    assert latest_version(d) == 2

    # properties that need Spark refuse loudly instead of degrading
    add_constraint(spark, d, "pos", "v >= 0", timestamp=350.0)
    with pytest.raises(Exception, match="need a SparkSession"):
        w(spark.range(3).select((F.col("id") + 500).alias("k"),
                                F.col("id").alias("v")))

    # --- stream writer: versioned -> versioned ETL, pure Spark API
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    ckpt = str(tmp_path / "ckpt")
    commit(spark.range(10).select(F.col("id").alias("k"),
                                  F.col("id").alias("v")),
           src, mode="overwrite", timestamp=100.0)
    commit(spark.range(10, 20).select(F.col("id").alias("k"),
                                      F.col("id").alias("v")),
           src, timestamp=200.0)

    def run():
        q = (
            spark.readStream.format("versioned_feed")
            .option("path", src).load()
            .withColumn("v2", F.col("v") * 2).drop("_version")
            .writeStream.format("versioned_feed").option("path", dst)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    run()
    assert read_version(spark, dst).count() == 20
    assert list_versions(dst) == [0]

    # resume: only the delta flows, one version per micro-batch,
    # marker note recorded for replay protection
    commit(spark.range(20, 25).select(F.col("id").alias("k"),
                                      F.col("id").alias("v")),
           src, timestamp=300.0)
    run()
    assert read_version(spark, dst).count() == 25
    assert list_versions(dst) == [0, 1]
    notes = [r.note for r in
             history(spark, dst).orderBy("version").collect()]
    assert notes == ["stream [stream#0]", "stream [stream#1]"]

    # idle re-run: no new version, no duplicates
    run()
    assert list_versions(dst) == [0, 1]
    assert read_version(spark, dst).agg(
        F.sum("v2")
    ).collect()[0][0] == sum(i * 2 for i in range(25))


def test_versioned_stream_quarantine(spark, tmp_path):
    """r13: streaming ingest into a CONSTRAINED versioned table with
    on_violation='quarantine' — a micro-batch containing violating
    rows commits its valid rows and records the violators in the
    manifest instead of failing the stream; the default error mode
    still fails the batch whole."""
    from pyspark.sql import functions as F

    from artis_data_ingest_spark.sinks.versioned import (
        add_constraint,
        commit,
        latest_version,
        quarantined_rows,
        read_version,
    )
    from artis_data_ingest_spark.streaming.sink import (
        versioned_batch_writer,
    )

    d = str(tmp_path / "tbl")
    commit(
        spark.range(5).select(F.col("id").alias("k"),
                              (F.col("id") * 2).alias("v")),
        d, mode="overwrite", timestamp=100.0,
    )
    add_constraint(spark, d, "v_pos", "v >= 0", timestamp=110.0)

    mixed = spark.range(4).select(
        (F.col("id") + 100).alias("k"),
        F.when(F.col("id") % 2 == 0, F.col("id"))
        .otherwise(F.lit(-1).cast("bigint")).alias("v"),
    )
    # quarantine mode: valid rows land, violators recorded
    versioned_batch_writer(d, on_violation="quarantine")(mixed, 0)
    v = latest_version(d)
    assert read_version(spark, d).count() == 7
    assert quarantined_rows(spark, d, v).count() == 2
    # replay of the same batch id skips (exactly-once preserved)
    versioned_batch_writer(d, on_violation="quarantine")(mixed, 0)
    assert latest_version(d) == v

    # default mode refuses the whole violating batch
    import pytest
    from artis_data_ingest_spark.sinks.versioned import (
        ConstraintViolation,
    )

    with pytest.raises(ConstraintViolation):
        versioned_batch_writer(d)(mixed, 1)
    assert latest_version(d) == v


def test_versioned_feed_cdc_stream_and_streaming_matview(spark, tmp_path):
    """r13 readChangeFeed: the versioned_feed stream emits Delta-CDF
    _change_type rows — deletes and update pre-images recovered from
    the versions' NEW deletion vectors by an Arrow `take` per file,
    executor-side — matching the batch cdc_feed exactly; and the
    capstone composition: a STREAMING MATERIALIZED VIEW (CDC stream ->
    foreachBatch apply_cdc_to_aggregate -> versioned view table) that
    stays equal to re-aggregating the source's full state after
    arbitrary DML and a resume."""
    from pyspark.sql import functions as F

    from artis_data_ingest_spark.operators.matview import (
        apply_cdc_to_aggregate,
    )
    from artis_data_ingest_spark.sinks.versioned import (
        cdc_feed,
        commit,
        delete_where,
        latest_version,
        read_version,
        replace_where,
        update_where,
    )
    from artis_data_ingest_spark.streaming.source import (
        register_versioned_feed,
    )

    register_versioned_feed(spark)
    src = str(tmp_path / "src")
    commit(
        spark.range(10).select(
            F.col("id").alias("k"),
            (F.col("id") % 3).alias("g"),
            (F.col("id") * 10).alias("v"),
        ),
        src, mode="overwrite", timestamp=100.0,
    )
    delete_where(spark, src, "k in (1, 4)", timestamp=200.0)
    update_where(spark, src, {"v": "v + 1000"}, "k = 2",
                 timestamp=300.0)
    replace_where(
        spark, src,
        spark.range(2).select(
            (F.col("id") + 50).alias("k"),
            F.lit(0).cast("bigint").alias("g"),
            F.col("id").alias("v"),
        ),
        "g = 0", timestamp=400.0,
    )

    def cdc_stream():
        return (
            spark.readStream.format("versioned_feed")
            .option("path", src).option("readChangeFeed", "true")
            .load()
        )

    # --- parity with the batch cdc_feed (plus v0's initial inserts)
    sink = str(tmp_path / "raw")
    q = (
        cdc_stream().writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ck1"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {
        (r["_version"], r["_change_type"]): r["count"]
        for r in spark.read.parquet(sink)
        .groupBy("_version", "_change_type").count().collect()
    }
    want = {
        (r["_version"], r["_change_type"]): r["count"]
        for r in cdc_feed(spark, src, since=0)
        .groupBy("_version", "_change_type").count().collect()
    }
    assert got == {**want, (0, "insert"): 10}

    # --- streaming materialized view: exactly-once refresh per batch
    view_dir = str(tmp_path / "view")

    def refresh(batch_df, batch_id):
        cur = latest_version(view_dir)
        base = (
            read_version(spark, view_dir)
            if cur is not None
            else spark.createDataFrame(
                [], "g bigint, n_rows bigint, sum_v bigint"
            )
        )
        out = apply_cdc_to_aggregate(
            base, batch_df, keys=["g"], sums={"sum_v": "v"}
        ).select(
            "g",
            F.col("n_rows").cast("bigint").alias("n_rows"),
            F.col("sum_v").cast("bigint").alias("sum_v"),
        )
        commit(out, view_dir, mode="overwrite",
               note=f"view batch={batch_id}")

    q = (
        cdc_stream().writeStream.foreachBatch(refresh)
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)

    def view_state():
        return {
            r["g"]: (r["n_rows"], r["sum_v"])
            for r in read_version(spark, view_dir).collect()
        }

    def truth():
        return {
            r["g"]: (r["n_rows"], r["sum_v"])
            for r in read_version(spark, src).groupBy("g").agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("v").alias("sum_v"),
            ).collect()
        }

    assert view_state() == truth()

    # more DML, resume: only the delta flows, the view converges again
    delete_where(spark, src, "k = 8", timestamp=500.0)
    update_where(spark, src, {"v": "v + 7"}, "k = 0", timestamp=600.0)
    q = (
        cdc_stream().writeStream.foreachBatch(refresh)
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    assert view_state() == truth()


def test_feed_sources_refuse_a_derived_session(spark):
    """All four Python feed sources register through one helper.  On a
    session derived with ``newSession()`` after the first
    registration, Spark 4.1's duplicate check sees the source while
    its lookup does not; each register call raises a clear
    RuntimeError there instead of returning a session whose ``load()``
    fails with DATA_SOURCE_NOT_FOUND."""
    import pytest

    from artis_data_ingest_spark.streaming.delta_feed import (
        register_delta_feed,
    )
    from artis_data_ingest_spark.streaming.hudi_feed import (
        register_hudi_feed,
    )
    from artis_data_ingest_spark.streaming.iceberg_feed import (
        register_iceberg_feed,
    )
    from artis_data_ingest_spark.streaming.source import (
        register_versioned_feed,
    )

    for register in (
        register_versioned_feed,
        register_delta_feed,
        register_iceberg_feed,
        register_hudi_feed,
    ):
        register(spark)
        register(spark)  # idempotent on the registering session
        with pytest.raises(RuntimeError, match="derived session"):
            register(spark.newSession())
