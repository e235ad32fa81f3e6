"""Tests for scale patterns: salted agg equivalence, as-of join
semantics, bucketed co-located joins, report sink, stateful streaming."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from artis_data_ingest_spark.operators.bucketing import (
    bucketed_join,
    bucketize,
)
from artis_data_ingest_spark.operators.scale import asof_join, salted_agg
from artis_data_ingest_spark.sinks.report import conditional_prose, to_markdown
from artis_data_ingest_spark.sources.tables import load_table
from artis_data_ingest_spark.streaming.stateful import user_profile_stream

SF_DIR = "/root/testdata/sf0.001"


def test_salted_agg_equals_direct(spark):
    li = load_table(spark, SF_DIR, "lineitem")
    salted = {
        r.l_returnflag: (r.n, r.s)
        for r in salted_agg(
            li,
            key="l_returnflag",
            aggs={
                "n": (F.count(F.lit(1)), "sum"),
                "s": (F.sum(F.col("l_quantity").cast("decimal(12,2)")), "sum"),
            },
        ).collect()
    }
    direct = {
        r.l_returnflag: (r.n, r.s)
        for r in li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("s"),
        )
        .collect()
    }
    assert salted == direct


def test_asof_join_picks_latest_prior(spark):
    left = spark.createDataFrame(
        [(1, 10, "L1"), (1, 20, "L2"), (2, 5, "L3")], ["k", "t", "who"]
    )
    right = spark.createDataFrame(
        [(1, 8, 100.0), (1, 15, 200.0), (2, 9, 300.0)], ["k", "t", "v"]
    )
    out = {
        r.who: r.asof_v
        for r in asof_join(
            left, right, key="k", ts="t", right_cols=["v"]
        ).collect()
    }
    assert out["L1"] == 100.0  # t=10 → right t=8
    assert out["L2"] == 200.0  # t=20 → right t=15
    assert out["L3"] is None  # t=5 → no right ≤ 5


def test_asof_join_equal_ts_included(spark):
    left = spark.createDataFrame([(1, 10, "L")], ["k", "t", "who"])
    right = spark.createDataFrame([(1, 10, 42.0)], ["k", "t", "v"])
    r = asof_join(left, right, key="k", ts="t", right_cols=["v"]).collect()[0]
    assert r.asof_v == 42.0


def test_bucketed_join_is_shuffle_free(spark):
    # uses the default ./spark-warehouse dir (gitignored); warehouse.dir
    # is a static conf and can't be pointed at tmp_path per-test
    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    li = load_table(spark, SF_DIR, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    bucketize(spark, orders, "t_orders_b", "o_orderkey", n_buckets=4)
    bucketize(spark, li, "t_lineitem_b", "o_orderkey", n_buckets=4)
    # at fixture scale AQE would broadcast instead (and rightly so);
    # disable broadcast to expose the big-table shape under test: a
    # shuffle-free sort-merge join over co-located buckets
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(
            spark, "t_orders_b", "t_lineitem_b", "o_orderkey"
        )
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")
    assert "Exchange" not in plan  # co-located: no shuffle on either side
    assert "SortMergeJoin" in plan
    assert "Bucketed: true" in plan


def test_report_sink_markdown_and_prose(spark):
    df = spark.createDataFrame(
        [("a", 1, True), ("b", 2, False)], ["name", "n", "flag"]
    )
    md = to_markdown(df)
    assert md.splitlines()[0] == "| name | n | flag |"
    assert "| a | 1 | True |" in md
    assert (
        conditional_prose(df, "flag", "some flagged", "none flagged")
        == "some flagged"
    )
    none_df = df.filter(~F.col("flag"))
    assert (
        conditional_prose(none_df, "flag", "some flagged", "none flagged")
        == "none flagged"
    )


def test_stateful_user_profiles_stream(spark, tmp_path):
    src = str(tmp_path / "stateful_src")
    ev = load_table(spark, SF_DIR, "events").limit(200)
    ev.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        user_profile_stream(stream)
        .writeStream.format("memory")
        .queryName("t_profiles")
        .outputMode("update")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            q.processAllAvailable()
            if not q.status["isDataAvailable"]:
                break
            time.sleep(0.2)
        got = {
            r.user_id: (r.n_events, r.sum_value)
            for r in spark.sql("SELECT * FROM t_profiles").collect()
        }
    finally:
        q.stop()
    expect = {
        r.user_id: (r.n, float(r.s))
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert set(got) == set(expect)
    for uid, (n, s) in expect.items():
        assert got[uid][0] == n
        assert abs(got[uid][1] - s) < 1e-6


def test_write_partitioned_layout_and_pruning(spark, tmp_path):
    from artis_data_ingest_spark.sinks.parquet import (
        read_partitioned,
        write_partitioned,
    )

    ev = load_table(spark, SF_DIR, "events")
    out = str(tmp_path / "events_by_type")
    write_partitioned(
        ev, out, ["event_type"], sort_cols=["ts"], files_per_partition=1
    )
    # hive layout: one directory per event_type, one data file each
    import pathlib

    dirs = sorted(
        p.name for p in pathlib.Path(out).iterdir()
        if p.name.startswith("event_type=")
    )
    assert len(dirs) == 5
    for d in dirs:
        files = [
            f for f in (pathlib.Path(out) / d).iterdir()
            if f.name.endswith(".parquet")
        ]
        assert len(files) == 1

    back = read_partitioned(spark, out)
    assert back.count() == ev.count()
    # partition-column filter prunes directories before data IO
    q = back.filter(F.col("event_type") == "click")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(event_type" in plan
    assert q.count() == ev.filter(F.col("event_type") == "click").count()


def test_write_partitioned_salted_file_split(spark, tmp_path):
    from artis_data_ingest_spark.sinks.parquet import write_partitioned

    ev = load_table(spark, SF_DIR, "events")
    out = str(tmp_path / "events_salted")
    write_partitioned(ev, out, ["event_type"], files_per_partition=3)
    import pathlib

    d = next(
        p for p in pathlib.Path(out).iterdir()
        if p.name.startswith("event_type=")
    )
    files = [f for f in d.iterdir() if f.name.endswith(".parquet")]
    assert 2 <= len(files) <= 3  # salt splits the directory's rows


def test_aqe_splits_skewed_join(spark):
    # build a pathologically skewed join (one key owns ~95% of rows) and
    # lower the AQE skew thresholds so the splitter triggers at test
    # scale; the executed plan must mark the sort-merge join as skew=true
    old = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        left = spark.range(200_000).select(
            F.when(F.col("id") % 20 != 0, F.lit(7)).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(2_000).select(
            F.when(F.col("id") % 20 != 0, F.lit(7)).otherwise(F.col("id")).alias("k"),
            (F.col("id") * 2).alias("w"),
        )
        # aggregate the payload so it rides the join's shuffle: a bare
        # count() prunes ``v`` and the hot partition shrinks to a few KB
        # of the constant key, under AQE's skew factor
        joined = left.join(right, on="k").groupBy().agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
        )
        row = joined.collect()[0]
        # key 7: 190,000 left x 1,900 right rows; keys 0, 20, ..., 1980
        # match once each
        hot = sum(range(200_000)) - 20 * sum(range(10_000))
        assert (row.n, row.s) == (
            190_000 * 1_900 + 100,
            1_900 * hot + 20 * sum(range(100)),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_asof_forward_known_values(spark):
    import datetime as dt

    from artis_data_ingest_spark.operators.scale import asof_join

    t = lambda m: dt.datetime(2025, 1, 1, 0, m)
    left = spark.createDataFrame(
        [(1, t(10)), (1, t(30)), (2, t(5))], "k long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(1, t(10), 100.0), (1, t(20), 200.0), (2, t(1), 50.0)],
        "k long, ts timestamp, value double",
    )
    out = {
        (r.k, r.ts): r.asof_value
        for r in asof_join(
            left, right, key="k", ts="ts", right_cols=["value"],
            direction="forward",
        ).collect()
    }
    assert out[(1, t(10))] == 100.0   # equal ts matches (inclusive)
    assert out[(1, t(30))] is None    # nothing after
    assert out[(2, t(5))] is None     # right row is before, not after


def test_spread_cpu_bound_noop_when_partitioned(spark, caplog):
    import logging

    from artis_data_ingest_spark.operators.scale import spread_cpu_bound

    df = spark.range(1000).repartition(64)
    target = spark.sparkContext.defaultParallelism
    with caplog.at_level(
        logging.INFO, logger="artis_data_ingest_spark.operators.scale"
    ):
        out = spread_cpu_bound(df)
        assert out is df  # already >= defaultParallelism: no extra exchange
        small = spark.range(10).coalesce(1)
        spread = spread_cpu_bound(small)
    one_split = "keep" if target < 4 else "repartition"
    assert [r.getMessage() for r in caplog.records] == [
        f"gate op=spread_cpu_bound partitions=64 limit={target} path=keep",
        f"gate op=spread_cpu_bound partitions=1 limit={target} "
        f"path={one_split}",
    ]
    assert spread.rdd.getNumPartitions() >= min(
        32, spark.sparkContext.defaultParallelism
    )
    assert spread.count() == 10


def test_sequence_pack_default_has_no_single_partition_exchange(spark):
    """The default packing surface must scale: its window is partitioned
    by shard, so the executed plan carries a hash exchange but NO
    Exchange SinglePartition. The global-order reference twin is the
    one allowed to serialize (that is its documented point)."""
    from artis_data_ingest_spark.plans.registry import all_queries

    qs = all_queries()
    sf = "/root/testdata/sf0.001"

    sharded = qs["q_sequence_pack"].fn(spark, sf)
    sharded.collect()
    plan = sharded._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "Exchange SinglePartition" not in plan
    assert "Exchange hashpartitioning" in plan

    # r9: the global-order twin no longer serializes either — its
    # prefix sum goes through distributed_running_sum (range partition
    # + broadcast offsets), so the repo ships ZERO single-partition
    # packing paths
    glob = qs["q_sequence_pack_global"].fn(spark, sf)
    glob.collect()
    gplan = glob._jdf.queryExecution().executedPlan().toString()
    gplan = gplan.split("== Initial Plan ==")[0]
    assert "Exchange SinglePartition" not in gplan


def test_manifest_prunes_files_and_preserves_results(spark, tmp_path):
    """Data-skipping manifest: per-file min/max envelopes built in one
    distributed pass must (a) skip files whose range can't match,
    (b) return exactly the full-scan answer on surviving files, and
    (c) return an empty, schema-stable result when everything prunes."""
    from artis_data_ingest_spark.sinks.manifest import (
        build_manifest,
        prune_files,
        read_pruned,
    )
    from artis_data_ingest_spark.sinks.parquet import write_partitioned

    o = load_table(spark, SF_DIR, "orders")
    out = str(tmp_path / "orders_by_status")
    # sort within files on o_totalprice → tight, mostly-disjoint
    # envelopes, the layout that makes min/max skipping effective
    write_partitioned(
        o, out, ["o_orderstatus"], sort_cols=["o_totalprice"],
        files_per_partition=4,
    )
    man = build_manifest(spark, out, ["o_totalprice"])
    files = [r.file for r in man.select("file").collect()]
    assert len(files) >= 8  # 3 statuses × 4 salted files (some may merge)

    lo, hi = 100.0, 5000.0
    kept = prune_files(man, "o_totalprice", lo, hi)
    assert 0 < len(kept) < len(files), (len(kept), len(files))

    pruned_rows = read_pruned(
        spark, out, man, "o_totalprice", lo, hi
    ).collect()
    got = sorted((r.o_orderkey, r.o_orderstatus) for r in pruned_rows)
    want = sorted(
        (r.o_orderkey, r.o_orderstatus)
        for r in o.filter(F.col("o_totalprice").between(lo, hi)).collect()
    )
    # includes the hive partition column: leaf-file reads must set
    # basePath or o_orderstatus silently comes back NULL
    assert got == want and got
    assert {s for _, s in got} == {"O", "P", "F"}

    # a range beyond every envelope prunes everything, schema intact
    empty = read_pruned(spark, out, man, "o_totalprice", 1e12, 2e12)
    assert empty.count() == 0
    assert set(empty.columns) == set(o.columns) | {"o_orderstatus"}


def test_zorder_layout_prunes_both_dimensions(spark, tmp_path):
    """The z-order claim, pinned on real files: sorted by the Morton
    key, EVERY file has a bounded envelope in BOTH dimensions, so a
    selective range on either column prunes files; sorted by x alone,
    a y-range prunes nothing. Results must equal the full scan."""
    import pathlib

    from artis_data_ingest_spark.operators.zorder import bucket, zvalue
    from artis_data_ingest_spark.sinks.manifest import (
        build_manifest,
        prune_files,
        read_pruned,
    )

    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity"
    )
    bx = bucket(F.col("l_extendedprice"), 0.0, 500.0, 8)
    by = bucket(F.col("l_quantity"), 0.0, 1.0, 8)
    zcol = zvalue(bx, by, 8)

    def write_sorted(key, name):
        out = str(tmp_path / name)
        (
            li.withColumn("_k", key)
            .repartition(1)
            .sortWithinPartitions("_k")
            .drop("_k")
            .write.mode("overwrite")
            .option("maxRecordsPerFile", 400)
            .parquet(out)
        )
        n = len(list(pathlib.Path(out).glob("*.parquet")))
        return out, n

    zdir, zn = write_sorted(zcol, "li_zorder")
    xdir, xn = write_sorted(F.col("l_extendedprice"), "li_xsort")
    assert zn > 4 and xn > 4  # maxRecordsPerFile split the single task

    man_z = build_manifest(spark, zdir, ["l_extendedprice", "l_quantity"])
    man_x = build_manifest(spark, xdir, ["l_extendedprice", "l_quantity"])

    # y-selective range: z layout prunes, x layout cannot
    kept_z = prune_files(man_z, "l_quantity", 1.0, 5.0)
    kept_x = prune_files(man_x, "l_quantity", 1.0, 5.0)
    assert len(kept_z) < zn, "z-order files must bound l_quantity"
    assert len(kept_x) == xn, "x-sorted files cannot bound l_quantity"
    # x-selective range still prunes in the z layout too
    assert len(prune_files(man_z, "l_extendedprice", 0.0, 20000.0)) < zn

    got = sorted(
        (r.l_orderkey, r.l_linenumber)
        for r in read_pruned(
            spark, zdir, man_z, "l_quantity", 1.0, 5.0
        ).collect()
    )
    want = sorted(
        (r.l_orderkey, r.l_linenumber)
        for r in li.filter(F.col("l_quantity").between(1.0, 5.0)).collect()
    )
    assert got == want and got


def test_zorder_3d_prunes_every_dimension(spark, tmp_path):
    """r13: zvalue_n generalizes the Morton interleave to k columns
    (Delta's ZORDER BY takes arbitrarily many) — files sorted on a
    3-D key have bounded envelopes in ALL THREE dimensions, so a
    selective single-dim range on ANY of them prunes files; the 2-D
    helpers are the k=2 special case, bit-for-bit."""
    import pathlib

    from artis_data_ingest_spark.operators.zorder import (
        bucket,
        zvalue,
        zvalue_n,
        zvalue_n_sql,
        zvalue_sql,
    )
    from artis_data_ingest_spark.sinks.manifest import (
        build_manifest,
        prune_files,
    )

    # k=2 delegation is exact (same bits, same SQL text)
    assert zvalue_sql("a", "b", 4) == zvalue_n_sql(["a", "b"], 4)
    row = (
        spark.range(1)
        .select(
            zvalue(F.lit(5), F.lit(9), 8).alias("two"),
            zvalue_n([F.lit(5), F.lit(9)], 8).alias("n"),
        )
        .first()
    )
    assert row.two == row.n

    # 63-bit guard
    import pytest as _pytest
    with _pytest.raises(ValueError):
        zvalue_n([F.lit(1)] * 8, bits=8)

    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_quantity", "l_discount"
    )
    dims = [
        bucket(F.col("l_extendedprice"), 0.0, 500.0, 5),
        bucket(F.col("l_quantity"), 0.0, 1.0, 5),
        bucket(F.col("l_discount"), 0.0, 0.002, 5),
    ]
    out = str(tmp_path / "li_z3")
    (
        li.withColumn("_k", zvalue_n(dims, bits=5))
        .repartition(1)
        .sortWithinPartitions("_k")
        .drop("_k")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 400)
        .parquet(out)
    )
    n = len(list(pathlib.Path(out).glob("*.parquet")))
    assert n > 4
    man = build_manifest(
        spark, out, ["l_extendedprice", "l_quantity", "l_discount"]
    )
    assert len(prune_files(man, "l_extendedprice", 0.0, 15000.0)) < n
    assert len(prune_files(man, "l_quantity", 1.0, 5.0)) < n
    assert len(prune_files(man, "l_discount", 0.0, 0.01)) < n



def test_transform_with_state_plan_constructs(spark):
    """transformWithStateInPandas wiring (Spark 4 state API): the
    streaming logical plan must build with the declared output schema
    even where the TWS python runtime (google.protobuf) is absent —
    execution is covered by the parity test below, which runs the TWS
    path where the runtime exists and its applyInPandasWithState
    behavioral twin otherwise."""
    from artis_data_ingest_spark.streaming.stateful import (
        TWS_OUTPUT_SCHEMA,
        running_stats_stream,
    )

    ev = load_table(spark, SF_DIR, "events")
    stream = spark.readStream.schema(ev.schema).parquet(
        "/root/testdata/sf0.001"
    )
    out = running_stats_stream(stream)
    assert out.isStreaming
    assert out.schema == TWS_OUTPUT_SCHEMA


def _run_running_stats_parity(spark, tmp_path, stream_fn, rocksdb):
    """Drive ``stream_fn`` (either state API; both share
    TWS_OUTPUT_SCHEMA and the exact-integer-cents transition) over a
    multi-file source with maxFilesPerTrigger=1 — state MUST survive
    micro-batch boundaries — and assert the final per-user rows equal
    the batch aggregation EXACTLY (no float tolerance: cents are
    per-row rint'ed integers, values are 2-decimal)."""
    src = str(tmp_path / "rs_src")
    ev = load_table(spark, SF_DIR, "events").limit(300)
    # 3 files -> 3 micro-batches: each user's state crosses batches
    ev.repartition(3).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)

    prov = "spark.sql.streaming.stateStore.providerClass"
    orig = spark.conf.get(prov, None)
    if rocksdb:
        spark.conf.set(
            prov,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
    try:
        q = (
            stream_fn(stream)
            .writeStream.format("memory")
            .queryName("t_rs_parity")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "rs_ckpt"))
            .start()
        )
        try:
            deadline = time.time() + 90
            while time.time() < deadline:
                q.processAllAvailable()
                if not q.status["isDataAvailable"]:
                    break
                time.sleep(0.2)
            n_batches = len(
                spark.sql(
                    "SELECT DISTINCT user_id FROM t_rs_parity"
                ).collect()
            )
            # update mode re-emits touched keys per batch: keep each
            # user's LAST emission (cumulative state)
            rows = spark.sql("SELECT * FROM t_rs_parity").collect()
        finally:
            q.stop()
    finally:
        if orig is None:
            spark.conf.unset(prov)
        elif rocksdb:
            spark.conf.set(prov, orig)
    got = {}
    for r in rows:  # memory sink appends in batch order
        got[r.user_id] = (r.n_events, r.total_cents, r.max_value)
    assert n_batches > 0

    expect = {
        r.user_id: (r.n, int(r.c), float(r.m))
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.round(F.col("value") * 100).cast("bigint")
            ).alias("c"),
            F.max("value").alias("m"),
        )
        .collect()
    }
    assert got == expect and got
    # statefulness really crossed batches: more emissions than users
    assert len(rows) > len(got)


def test_running_stats_stateful_parity(spark, tmp_path):
    """Stream == batch for the per-user running-stats operator, run on
    whichever state API executes here: the Spark 4 transformWithState
    path (ValueState, RocksDB) where google.protobuf exists, else its
    applyInPandasWithState behavioral twin (same TWS_OUTPUT_SCHEMA,
    same exact-cents transition) — the r8 skip is gone; on a full
    cluster image this test exercises the TWS path itself."""
    from artis_data_ingest_spark.streaming import stateful

    if stateful.TWS_RUNTIME_AVAILABLE:
        _run_running_stats_parity(
            spark, tmp_path, stateful.running_stats_stream, rocksdb=True
        )
    else:
        _run_running_stats_parity(
            spark,
            tmp_path,
            stateful.running_stats_stream_compat,
            rocksdb=False,
        )


def test_pit_join_hot_key_skew_split_parity(spark):
    """Adversarial skew fixture for the PIT/range-join family (VERDICT
    r6 task 8): one hot user carries ~100x the fact rows of every other
    user.  With broadcasting disabled and AQE skew-split thresholds
    lowered, the key-hashed equi join must (a) compile a sort-merge
    join whose skewed partition AQE splits at runtime, and (b) return
    EXACTLY the pairs of the default broadcast plan — the residual
    range predicate evaluates per row, so partition surgery cannot
    change semantics."""
    from artis_data_ingest_spark.operators.scale import pit_join

    n_hot, n_users, per_user = 60_000, 50, 120
    facts = spark.range(n_hot + n_users * per_user).select(
        F.col("id").alias("event_id"),
        F.when(F.col("id") < n_hot, F.lit(0))
        .otherwise((F.col("id") - n_hot) % n_users + 1)
        .alias("user_id"),
        (F.col("id") * 7 % 1000).alias("ts_us"),
    )
    # 10 versions per user covering [0,1000) in 100-wide slabs
    versions = (
        spark.range((n_users + 1) * 10)
        .select(
            (F.col("id") / 10).cast("bigint").alias("user_id"),
            (F.col("id") % 10).alias("version"),
            (F.col("id") % 10 * 100).alias("valid_from_us"),
            ((F.col("id") % 10 + 1) * 100).alias("valid_to_us"),
        )
    )
    out_cols = ["event_id", "user_id", "ts_us", "version"]

    def run():
        return sorted(
            tuple(r)
            for r in pit_join(facts, versions)
            .select(*out_cols)
            .collect()
        )

    base = run()
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        # coalescing can merge partitions back below the skew radar
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {}
    for k, v in confs.items():
        saved[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    try:
        df = pit_join(facts, versions).select(*out_cols)
        skewed = sorted(tuple(r) for r in df.collect())
        final_plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in saved.items():
            (spark.conf.unset(k) if v is None else spark.conf.set(k, v))
    assert skewed == base
    assert "SortMergeJoin" in final_plan
    # AQE marks the surgically split join in the final adaptive plan
    assert "skew=true" in final_plan, final_plan[:3000]


def test_higher_moments_match_numpy_reference(spark):
    """Skewness/kurtosis from exact decimal power sums must agree with
    an independent numpy computation over the same cents to ~1e-6 (the
    query's rounding precision)."""
    import numpy as np

    from artis_data_ingest_spark import plans
    from artis_data_ingest_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    got = {
        r.event_type: r
        for r in plans.all_queries()["q_higher_moments"].fn(spark, sf).collect()
    }
    rows = (
        load_table(spark, sf, "events")
        .select("event_type", F.round(F.col("value") * 100).cast("bigint").alias("v"))
        .collect()
    )
    by = {}
    for r in rows:
        by.setdefault(r.event_type, []).append(r.v)
    for et, vals in by.items():
        a = np.asarray(vals, dtype=np.float64)
        m = a.mean()
        m2 = ((a - m) ** 2).mean()
        m3 = ((a - m) ** 3).mean()
        m4 = ((a - m) ** 4).mean()
        assert abs(got[et].mean_value - m / 100) < 1e-5
        assert abs(got[et].std_value - np.sqrt(m2) / 100) < 1e-5
        assert abs(got[et].skewness - m3 / m2**1.5) < 1e-5
        assert abs(got[et].excess_kurtosis - (m4 / m2**2 - 3)) < 1e-5


def test_feature_vectors_sum_to_histogram(spark):
    """The per-doc sparse vectors and the global bucket histogram use
    the same bucket function: summing vector weights per bucket over
    the same doc subset must reproduce the histogram recomputed on
    that subset — the two featurizer views cannot drift."""
    from artis_data_ingest_spark import plans
    from artis_data_ingest_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    vec = plans.all_queries()["q_feature_vectors"].fn(spark, sf)
    from_vectors = {
        r.bucket: r.total
        for r in vec.groupBy("bucket")
        .agg(F.sum("weight").alias("total"))
        .collect()
    }
    docs = load_table(spark, sf, "documents").filter(F.col("doc_id") < 50)
    toks = docs.select(
        F.explode(F.split(F.trim("text"), r"[ \t\n\r\f\x0B]+")).alias("tok")
    )
    bucket = (
        F.conv(F.substring(F.md5("tok"), 1, 4), 16, 10).cast("int") % 64
    )
    direct = {
        r.bucket: r.total
        for r in toks.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("total"))
        .collect()
    }
    assert from_vectors == direct and from_vectors
