"""Scale-hardening operators (SURVEY.md §7.2 milestone 10).

Patterns that keep plans healthy at 100 TB:

  * ``salted_agg`` — two-level aggregation for skewed grouping keys.
    AQE fixes skewed *joins* automatically, but a grouped aggregation
    whose key distribution is pathological (one key = 40% of rows)
    still funnels one reducer. Salting splits each hot key across
    ``n_salts`` partial groups, then re-aggregates: both shuffles move
    only partial aggregates, and no reducer sees more than ~1/n_salts
    of any key.  Result is identical for sum/count/min/max (decimal
    sums stay exact-associative).

  * ``asof_join`` — most-recent-match join (SURVEY.md J4, absent in
    both reference and core Spark). Implemented as union-tag + a
    per-key ordered window carrying the last left-side value forward —
    one shuffle on the key, no range explosion, works at any scale
    (the naive inequality-join alternative is O(n·m) per key).

  * ``checkpoint_gate`` — the one local-vs-distributed size gate of the
    graph operators (``connected_components``, ``pagerank``,
    ``kcore``).  It and ``spread_cpu_bound`` record every decision as
    one INFO line on this module's logger.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_log = logging.getLogger(__name__)

#: default row bound for the graph operators' single-task kernels; an
#: input at or below it runs as ONE task instead of distributed rounds.
#: Sizing: 2M (node, node) rows is tens of MB in one Python worker and
#: ~2s of union-find — far below the multi-second per-round AQE stage
#: latency the distributed path pays on graphs this small, while
#: anything larger falls through to the O(log d) rounds.
LOCAL_EDGE_LIMIT = 2_000_000


def _record_gate(op: str, unit: str, observed: int, limit: int, path: str) -> None:
    _log.info(
        "gate op=%s %s=%d limit=%d path=%s", op, unit, observed, limit, path
    )


def checkpoint_gate(
    df: DataFrame, limit: int, op: str
) -> tuple[DataFrame, bool]:
    """Checkpoint ``df`` and decide whether it fits a single-task
    kernel: returns ``(checkpointed_df, n_rows <= limit)``.

    The row count is an ``observe`` metric of the checkpoint job itself,
    so the decision costs no extra Spark job.  The decision is logged
    (operator, observed rows, limit, chosen path)."""
    obs = Observation()
    out = df.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint()
    n = obs.get["n"] or 0
    fits = n <= limit
    _record_gate(op, "rows", n, limit, "local" if fits else "distributed")
    return out, fits


def spread_cpu_bound(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition ONLY when the input is under-partitioned for
    CPU-bound expression work (heavy per-row folds like MinHash
    signatures).

    A small parquet file arrives as one input split (below
    ``spark.sql.files.maxPartitionBytes``), so an expensive projection
    runs on one core no matter how many executors exist — at sf0.1 that
    made the portable-MinHash signature 16× slower than the cluster
    could go.  The driver-side partition probe is metadata-only; when
    the scan already has ≥ default parallelism splits (the 100 TB case)
    this is a no-op and adds no exchange.

    r16 threshold: the round-robin exchange moves the FULL payload
    (for the MinHash caller, the whole corpus text), so it only pays
    off when it buys real parallelism.  At >= half the target the
    possible map-stage speedup is < 2x while the shuffle is a whole
    extra pass over the bytes — measured at the 100x bench corpus
    (25 splits on 32 cores): signature pass 1.54 s WITH the 25->32
    repartition vs 1.11 s without, identical output.  Below half the
    target (1-split sf0.1 scans, 10-split 10x scans) the repartition
    stays, where it is worth 3-16x.
    """
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    n_parts = df.rdd.getNumPartitions()
    keep = n_parts >= max(1, target // 2)
    _record_gate(
        "spread_cpu_bound",
        "partitions",
        n_parts,
        target,
        "keep" if keep else "repartition",
    )
    return df if keep else df.repartition(target)


def salted_agg(
    df: DataFrame,
    key: str,
    aggs: dict[str, tuple[Column, str]],
    n_salts: int = 16,
    salt_source: str | None = None,
) -> DataFrame:
    """Two-level skew-safe aggregation.

    ``aggs`` maps output column name → (partial aggregate expression,
    combiner name), where the combiner is one of ``"sum" | "min" |
    "max"`` — the decomposable aggregates (counts combine with sum).
    """
    salt = F.pmod(
        F.xxhash64(
            F.col(salt_source) if salt_source else F.monotonically_increasing_id()
        ),
        F.lit(n_salts),
    ).alias("_salt")
    combiners = {"sum": F.sum, "min": F.min, "max": F.max}
    partial_exprs = [col.alias(f"_p_{name}") for name, (col, _) in aggs.items()]
    final_exprs = [
        combiners[how](f"_p_{name}").alias(name)
        for name, (_, how) in aggs.items()
    ]
    partial = df.select("*", salt).groupBy(key, "_salt").agg(*partial_exprs)
    return partial.groupBy(key).agg(*final_exprs)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    right_cols: list[str],
    tolerance: Column | None = None,
    direction: str = "backward",
) -> DataFrame:
    """As-of join: for each left row, attach the nearest right row with
    the same key — ``direction="backward"`` (default): most recent with
    right.ts <= left.ts; ``direction="forward"``: next with
    right.ts >= left.ts.

    Mechanics: tag both sides, union, sort within key by (ts, side)
    — right rows sort before left rows at equal ts so the inclusive
    comparison holds; forward mode traverses in descending ts — then
    carry the last non-null right payload forward with
    ``last(..., ignorenulls=True)``. Left rows project their carried
    payload. One shuffle total (window partition), no inequality join.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward: {direction}")
    lcols = left.columns
    l = left.select(
        *lcols, F.lit(1).alias("_side"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_r_{c}")
          for c in right_cols],
    )
    r = right.select(
        *[
            F.col(c) if c in (key, ts) else F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in lcols
        ],
        F.lit(0).alias("_side"),
        *[F.col(c).alias(f"_r_{c}") for c in right_cols],
    )
    u = l.unionByName(r)
    ts_order = F.col(ts).asc() if direction == "backward" else F.col(ts).desc()
    w = (
        Window.partitionBy(key)
        .orderBy(ts_order, F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.select(
        *lcols,
        "_side",
        *[
            F.last(f"_r_{c}", ignorenulls=True).over(w).alias(f"asof_{c}")
            for c in right_cols
        ],
        F.last(F.when(F.col("_side") == 0, F.col(ts)), ignorenulls=True)
        .over(w)
        .alias("_asof_ts"),
    )
    out = carried.filter(F.col("_side") == 1).drop("_side")
    if tolerance is not None:
        gap = (
            F.col(ts).cast("double") - F.col("_asof_ts").cast("double")
            if direction == "backward"
            else F.col("_asof_ts").cast("double") - F.col(ts).cast("double")
        )
        within = gap <= tolerance
        out = out.select(
            *lcols,
            *[
                F.when(within, F.col(f"asof_{c}")).alias(f"asof_{c}")
                for c in right_cols
            ],
        )
    else:
        out = out.drop("_asof_ts")
    return out


def pit_join(
    facts: DataFrame,
    versions: DataFrame,
    key: str = "user_id",
    ts: str = "ts_us",
    valid_from: str = "valid_from_us",
    valid_to: str = "valid_to_us",
    how: str = "left",
) -> DataFrame:
    """Point-in-time join: each fact row joins the ONE version whose
    [valid_from, valid_to) interval contains its timestamp — equi-join
    on ``key`` with the range predicate riding the hash probe as a
    residual, so there is no inequality-join explosion (the factored
    core of ``plans/events_time.py:q_pit_join``).

    Skew posture at 100 TB: a hot key (one user with millions of fact
    rows) lands its whole fact volume in one shuffle partition.  The
    join is a plain key-hashed equi join, so AQE's skew-join split
    (``spark.sql.adaptive.skewJoin.enabled``, on by default in this
    engine's session) divides the oversized partition and replicates
    the matching build rows — semantics preserved because the residual
    range predicate evaluates per row, independent of partitioning.
    Pinned by ``tests/test_scale_ops.py`` on an adversarial hot-key
    fixture: SMJ-with-skew-split results equal the broadcast plan's.

    ``facts`` keeps all its columns; ``versions``'s key column is
    dropped after the join (its values equal ``facts[key]`` on every
    matched row).
    """
    v_key = f"__v_{key}"
    v = versions.withColumnRenamed(key, v_key)
    cond = (
        (facts[key] == v[v_key])
        & (facts[ts] >= v[valid_from])
        & (facts[ts] < v[valid_to])
    )
    return facts.join(v, cond, how).drop(v_key)
