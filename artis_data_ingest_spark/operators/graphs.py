"""Reusable iterative graph operators: integer-exact weighted PageRank.

Library form of the algorithm behind ``plans/graph.py:q_pagerank`` —
callers bring any (src, dst, w) edge DataFrame (entity-link graphs,
citation graphs, near-dup similarity graphs). Sibling of
``operators/dedup.py:connected_components`` (min-label propagation);
see ``plans/graph.py`` for the determinism rationale (fixed-point
BIGINT arithmetic, truncating DIV, associative integer sums).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .scale import LOCAL_EDGE_LIMIT, checkpoint_gate

PR_SCALE = 10**12


def _pagerank_local(
    ew: DataFrame, n_iter: int, damping_pct: int
) -> DataFrame:
    """Single-task integer PageRank over a SMALL weighted edge list
    ``(src, dst, w, ow)`` — the exact same fixed-point recurrence as
    the distributed loop, evaluated as n_iter vectorized numpy rounds
    in one mapInPandas task (guide §1.2: the distributed unrolled
    chain pays one join + one aggregate of AQE stage latency per
    iteration over node-bounded tables; the graphs the registered
    queries rank are 25-40 nodes).  Bit-identical by construction:
    same truncating integer division on non-negative operands
    (numpy ``//`` == SQL DIV there), same overflow-safe split product,
    exact int64 sums (``np.add.at``), and the identical w·ow bound is
    ENFORCED (raise) where ANSI SQL would kill the job.  The caller
    guards size and handles init_pr (warm starts stay distributed)."""
    keep_pct = 100 - damping_pct
    node_t = ew.schema["src"].dataType.simpleString()

    def _run(batches):
        import numpy as np
        import pandas as pd

        srcs, dsts, ws, ows = [], [], [], []
        for pdf in batches:
            srcs.append(pdf["src"].to_numpy())
            dsts.append(pdf["dst"].to_numpy())
            ws.append(pdf["w"].to_numpy(dtype=np.int64))
            ows.append(pdf["ow"].to_numpy(dtype=np.int64))
        if not srcs:
            yield pd.DataFrame({"node": [], "pr": []})
            return
        src = np.concatenate(srcs)
        dst = np.concatenate(dsts)
        w = np.concatenate(ws)
        ow = np.concatenate(ows)
        codes, uniques = pd.factorize(np.concatenate([src, dst]))
        n = len(uniques)
        if n == 0:
            yield pd.DataFrame({"node": [], "pr": []})
            return
        ci, di = codes[: len(src)], codes[len(src):]
        if int(w.max()) * int(ow.max()) >= 2**63:
            raise ArithmeticError(
                "pagerank: w*ow exceeds BIGINT — rescale weights "
                "(same bound as the distributed ANSI path)"
            )
        base = (keep_pct * PR_SCALE) // (100 * n)
        pr = np.full(n, PR_SCALE // n, dtype=np.int64)
        for _ in range(n_iter):
            contrib = (pr[ci] // ow) * w + ((pr[ci] % ow) * w) // ow
            s = np.zeros(n, dtype=np.int64)
            np.add.at(s, di, contrib)
            pr = base + (damping_pct * s) // 100
        yield pd.DataFrame({"node": uniques, "pr": pr})

    return ew.select("src", "dst", "w", "ow").coalesce(1).mapInPandas(
        _run, f"node {node_t}, pr bigint"
    )


def pagerank(
    edges: DataFrame,
    n_iter: int = 5,
    damping_pct: int = 85,
    checkpoint_every: int = 8,
    init_pr: DataFrame | None = None,
    local_edge_limit: int = LOCAL_EDGE_LIMIT,
) -> DataFrame:
    """Weighted PageRank over ``edges`` (columns src, dst, w) →
    (node, pr) with pr in fixed-point units of 1/PR_SCALE.

    All-integer arithmetic: bit-identical under any partitioning.
    Dangling mass is dropped (GraphX staticPageRank semantics). The
    derived relations are localCheckpoint-ed once so the unrolled loop
    never re-derives the edge pipeline, and the rank table checkpoints
    every ``checkpoint_every`` rounds to keep the plan shallow at
    large ``n_iter`` (the connected_components lineage pattern).

    A uniform-start rank over at most ``local_edge_limit`` weighted
    edges (``operators.scale.checkpoint_gate``) runs as one single-task
    numpy pass instead; warm starts (``init_pr``) stay distributed.
    """
    keep_pct = 100 - damping_pct
    edges = (
        edges.groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
        .localCheckpoint()
    )
    outw = edges.groupBy("src").agg(F.sum("w").alias("ow"))
    # a warm start never fits: its limit of -1 records the distributed path
    ew, fits = checkpoint_gate(
        edges.join(outw, "src"),
        local_edge_limit if init_pr is None else -1,
        "pagerank",
    )
    if fits:
        return _pagerank_local(ew, n_iter, damping_pct)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    nn = nodes.agg(F.count(F.lit(1)).alias("n"))
    base = nn.select(
        F.expr(
            f"({keep_pct} * CAST({PR_SCALE} AS BIGINT)) DIV (100 * n)"
        ).alias("b"),
        "n",
    )
    if init_pr is not None:
        # resume from a persisted rank table: integer arithmetic makes
        # k warm-start iterations bit-identical to the tail of a
        # (j + k)-iteration run started uniform (pinned by
        # q_pagerank_resume's full-run oracle)
        pr = init_pr.select("node", "pr")
    else:
        pr = nodes.crossJoin(F.broadcast(base)).select(
            "node", F.expr(f"CAST({PR_SCALE} AS BIGINT) DIV n").alias("pr")
        )
    # Exact identity (pr*w) DIV ow == (pr DIV ow)*w + ((pr MOD ow)*w)
    # DIV ow for non-negative ints: the naive product pr*w overflows
    # BIGINT once w ≥ ~9.2e6 (pr approaches PR_SCALE on a hub), which
    # under Spark 4's ANSI default kills the job mid-iteration.  The
    # split form only needs w*ow < 2^63 (pr DIV ow ≤ pr/w·... ≤
    # PR_SCALE/ow·ow bounded by PR_SCALE since w ≤ ow) — satisfied by
    # any real graph whose per-source degree×weight product stays
    # under 9.2e18; rescale weights upstream beyond that.
    _contrib = (
        "(pr DIV ow) * w + ((pr % ow) * w) DIV ow"
    )
    for i in range(n_iter):
        contrib = pr.join(ew, pr["node"] == ew["src"]).select(
            "dst", F.expr(_contrib).alias("contrib")
        )
        summed = contrib.groupBy("dst").agg(F.sum("contrib").alias("s"))
        pr = (
            nodes.join(summed, nodes["node"] == summed["dst"], "left")
            .crossJoin(F.broadcast(base))
            .select(
                "node",
                F.expr(
                    f"b + ({damping_pct}"
                    " * COALESCE(s, CAST(0 AS BIGINT))) DIV 100"
                ).alias("pr"),
            )
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < n_iter:
            pr = pr.localCheckpoint()
    return pr


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation counts over an undirected edge
    set ``(x, y)`` (distinct, x != y) — the classic graph statistic
    behind clustering coefficients and community/spam signals.

    Degree-oriented wedge closing (the published distributed recipe):
    every edge orients from its (degree, node)-smaller endpoint to the
    larger, turning the graph into a DAG where each triangle appears
    EXACTLY once as an oriented wedge (a->b, a->c) closed by b->c.
    The orientation is the load-balancing step: a wedge apex fans out
    only over its HIGHER-degree neighbors, so a celebrity node of
    degree d contributes O(d) oriented wedges instead of O(d^2) — the
    difference between a shuffle and a meltdown on a power-law graph.

    All joins are equi-joins on node keys (no windows, no global
    structure); the total order used everywhere is the lexicographic
    (degree, node) pair, computed distributively — never a global
    rank assignment.  Returns (node, n_triangles), every triangle
    crediting all three corners.
    """
    deg = (
        edges.select(F.col("x").alias("node"))
        .unionAll(edges.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    )
    e = (
        edges.join(
            deg.select(F.col("node").alias("x"), F.col("deg").alias("dx")),
            on="x",
        )
        .join(
            deg.select(F.col("node").alias("y"), F.col("deg").alias("dy")),
            on="y",
        )
    )
    x_first = (F.col("dx") < F.col("dy")) | (
        (F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y"))
    )
    oriented = e.select(
        F.when(x_first, F.col("x")).otherwise(F.col("y")).alias("src"),
        F.when(x_first, F.col("y")).otherwise(F.col("x")).alias("dst"),
        F.when(x_first, F.col("dy")).otherwise(F.col("dx")).alias("ddst"),
    )
    a, b = oriented.alias("a"), oriented.alias("b")
    wedge_lt = (F.col("a.ddst") < F.col("b.ddst")) | (
        (F.col("a.ddst") == F.col("b.ddst"))
        & (F.col("a.dst") < F.col("b.dst"))
    )
    wedges = a.join(
        b, (F.col("a.src") == F.col("b.src")) & wedge_lt
    ).select(
        F.col("a.src").alias("apex"),
        F.col("a.dst").alias("w1"),
        F.col("b.dst").alias("w2"),
    )
    closing = oriented.select(
        F.col("src").alias("w1"), F.col("dst").alias("w2")
    )
    tri = wedges.join(closing, on=["w1", "w2"])
    corners = (
        tri.select(F.col("apex").alias("node"))
        .unionAll(tri.select(F.col("w1").alias("node")))
        .unionAll(tri.select(F.col("w2").alias("node")))
    )
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )


def _kcore_local(e0: DataFrame, k: int, rounds: int | None) -> DataFrame:
    """Single-task synchronous k-core peel over a SMALL edge list —
    round-for-round identical to the distributed loop (same
    simultaneous-removal semantics, same ``rounds`` cap, same early
    exit on a stable survivor count), just run as vectorized numpy
    over one Arrow partition instead of 2 semi-joins + an aggregate +
    a checkpoint per round (guide §1.2: each distributed round is ~3
    sequential AQE stages of fixed latency over a node-bounded table).
    The caller guards size.

    r16: takes the ONE-directional edge list (possibly with duplicate
    pairs) and dedups + symmetrizes in-kernel — integer pair packing
    over the factorized codes, one np.unique — so the checkpoint and
    the single-task transfer carry half the rows and the caller's
    distinct exchange disappears from the local path."""
    node_t = e0.schema["x"].dataType.simpleString()

    def _peel(batches):
        import numpy as np
        import pandas as pd

        xs, ys = [], []
        for pdf in batches:
            xs.append(pdf["x"].to_numpy())
            ys.append(pdf["y"].to_numpy())
        x = np.concatenate(xs) if xs else np.array([], dtype=object)
        y = np.concatenate(ys) if ys else np.array([], dtype=object)
        codes, uniques = pd.factorize(np.concatenate([x, y]))
        n = len(uniques)
        ne = len(x)
        # dedup directed pairs via integer packing (n is single-task
        # bounded, so n*n stays far inside int64), then symmetrize
        pk = np.unique(codes[:ne] * np.int64(n) + codes[ne:])
        ux, uy = pk // n, pk % n
        cx = np.concatenate([ux, uy])
        cy = np.concatenate([uy, ux])
        deg = np.bincount(cx, minlength=n)
        cur = deg >= k
        prev_n = None
        i = 0
        while True:
            i += 1
            if rounds is not None and i > rounds:
                break
            em = cur[cx] & cur[cy]
            deg = np.bincount(cx[em], minlength=n)
            cur = deg >= k
            ni = int(cur.sum())
            if ni == prev_n:
                break
            prev_n = ni
        idx = np.nonzero(cur)[0]
        chunk = 200_000
        for lo in range(0, len(idx), chunk):
            part = idx[lo : lo + chunk]
            yield pd.DataFrame(
                {"node": uniques[part], "deg": deg[part].astype("int64")}
            )
        if not len(idx):
            yield pd.DataFrame({"node": [], "deg": []})

    return e0.coalesce(1).mapInPandas(
        _peel, f"node {node_t}, deg bigint"
    ).localCheckpoint()


def kcore(
    edges: DataFrame,
    k: int,
    rounds: int | None = None,
    local_edge_limit: int = LOCAL_EDGE_LIMIT,
) -> DataFrame:
    """k-core of an undirected edge set ``(x, y)`` (x != y; duplicate
    pairs are allowed):
    the maximal subgraph where every node has degree >= k — the
    standard density filter for spam/bot subgraph mining and for
    trimming low-support nodes before community detection.

    Iterative peeling: drop nodes whose degree among SURVIVING nodes
    is < k, recompute, repeat.  ``rounds=None`` peels to fixpoint
    (checked with a 1-row count probe per round — the CC fixpoint
    idiom); a fixed ``rounds`` caps the peel at that many rounds BUT
    still early-exits once the survivor count stabilizes — once the
    set is stable every further peel is a no-op, so the result is
    IDENTICAL to the full unrolled-``rounds`` computation (what the
    chained-CTE SQL oracle runs) at a fraction of the cost (measured
    9.4 s -> ~3 s at sf0.1: convergence takes ~3 of the 8 budgeted
    rounds).  Callers assert fixpoint-within-rounds in tests.

    Scale (100 TB): each round is two hash semi-joins of the edge set
    against the (node-bounded) survivor set plus one map-side-combined
    degree aggregate.  Rounds are bounded by the
    peel depth (degeneracy ordering length), typically << log n for
    real graphs; no all-pairs step exists.

    Returns (node, deg) — surviving nodes with their core degree.

    A one-directional edge list of at most ``local_edge_limit // 2``
    rows, i.e. at most ``local_edge_limit`` symmetrized rows
    (``operators.scale.checkpoint_gate``), is peeled by one single-task
    numpy pass that deduplicates in-kernel; only the distributed
    rounds pay a ``distinct`` exchange.
    """
    from pyspark.sql import Observation

    e0, fits = checkpoint_gate(
        edges.select("x", "y"), local_edge_limit // 2, "kcore"
    )
    if fits:
        return _kcore_local(e0, k, rounds)
    # materialized: every peel round reads sym, and an un-pinned
    # distinct would re-shuffle per round
    e0 = e0.distinct().localCheckpoint()
    sym = e0.unionAll(
        e0.select(F.col("y").alias("x"), F.col("x").alias("y"))
    )
    alive = (
        sym.groupBy(F.col("x").alias("node"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
        .filter(F.col("deg") >= k)
    )

    i = 0
    prev_n = None
    while True:
        i += 1
        if rounds is not None and i > rounds:
            break
        keep = alive.select("node")
        deg = (
            sym.join(keep.withColumnRenamed("node", "x"), "x")
            .join(keep.withColumnRenamed("node", "y"), "y")
            .groupBy(F.col("x").alias("node"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
            .filter(F.col("deg") >= k)
        )
        # materialize every round (an un-checkpointed plan would
        # re-execute the whole round chain when the next round or the
        # caller reads it) and fold the fixpoint probe INTO the same
        # job as an observe metric (r15): peeling is monotone (the
        # survivor set only shrinks), so an unchanged count means an
        # unchanged set and every remaining budgeted round is a no-op —
        # previously a separate count() job per round.
        obs = Observation(f"kcore_n_round{i}")
        deg = deg.observe(
            obs, F.count(F.lit(1)).alias("n")
        ).localCheckpoint()
        n = obs.get["n"]
        if n == prev_n:
            return deg
        prev_n = n
        alive = deg
    return alive
