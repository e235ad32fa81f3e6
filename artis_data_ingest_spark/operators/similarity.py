"""Similarity search over embeddings (SURVEY.md §2.11).

  * ``brute_force_topk`` — exact cosine top-k: broadcast the (small)
    query set against the corpus, rank per query. O(N·Q) but embarrass-
    ingly parallel and shuffle-light (one window shuffle on query_id).
    The correctness baseline.
  * ``lsh_topk`` — sign-bucket LSH: corpus and queries bucketed by the
    sign pattern of leading dimensions; candidates limited to the
    query's bucket. At 100 TB the bucket join replaces the cross join,
    cutting candidates by ~2^n_bits, at a recall cost measured by
    comparing against the brute-force path.
  * centroid operators — ``kmeans_centroids``, ``ivf_assign`` /
    ``ivf_topk``, ``pq_codebooks`` and ``semantic_dedup`` make every
    nearest-centroid choice through ``_assign_nearest``: the k-row
    centroid table is broadcast as one row and each vector picks its
    centroid in place, so the corpus is never shuffled to assign it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.vectors import dot, norm, sign_bucket


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    round_digits: int = 6,
) -> DataFrame:
    """Exact cosine top-k for each query vector.

    ``queries`` is expected to be tiny (it is explicitly broadcast);
    ranking uses (rounded cosine DESC, vec_id) so ties and float jitter
    below 1e-6 break deterministically.

    Norms are precomputed per side *before* the join — O(N+Q) instead of
    O(N·Q) norm folds — and the division uses the same operand order as
    plain ``cosine()``, so values are bit-identical to the naive form.
    """
    corp = corpus.select(
        "vec_id", "embedding", norm("embedding").alias("c_norm")
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        norm("embedding").alias("q_norm"),
    )
    sims = (
        corp.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            F.round(
                dot(F.col("q_emb"), F.col("embedding"))
                / (F.col("q_norm") * F.col("c_norm")),
                round_digits,
            ),
        )
        .select("query_id", "vec_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def embedding_cosine_neardup(
    corpus: DataFrame,
    threshold: float = 0.35,
    n_bits: int = 8,
    round_digits: int = 6,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (SURVEY.md §2.11): candidates
    from the same sign bucket (equi-join, linear), verified by exact
    cosine ≥ threshold. The LSH recall/threshold trade-off is the same
    one MinHash makes for text — here over dense vectors. Norms are
    precomputed once per row (not per candidate pair)."""
    c = corpus.select(
        "vec_id",
        F.col("embedding"),
        sign_bucket("embedding", n_bits).alias("bucket"),
        norm("embedding").alias("nrm"),
    )
    a, b = c.alias("a"), c.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .withColumn(
            "cosine",
            F.round(
                dot(F.col("a.embedding"), F.col("b.embedding"))
                / (F.col("a.nrm") * F.col("b.nrm")),
                round_digits,
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col("a.vec_id").alias("vec_id_a"),
            F.col("b.vec_id").alias("vec_id_b"),
            "cosine",
        )
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_bits: int = 8,
    round_digits: int = 6,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign
    bucket. Equi-join on the bucket key → hash-partitioned, linear."""
    c = corpus.select(
        "vec_id",
        "embedding",
        sign_bucket("embedding", n_bits).alias("bucket"),
        norm("embedding").alias("c_norm"),
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        sign_bucket("embedding", n_bits).alias("bucket"),
        norm("embedding").alias("q_norm"),
    )
    sims = (
        c.join(F.broadcast(q), on="bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            F.round(
                dot(F.col("q_emb"), F.col("embedding"))
                / (F.col("q_norm") * F.col("c_norm")),
                round_digits,
            ),
        )
        .select("query_id", "vec_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def _lloyd_update(assign: DataFrame, quant: int) -> DataFrame:
    """Lloyd's update step: ``assign`` (cid, emb) → (cid, cemb), each
    centroid the element-wise mean of its vectors in fixed point —
    elements floored to ``quant`` units and summed as BIGINT (exact and
    order-independent), then one double division per element."""
    flat = assign.select("cid", F.posexplode("emb").alias("pos", "val"))
    upd = flat.groupBy("cid", "pos").agg(
        (
            F.sum(F.floor(F.col("val") * quant).cast("bigint")).cast("double")
            / (F.lit(float(quant)) * F.count(F.lit(1)))
        ).alias("val")
    )
    return upd.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "val"))),
            lambda s: s["val"],
        ).alias("cemb")
    )


def _assign_nearest(
    df: DataFrame,
    emb: str,
    cent: DataFrame,
    round_digits: int,
    metric: str = "cosine",
    n: int = 1,
) -> DataFrame:
    """Every row of ``df`` with its ``n`` nearest centroids of ``cent``
    (cid, cemb), one output row per chosen centroid: ``df``'s columns
    plus ``cid`` and ``score``, the rounded cosine (``metric="cosine"``,
    highest first; also adds the row norm ``vnorm``) or squared L2
    (``"l2"``, lowest first).  Ties go to the lowest cid.

    The k-row centroid table is aggregated into one broadcast row of
    (cid, cemb, cnorm) structs, so the big side stays where it is: each
    row sorts its k (score, ±cid) candidates in place.  Spark's struct
    ordering (NaN above every number, a null score below) ranks them as
    a (score, cid) window would.  An empty centroid table yields no
    rows."""
    cosine = metric == "cosine"
    ref = cent.agg(
        F.collect_list(
            F.struct(
                "cid",
                "cemb",
                F.sqrt(dot(F.col("cemb"), F.col("cemb"))).alias("cnorm"),
            )
        ).alias("_cents")
    )
    v = F.col(emb)
    if cosine:
        df = df.withColumn("vnorm", F.sqrt(dot(v, v)))

    def candidate(c):
        score = (
            dot(v, c["cemb"]) / (F.col("vnorm") * c["cnorm"])
            if cosine
            else _l2sq(v, c["cemb"])
        )
        return F.struct(
            F.round(score, round_digits).alias("score"),
            (-c["cid"] if cosine else c["cid"]).alias("tie"),
            c["cid"].alias("cid"),
        )

    ranked = F.sort_array(F.transform("_cents", candidate), asc=not cosine)
    return (
        df.crossJoin(F.broadcast(ref))
        .select(*df.columns, F.inline(F.slice(ranked, 1, n)))
        .drop("tie")
    )


def kmeans_centroids(
    corpus: DataFrame,
    k: int = 4,
    n_iter: int = 2,
    quant: int = 1_000_000,
    round_digits: int = 6,
) -> DataFrame:
    """Distributed Lloyd's k-means over the embedding column, fully
    deterministic and cross-engine reproducible.

    * init — the ``k`` lowest-vec_id vectors (no RNG; kmeans++ would
      need a seeded sampler that DuckDB can't mirror).
    * assign — every vector to its max-cosine centroid (tie → lowest
      cid) by ``_assign_nearest``, so each iteration is one corpus
      scan.
    * update — element-wise mean via FIXED-POINT arithmetic: elements
      are floored to ``quant`` units and summed as BIGINT (exact,
      associative, order-independent — float sums are not), then one
      double division.  The ≤1/quant quantization bias is irrelevant to
      clustering and buys bit-identical centroids under any partition
      order and in the DuckDB oracle.

    Returns ``(cid, cemb: array<double>)``.  Each iteration's shuffle
    is ``groupBy(cid, pos)`` over corpus×dim rows of partial bigint
    sums — map-side combined, ~k·dim result rows; at 100 TB this is
    the canonical scan-heavy/result-tiny aggregation shape.  Empty
    clusters drop out (mirrored by the oracle's inner join).
    """
    e = corpus.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    cent = (
        e.orderBy("vec_id")
        .limit(k)
        .select(F.col("vec_id").alias("cid"), F.col("emb").alias("cemb"))
    )
    for _ in range(n_iter):
        assign = _assign_nearest(e, "emb", cent, round_digits)
        cent = _lloyd_update(assign, quant)
    return cent


def kmeans_centroids_sql(
    k: int = 4,
    n_iter: int = 2,
    quant: int = 1_000_000,
    round_digits: int = 6,
) -> tuple[str, str]:
    """DuckDB CTE chain mirroring ``kmeans_centroids``.

    Returns ``(chain, final_name)``: append further CTEs or a SELECT
    reading from ``final_name`` (the (cid, cemb) relation after the
    last Lloyd iteration).  ``round_digits`` must match the Spark
    side's assignment rounding or the two engines can tie-break
    different centroids.
    """
    chain = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
), cent AS (
  SELECT vec_id AS cid, emb AS cemb FROM e ORDER BY vec_id LIMIT {k}
)"""
    for i in range(n_iter):
        prev = "cent" if i == 0 else f"cent{i - 1}"
        chain += f""", assign{i} AS (
  SELECT vec_id, cid, emb FROM (
    SELECT v.vec_id, c.cid, v.emb,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY round(list_dot_product(v.emb, c.cemb)
                            / (sqrt(list_dot_product(v.emb, v.emb))
                               * sqrt(list_dot_product(c.cemb, c.cemb))),
                      {round_digits}) DESC, c.cid
           ) AS rn
    FROM e v CROSS JOIN {prev} c
  ) WHERE rn = 1
), upd{i} AS (
  SELECT cid, u.pos,
         CAST(SUM(CAST(floor(a.emb[u.pos] * {quant}) AS BIGINT)) AS DOUBLE)
           / ({quant} * COUNT(*)) AS val
  FROM assign{i} a, UNNEST(range(1, len(a.emb) + 1)) AS u(pos)
  GROUP BY cid, u.pos
), cent{i} AS (
  SELECT cid, array_agg(val ORDER BY pos) AS cemb
  FROM upd{i} GROUP BY cid
)"""
    return chain, f"cent{n_iter - 1}"


def ivf_assign(
    corpus: DataFrame,
    n_centroids: int = 4,
    round_digits: int = 6,
    centroids: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """IVF cell assignment: every vector joins its nearest centroid.

    ``centroids`` (cid, cemb) plugs in a trained codebook — pass
    ``kmeans_centroids(corpus)`` for real Lloyd-refined cells.  When
    omitted, centroids default to the ``n_centroids`` lowest-vec_id
    corpus vectors (the zero-training baseline). Returns
    ``(centroids, assignment)`` where assignment is (vec_id, cid).

    Scale shape: the K centroid rows are broadcast as one row and each
    vector picks its cell in place (``_assign_nearest``), so the
    assignment neither self-joins nor shuffles the corpus.
    """
    if centroids is not None:
        cent = centroids.select(
            "cid",
            F.col("cemb"),
            F.sqrt(dot(F.col("cemb"), F.col("cemb"))).alias("cnorm"),
        )
    else:
        cent = (
            corpus.orderBy("vec_id")
            .limit(n_centroids)
            .select(
                F.col("vec_id").alias("cid"),
                F.col("embedding").alias("cemb"),
                norm("embedding").alias("cnorm"),
            )
        )
    assign = _assign_nearest(
        corpus.select("vec_id", "embedding"), "embedding", cent, round_digits
    ).select("vec_id", "cid")
    return cent, assign


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_centroids: int = 4,
    nprobe: int = 2,
    round_digits: int = 6,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k: each query probes its ``nprobe`` nearest
    cells; candidates are the vectors assigned there, re-ranked by exact
    cosine. Candidate count ~ N * nprobe / n_centroids per query — the
    inverted-file trade Spark can express with two equi-joins, no cross
    join of the corpus.  ``centroids`` plugs in a trained codebook
    (see ``kmeans_centroids``)."""
    cent, assign = ivf_assign(corpus, n_centroids, round_digits, centroids)
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    probed = _assign_nearest(q, "q_emb", cent, round_digits, n=nprobe).select(
        "query_id", "q_emb", F.col("vnorm").alias("q_norm"), "cid"
    )
    corp = corpus.select(
        "vec_id", "embedding", norm("embedding").alias("c_norm")
    )
    cands = (
        assign.join(F.broadcast(probed), on="cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(corp, on="vec_id")
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        cands.withColumn(
            "cosine",
            F.round(
                dot(F.col("q_emb"), F.col("embedding"))
                / (F.col("q_norm") * F.col("c_norm")),
                round_digits,
            ),
        )
        .withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — memory-compressed ANN representation
# ---------------------------------------------------------------------------
#
# The standard 100 TB embedding-search architecture stores each vector as
# m small centroid codes (here m=4 codes over 16-dim subspaces: 4 bytes
# instead of 64 float64s — 128x) and answers queries by asymmetric
# distance computation (ADC): per-query distance tables to the m*k
# centroids, summed by code lookup — a linear scan of the compressed
# codes, no full-precision vectors touched.  Codebooks reuse the
# deterministic fixed-point Lloyd machinery of ``kmeans_centroids`` but
# with squared-L2 assignment (PQ's metric), so the DuckDB oracle
# reproduces codebooks, codes, and ADC rankings bit-for-bit.


def _l2sq(a: Column, b: Column) -> Column:
    """Squared L2 via three sequential-fold dots: |a|^2 - 2 a.b + |b|^2.
    Same fold order as DuckDB's list_dot_product, so cross-engine
    bit-identical (the expansion avoids materializing a-b)."""
    return dot(a, a) - 2 * dot(a, b) + dot(b, b)


def pq_codebooks(
    corpus: DataFrame,
    m: int = 4,
    sub_dim: int = 16,
    k: int = 4,
    n_iter: int = 2,
    quant: int = 1_000_000,
    round_digits: int = 6,
) -> DataFrame:
    """Train per-subspace PQ codebooks: for each of ``m`` contiguous
    ``sub_dim``-wide slices, run the deterministic Lloyd iteration
    (lowest-vec_id init, round-then-cid tie-break, fixed-point bigint
    centroid updates) under squared-L2 assignment.

    Returns (subspace, cid, cemb).  Each subspace's iteration is one
    corpus scan with broadcast centroids + one map-side-combined
    groupBy — at 100 TB codebooks train on a sample; the full-corpus
    pass is the encode, which is shuffle-free (see ``pq_code_exprs``).
    """
    e = corpus.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    out = None
    for j in range(m):
        sub = e.select(
            "vec_id", F.slice("emb", j * sub_dim + 1, sub_dim).alias("emb")
        )
        cent = (
            sub.orderBy("vec_id")
            .limit(k)
            .select(F.col("vec_id").alias("cid"), F.col("emb").alias("cemb"))
        )
        for _ in range(n_iter):
            assign = _assign_nearest(sub, "emb", cent, round_digits, "l2")
            cent = _lloyd_update(assign, quant)
        out_j = cent.select(F.lit(j).alias("subspace"), "cid", "cemb")
        out = out_j if out is None else out.unionByName(out_j)
    return out


def pq_codebooks_sql(
    m: int = 4,
    sub_dim: int = 16,
    k: int = 4,
    n_iter: int = 2,
    quant: int = 1_000_000,
    round_digits: int = 6,
    prelude: str | None = None,
    source: str = "e",
    tag: str = "",
) -> tuple[str, str]:
    """DuckDB CTE chain mirroring ``pq_codebooks`` over the
    ``embeddings`` view.  Returns ``(chain, final_name)`` where
    ``final_name`` is the (subspace, cid, cemb) codebook relation.

    ``prelude`` replaces the default WITH-e opening so callers can
    train over a derived relation (e.g. coarse-cell residuals for
    IVFADC) — it must define ``source`` with (vec_id, emb) columns.
    ``tag`` suffixes every CTE name so two chains (raw + residual) can
    coexist in one statement."""
    parts = [
        prelude
        if prelude is not None
        else """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
)"""
    ]
    finals = []
    t = tag
    for j in range(m):
        lo, hi = j * sub_dim + 1, (j + 1) * sub_dim
        parts.append(f""", s{t}{j} AS (
  SELECT vec_id, list_slice(emb, {lo}, {hi}) AS emb FROM {source}
), c{t}{j} AS (
  SELECT vec_id AS cid, emb AS cemb FROM s{t}{j} ORDER BY vec_id LIMIT {k}
)""")
        for i in range(n_iter):
            prev = f"c{t}{j}" if i == 0 else f"c{t}{j}_{i - 1}"
            parts.append(f""", a{t}{j}_{i} AS (
  SELECT vec_id, cid, emb FROM (
    SELECT v.vec_id, c.cid, v.emb,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY round(list_dot_product(v.emb, v.emb)
                            - 2 * list_dot_product(v.emb, c.cemb)
                            + list_dot_product(c.cemb, c.cemb),
                      {round_digits}) ASC, c.cid
           ) AS rn
    FROM s{t}{j} v CROSS JOIN {prev} c
  ) WHERE rn = 1
), u{t}{j}_{i} AS (
  SELECT cid, u.pos,
         CAST(SUM(CAST(floor(a.emb[u.pos] * {quant}) AS BIGINT)) AS DOUBLE)
           / ({quant} * COUNT(*)) AS val
  FROM a{t}{j}_{i} a, UNNEST(range(1, len(a.emb) + 1)) AS u(pos)
  GROUP BY cid, u.pos
), c{t}{j}_{i} AS (
  SELECT cid, array_agg(val ORDER BY pos) AS cemb
  FROM u{t}{j}_{i} GROUP BY cid
)""")
        finals.append(
            f"SELECT {j} AS subspace, cid, cemb FROM c{t}{j}_{n_iter - 1}"
        )
    parts.append(
        f", pqcb{t} AS (\n  " + "\n  UNION ALL\n  ".join(finals) + "\n)"
    )
    return "".join(parts), f"pqcb{t}"


def semantic_dedup(
    corpus: DataFrame,
    centroids: DataFrame | None = None,
    k: int = 4,
    n_iter: int = 2,
    threshold: float = 0.35,
    round_digits: int = 6,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) — corpus-level SEMANTIC dedup:
    k-means-cluster the embeddings, then inside each cluster drop
    every vector that has a cosine-near neighbor closer to the
    centroid than itself; the centroid-closest member of each
    near-dup neighborhood survives.  Pairwise cosine is computed ONLY
    within a cluster (candidate generation is the cluster assignment
    — linear, no corpus self-join; within-cluster pairs are
    corpus²/k-bounded and shrink with k, the paper's scaling knob).

    Deterministic end-to-end: the trained centroids come from the
    fixed-point Lloyd's above (or pass a persisted codebook), cosines
    round to ``round_digits`` before any comparison, and the
    keep-rule tie-break is lowest vec_id — so the survivor set is
    reproducible under any partitioning and in the DuckDB oracle.

    Returns (vec_id, cid, cos_centroid, kept) for every vector.
    """
    cent = centroids if centroids is not None else kmeans_centroids(
        corpus, k=k, n_iter=n_iter
    )
    e = corpus.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    # one checkpoint pins the assignment for its three consumers: both
    # sides of the pair join and the final labelling
    assign = (
        _assign_nearest(e, "emb", cent, round_digits)
        .withColumnRenamed("score", "ccos")
        .localCheckpoint()
    )
    # the within-cluster pair join fans out ~|cluster|^2/2 dot products
    # from a byte-small assignment table: AQE would coalesce it to ~1
    # partition and serialize the verify on one core (the
    # q_ngram_jaccard lesson) — pin the probe side's parallelism
    par = corpus.sparkSession.sparkContext.defaultParallelism
    x = assign.repartition(par).alias("x")
    y = assign.alias("y")
    pcos = F.round(
        dot(F.col("x.emb"), F.col("y.emb"))
        / (F.col("x.vnorm") * F.col("y.vnorm")),
        round_digits,
    )
    pairs = (
        x.join(
            y,
            (F.col("x.cid") == F.col("y.cid"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .filter(pcos >= threshold)
        .select(
            F.col("x.vec_id").alias("va"),
            F.col("y.vec_id").alias("vb"),
            F.col("x.ccos").alias("ca"),
            F.col("y.ccos").alias("cb"),
        )
    )
    # the farther-from-centroid side of each near pair is dropped;
    # tie -> the higher vec_id (vb) so survivors are deterministic
    dropped = pairs.select(
        F.when(F.col("cb") > F.col("ca"), F.col("va"))
        .otherwise(F.col("vb"))
        .alias("vec_id")
    ).distinct()
    return (
        assign.join(
            dropped.withColumn("is_drop", F.lit(True)), on="vec_id",
            how="left",
        )
        .select(
            "vec_id",
            "cid",
            F.col("ccos").alias("cos_centroid"),
            F.col("is_drop").isNull().alias("kept"),
        )
        .orderBy("vec_id")
    )
