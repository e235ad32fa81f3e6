"""Graph analytics over derived edge sets: weighted PageRank.

Complements the connected-components operator (`operators/dedup.py` —
min-label propagation for near-dup clustering) with the other canonical
iterative graph computation. The graph is the nation-level trade
network: an edge (supplier-nation → customer-nation) per lineitem,
weighted by shipment count — the aggregation-to-graph shape any
entity-linking or citation pipeline produces.

Determinism across engines and partitionings is the whole design:

  * All PageRank arithmetic is INTEGER. Ranks live in fixed-point
    units of 1e-12 (SCALE), per-edge contributions are
    ``(pr * w) DIV out_w`` (truncating integer division — identical in
    Spark's DIV and DuckDB's // for non-negative operands), and the
    damping update is ``base + (85 * Σcontrib) DIV 100``.  Integer
    sums are associative, so no accumulation-order hazard exists —
    the float-sum problem that makes naive PageRank unreproducible.
  * Bounds: the operator computes contributions in the split form
    ``(pr DIV ow)*w + ((pr MOD ow)*w) DIV ow`` — exactly equal to
    ``(pr*w) DIV ow`` for non-negative ints but needing only
    ``w*ow < 2^63`` instead of ``pr*w < 2^63`` (pr approaches 1e12 on
    hubs, so the naive product overflows at w ≈ 9e6). (DuckDB widens
    its oracle sums to HUGEINT, so the simple form stays exact there;
    the final projection casts back to BIGINT for the driver hash.)
  * Dangling mass (nodes with no out-edges) is dropped, matching
    GraphX's staticPageRank simplification — stated, not accidental.

Scale notes (100 TB):
  * Iterations are UNROLLED a fixed n_iter deep (the k-means oracle
    pattern) — each is one hash join pr⨝edges on src plus one
    aggregate on dst. Node and rank tables are node-bounded; the edge
    table dominates and is shuffled on src once per iteration.
  * The derived graph (edges, ew, nodes) is localCheckpoint-ed ONCE
    before the loop: every unrolled iteration references those
    relations, and an un-materialized plan re-derives the whole
    fact-table join chain per round (measured: 11 scans / 20 hash
    shuffles for 5 rounds → 1 scan / 11 shuffles after). At web scale
    the rank table additionally checkpoints every few rounds to
    truncate ITS lineage (see connected_components, which stress-pins
    that pattern); 5 iterations keep pr's chain shallow enough as-is.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.graphs import pagerank
from ..sources.tables import load_table
from .registry import register

_PR_SCALE = 10**12
_PR_ITER = 5

_PR_ORACLE_HEAD = f"""
WITH eraw AS (
  SELECT s.s_nationkey AS src, c.c_nationkey AS dst
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
), edges AS (
  SELECT src, dst, COUNT(*) AS w FROM eraw GROUP BY src, dst
), outw AS (
  SELECT src, SUM(w) AS ow FROM edges GROUP BY src
), ew AS (
  SELECT e.src, e.dst, e.w, o.ow FROM edges e JOIN outw o USING (src)
), nodes AS (
  SELECT DISTINCT src AS node FROM edges
  UNION
  SELECT DISTINCT dst FROM edges
), nn AS (
  SELECT COUNT(*) AS n FROM nodes
), base AS (
  SELECT (15 * {_PR_SCALE}) // (100 * n) AS b FROM nn
), pr0 AS (
  SELECT node, {_PR_SCALE} // n AS pr FROM nodes, nn
)"""

_PR_ORACLE_ITER = """, c{i} AS (
  SELECT ew.dst, SUM((p.pr * ew.w) // ew.ow) AS s
  FROM pr{i} p JOIN ew ON p.node = ew.src GROUP BY ew.dst
), pr{j} AS (
  SELECT nodes.node, base.b + (85 * COALESCE(c.s, 0)) // 100 AS pr
  FROM nodes LEFT JOIN c{i} c ON nodes.node = c.dst, base
)"""

_PR_ORACLE = (
    _PR_ORACLE_HEAD
    + "".join(_PR_ORACLE_ITER.format(i=i, j=i + 1) for i in range(_PR_ITER))
    + f"""
SELECT n.n_name AS nation_name,
       CAST(p.pr AS BIGINT) AS pr_fixed,
       CAST(p.pr AS DOUBLE) / {_PR_SCALE} AS pagerank
FROM pr{_PR_ITER} p JOIN nation n ON p.node = n.n_nationkey
ORDER BY pr_fixed DESC, nation_name
"""
)


@register(
    "q_pagerank",
    oracle=_PR_ORACLE,
    doc=f"Weighted PageRank ({_PR_ITER} unrolled iterations, damping "
    "0.85) over the nation-level trade graph derived from "
    "lineitem⨝supplier⨝orders⨝customer. All-integer fixed-point "
    "arithmetic (units of 1e-12; truncating DIV both engines) makes "
    "every iteration's ranks bit-identical under any partitioning — "
    "integer sums are associative, float PageRank is not. Dangling "
    "mass dropped (GraphX staticPageRank semantics). Per iteration: "
    "one node⨝edge hash join + one aggregate on dst; rank tables are "
    "node-bounded, edges shuffle on src.",
    bench=True,
)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    eraw = (
        li.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
    )
    # Library operator (operators/graphs.py): same integer math the
    # oracle unrolls; grouping eraw with w=1 reproduces COUNT(*).
    pr = pagerank(eraw.withColumn("w", F.lit(1)), n_iter=_PR_ITER)
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        pr.join(F.broadcast(n), pr["node"] == n["n_nationkey"])
        .select(
            F.col("n_name").alias("nation_name"),
            F.col("pr").alias("pr_fixed"),
            (F.col("pr").cast("double") / F.lit(float(_PR_SCALE))).alias(
                "pagerank"
            ),
        )
        .orderBy(F.col("pr_fixed").desc(), "nation_name")
    )


@register(
    "q_triangle_count",
    oracle="""
WITH e AS (
  SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
  FROM lineitem a
  JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey
),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg
  FROM (SELECT x AS node FROM e UNION ALL SELECT y AS node FROM e)
  GROUP BY node
),
o AS (
  SELECT CASE WHEN (dx.deg < dy.deg)
                OR (dx.deg = dy.deg AND e.x < e.y)
              THEN e.x ELSE e.y END AS src,
         CASE WHEN (dx.deg < dy.deg)
                OR (dx.deg = dy.deg AND e.x < e.y)
              THEN e.y ELSE e.x END AS dst
  FROM e
  JOIN deg dx ON dx.node = e.x
  JOIN deg dy ON dy.node = e.y
),
o2 AS (
  SELECT o.src, o.dst, d.deg AS ddst FROM o JOIN deg d ON d.node = o.dst
),
tri AS (
  SELECT a.src AS n1, a.dst AS n2, b.dst AS n3
  FROM o2 a
  JOIN o2 b ON a.src = b.src
           AND ((a.ddst < b.ddst)
                OR (a.ddst = b.ddst AND a.dst < b.dst))
  JOIN o2 c ON c.src = a.dst AND c.dst = b.dst
),
n AS (
  SELECT n1 AS node FROM tri
  UNION ALL SELECT n2 FROM tri
  UNION ALL SELECT n3 FROM tri
)
SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM n GROUP BY node
ORDER BY n_triangles DESC, node
LIMIT 20
""",
    doc="Triangle counting over the co-purchase graph (parts sharing "
    "an order — the aggregation-to-graph shape of any co-occurrence "
    "analysis), via DEGREE-ORIENTED wedge closing: edges orient from "
    "the (degree,node)-smaller endpoint, each triangle appears "
    "exactly once as an oriented wedge closed by a third oriented "
    "edge.  The orientation is the scale move — a power-law hub of "
    "degree d fans out O(d) oriented wedges, not O(d^2): the "
    "difference between a shuffle and a meltdown on real graphs.  "
    "Every step is an equi-join on node keys computed distributively "
    "(the (deg,node) total order needs no global rank).  Output is "
    "the top-20 triangle-heaviest parts; the oracle mirrors the "
    "orientation algebra so a wedge-order or closing-direction bug "
    "hash-mismatches.",
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graphs import triangle_counts

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("x"),
            F.col("b.l_partkey").alias("y"),
        )
        .distinct()
    )
    return (
        triangle_counts(edges)
        .orderBy(F.col("n_triangles").desc(), "node")
        .limit(20)
    )


_KCORE_K = 45
_KCORE_ROUNDS = 8

# integer node ids: customers keep their key, suppliers offset by 10^6
# (disjoint ranges at any TPC-H scale below SF ~6600; joins and
# shuffles hash 8-byte longs instead of strings — measured 2x on the
# peel loop).  The human-readable 'c:'/'s:' labels are recomposed once
# on the final node-bounded survivor table.
_KCORE_OFF = 1_000_000

_KCORE_EDGES = f"""
  SELECT DISTINCT CAST(o.o_custkey AS BIGINT) AS x,
         CAST(l.l_suppkey + {_KCORE_OFF} AS BIGINT) AS y
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
"""


def _kcore_oracle() -> str:
    k, r = _KCORE_K, _KCORE_ROUNDS
    ctes = [
        f"e0 AS ({_KCORE_EDGES})",
        "sym AS (SELECT x, y FROM e0 UNION ALL SELECT y, x FROM e0)",
        f"a0 AS (SELECT x AS node, COUNT(*) AS deg FROM sym "
        f"GROUP BY 1 HAVING COUNT(*) >= {k})",
    ]
    for i in range(1, r + 1):
        ctes.append(
            f"a{i} AS (SELECT s.x AS node, COUNT(*) AS deg FROM sym s "
            f"JOIN a{i - 1} nx ON s.x = nx.node "
            f"JOIN a{i - 1} ny ON s.y = ny.node "
            f"GROUP BY 1 HAVING COUNT(*) >= {k})"
        )
    label = (
        f"CASE WHEN node >= {_KCORE_OFF} THEN 's:' || (node - {_KCORE_OFF}) "
        "ELSE 'c:' || node END"
    )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT {label} AS node, CAST(deg AS BIGINT) AS deg "
        + f"FROM a{r} ORDER BY 1"
    )


@register(
    "q_kcore",
    oracle=_kcore_oracle(),
    bench=True,
    doc="k-core decomposition (SURVEY.md §2.11 graph family, beside "
    "PageRank / triangles / connected components): the maximal "
    "subgraph of the customer-supplier transaction graph where every "
    "node retains >= k surviving neighbors — the density filter "
    "fraud/community pipelines run before clustering.  Iterative "
    f"peeling, {_KCORE_ROUNDS} rounds unrolled to mirror the chained-"
    "CTE oracle exactly (fixpoint-within-rounds is pinned by "
    "test_kcore_fixpoint_within_rounds); each round is two edge⨝"
    "survivor semi-joins plus one map-side-combined degree aggregate, "
    "survivor lineage localCheckpoint-truncated.  At 100 TB the edge "
    "set shuffles on node keys only — no all-pairs, rounds bounded by "
    "peel depth.",
)
def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graphs import kcore

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("o_custkey").cast("bigint").alias("x"),
            (F.col("l_suppkey") + _KCORE_OFF).cast("bigint").alias("y"),
        )
    )
    core = kcore(edges, _KCORE_K, rounds=_KCORE_ROUNDS)
    label = F.when(
        F.col("node") >= _KCORE_OFF,
        F.concat(F.lit("s:"), (F.col("node") - _KCORE_OFF).cast("string")),
    ).otherwise(F.concat(F.lit("c:"), F.col("node").cast("string")))
    return core.select(label.alias("node"), "deg").orderBy("node")


_WG_PAGES = 40

_WG_ORACLE = (
    f"""
WITH eraw AS (
  SELECT CAST(doc_id % {_WG_PAGES} AS BIGINT) AS src,
         CAST((doc_id * 7 + 3) % {_WG_PAGES} AS BIGINT) AS dst
  FROM documents
  UNION ALL
  SELECT CAST(doc_id % {_WG_PAGES} AS BIGINT),
         CAST((doc_id * 11 + 5) % {_WG_PAGES} AS BIGINT)
  FROM documents
), edges AS (
  SELECT src, dst, COUNT(*) AS w FROM eraw GROUP BY src, dst
), outw AS (
  SELECT src, SUM(w) AS ow FROM edges GROUP BY src
), ew AS (
  SELECT e.src, e.dst, e.w, o.ow FROM edges e JOIN outw o USING (src)
), nodes AS (
  SELECT DISTINCT src AS node FROM edges
  UNION
  SELECT DISTINCT dst FROM edges
), nn AS (
  SELECT COUNT(*) AS n FROM nodes
), base AS (
  SELECT (15 * {_PR_SCALE}) // (100 * n) AS b FROM nn
), pr0 AS (
  SELECT node, {_PR_SCALE} // n AS pr FROM nodes, nn
)"""
    + "".join(_PR_ORACLE_ITER.format(i=i, j=i + 1) for i in range(_PR_ITER))
    + f"""
SELECT 'p' || CAST(p.node AS VARCHAR) AS page,
       CAST(p.pr AS BIGINT) AS pr_fixed,
       CAST(p.pr AS DOUBLE) / {_PR_SCALE} AS pagerank
FROM pr{_PR_ITER} p
ORDER BY pr_fixed DESC, page
"""
)


@register(
    "q_webgraph_rank",
    oracle=_WG_ORACLE,
    doc="End-to-end web-graph ranking — the crawl-analytics "
    "composition: per-document HTML pages (two anchors each, targets "
    "derived from the doc id) are parsed by the REAL distributed "
    "xpath() extraction (the q_xpath_links path), hrefs parse back to "
    "page ids, the (src, dst) link graph aggregates with counts, and "
    f"the {_PR_ITER}-iteration integer fixed-point PageRank runs on "
    "top.  The oracle derives the same edges by construction and "
    "unrolls the same integer arithmetic, so a regression anywhere in "
    "parse -> extract -> graph-build -> rank hash-mismatches.  Plan: "
    "the parse is codegen'd per-row expression work inside the scan "
    "stage; everything after is the q_pagerank shape (node-bounded "
    "rank tables, edges shuffle on src per iteration).",
)
def q_webgraph_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.html import extract_links

    docs = load_table(spark, sf_dir, "documents")
    t1 = (F.col("doc_id") * 7 + 3) % _WG_PAGES
    t2 = (F.col("doc_id") * 11 + 5) % _WG_PAGES
    html = F.concat(
        F.lit('<html><body><div id="links"><a href="/p/'),
        t1.cast("string"),
        F.lit('">a</a><a href="/p/'),
        t2.cast("string"),
        F.lit('">b</a></div></body></html>'),
    )
    html_df = docs.select(
        (F.col("doc_id") % _WG_PAGES).cast("bigint").alias("src"),
        html.alias("html"),
    )
    links = extract_links(
        spark, html_df, section_xpath='//div[@id="links"]'
    )
    eraw = links.select(
        "src",
        F.regexp_extract("href", r"/p/(\d+)", 1).cast("bigint").alias("dst"),
    )
    pr = pagerank(eraw.withColumn("w", F.lit(1)), n_iter=_PR_ITER)
    return pr.select(
        F.concat(F.lit("p"), F.col("node").cast("string")).alias("page"),
        F.col("pr").alias("pr_fixed"),
        (F.col("pr").cast("double") / F.lit(float(_PR_SCALE))).alias(
            "pagerank"
        ),
    ).orderBy(F.col("pr_fixed").desc(), "page")


@register(
    "q_clustering_coeff",
    oracle="""
WITH e AS (
  SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
  FROM lineitem a
  JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey
),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg
  FROM (SELECT x AS node FROM e UNION ALL SELECT y AS node FROM e)
  GROUP BY node
),
o AS (
  SELECT CASE WHEN (dx.deg < dy.deg)
                OR (dx.deg = dy.deg AND e.x < e.y)
              THEN e.x ELSE e.y END AS src,
         CASE WHEN (dx.deg < dy.deg)
                OR (dx.deg = dy.deg AND e.x < e.y)
              THEN e.y ELSE e.x END AS dst
  FROM e
  JOIN deg dx ON dx.node = e.x
  JOIN deg dy ON dy.node = e.y
),
o2 AS (
  SELECT o.src, o.dst, d.deg AS ddst FROM o JOIN deg d ON d.node = o.dst
),
tri AS (
  SELECT a.src AS n1, a.dst AS n2, b.dst AS n3
  FROM o2 a
  JOIN o2 b ON a.src = b.src
           AND ((a.ddst < b.ddst)
                OR (a.ddst = b.ddst AND a.dst < b.dst))
  JOIN o2 c ON c.src = a.dst AND c.dst = b.dst
),
corners AS (
  SELECT n1 AS node FROM tri
  UNION ALL SELECT n2 FROM tri
  UNION ALL SELECT n3 FROM tri
),
tc AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS t FROM corners GROUP BY node)
SELECT d.node,
       d.deg,
       CAST(COALESCE(tc.t, 0) AS BIGINT) AS n_triangles,
       CAST(2 * COALESCE(tc.t, 0) AS DOUBLE) / (d.deg * (d.deg - 1))
         AS clustering_coeff
FROM deg d LEFT JOIN tc USING (node)
WHERE d.deg >= 2
ORDER BY clustering_coeff DESC, d.node
LIMIT 20
""",
    doc="Local clustering coefficient — 2T(v)/(deg(v)(deg(v)-1)), the "
    "per-node community-density statistic built from the SAME "
    "degree-oriented triangle machinery as q_triangle_count (each "
    "triangle counted once, hub wedges O(d)); nodes with no "
    "triangles coalesce to 0 rather than dropping, the coefficient "
    "is one double division of exact bigints, and deg>=2 guards the "
    "denominator.  Plan: the triangle pipeline + one degree LEFT "
    "join; top-20 with full deterministic tie-break.",
)
def q_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graphs import triangle_counts

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("x"),
            F.col("b.l_partkey").alias("y"),
        )
        .distinct()
    )
    deg = (
        edges.select(F.col("x").alias("node"))
        .unionAll(edges.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    )
    tc = triangle_counts(edges)
    return (
        deg.join(tc, "node", "left")
        .filter(F.col("deg") >= 2)
        .select(
            "node",
            "deg",
            F.coalesce("n_triangles", F.lit(0))
            .cast("bigint").alias("n_triangles"),
            (
                (2 * F.coalesce("n_triangles", F.lit(0))).cast("double")
                / (F.col("deg") * (F.col("deg") - 1))
            ).alias("clustering_coeff"),
        )
        .orderBy(F.col("clustering_coeff").desc(), "node")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Semi-supervised label spreading over the co-purchase graph.
# ---------------------------------------------------------------------------

_LS_ROUNDS = 3
_LS_SEED_MOD = 4  # parts with p_partkey % 4 == 0 keep their known label

_LS_EDGES = """
  SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
"""


def _label_spread_oracle() -> str:
    ctes = [
        f"e0 AS ({_LS_EDGES})",
        "sym AS (SELECT x, y FROM e0 UNION ALL SELECT y, x FROM e0)",
        "nodes AS (SELECT DISTINCT x AS node FROM sym)",
        f"""seeds AS (
  SELECT p_partkey AS node, string_split(p_name, ' ')[1] AS label
  FROM part WHERE p_partkey % {_LS_SEED_MOD} = 0
)""",
        "l0 AS MATERIALIZED (SELECT node, label, TRUE AS is_seed "
        "FROM seeds WHERE node IN (SELECT node FROM nodes))",
    ]
    for r in range(1, _LS_ROUNDS + 1):
        ctes.append(
            f"""v{r} AS (
  SELECT s.x AS node, l.label, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM sym s JOIN l{r - 1} l ON l.node = s.y
  WHERE s.x NOT IN (SELECT node FROM l{r - 1})
  GROUP BY s.x, l.label
  QUALIFY row_number() OVER (
    PARTITION BY s.x ORDER BY cnt DESC, l.label ASC) = 1
),
l{r} AS MATERIALIZED (
  SELECT node, label, is_seed FROM l{r - 1}
  UNION ALL
  SELECT node, label, FALSE FROM v{r}
)"""
        )
    return f"""
WITH {",".join(ctes)}
SELECT label,
       CAST(SUM(CASE WHEN is_seed THEN 1 ELSE 0 END) AS BIGINT)
         AS n_seeds,
       CAST(SUM(CASE WHEN is_seed THEN 0 ELSE 1 END) AS BIGINT)
         AS n_propagated
FROM l{_LS_ROUNDS} GROUP BY label
UNION ALL
SELECT '<unlabeled>' AS label,
       CAST(0 AS BIGINT),
       CAST((SELECT COUNT(*) FROM nodes) -
            (SELECT COUNT(*) FROM l{_LS_ROUNDS}) AS BIGINT)
FROM (SELECT 1)
ORDER BY label
"""


@register(
    "q_label_spread",
    oracle=_label_spread_oracle(),
    doc=f"Semi-supervised label spreading over the co-purchase part "
    f"graph: 1/{_LS_SEED_MOD} of parts keep their known label (the "
    "leading descriptor of p_name); for "
    f"{_LS_ROUNDS} synchronous rounds every still-unlabeled node "
    "adopts the majority label among its labeled neighbors (ties -> "
    "lexicographically smallest), labeled nodes never change — the "
    "classic Zhu-Ghahramani label-propagation recipe with a "
    "deterministic total order instead of RNG.  Per round: one "
    "edge⨝labels hash join + one (node, label) count + one per-node "
    "argmax window — node-bounded, no all-pairs anywhere; rounds "
    "bounded like every iterative op here.  The oracle unrolls the "
    "identical rounds with the identical tie order.",
)
def q_label_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    part = load_table(spark, sf_dir, "part")
    a, b = li.alias("a"), li.alias("b")
    e0 = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("x"), F.col("b.l_partkey").alias("y")
        )
        .distinct()
    )
    sym = e0.unionByName(
        e0.select(F.col("y").alias("x"), F.col("x").alias("y"))
    ).localCheckpoint()
    nodes = sym.select(F.col("x").alias("node")).distinct()
    labels = (
        part.filter(F.col("p_partkey") % _LS_SEED_MOD == 0)
        .select(
            F.col("p_partkey").alias("node"),
            F.element_at(F.split("p_name", " "), 1).alias("label"),
            F.lit(True).alias("is_seed"),
        )
        .join(nodes, "node", "semi")
        .localCheckpoint()
    )
    for _ in range(_LS_ROUNDS):
        votes = (
            sym.join(
                labels.select(F.col("node").alias("y"), "label"), "y"
            )
            .join(
                labels.select(F.col("node").alias("x")).distinct(),
                "x",
                "left_anti",
            )
            .groupBy(F.col("x").alias("node"), "label")
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        )
        w = Window.partitionBy("node").orderBy(
            F.col("cnt").desc(), F.col("label").asc()
        )
        winners = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "label", F.lit(False).alias("is_seed"))
        )
        labels = labels.unionByName(winners).localCheckpoint()
    per_label = labels.groupBy("label").agg(
        F.sum(F.col("is_seed").cast("bigint")).alias("n_seeds"),
        F.sum((~F.col("is_seed")).cast("bigint")).alias("n_propagated"),
    )
    n_nodes = nodes.count()
    n_labeled = labels.count()
    unl = labels.sparkSession.createDataFrame(
        [("<unlabeled>", 0, n_nodes - n_labeled)],
        "label string, n_seeds bigint, n_propagated bigint",
    )
    return per_label.unionByName(unl).orderBy("label")


@register(
    "q_pagerank_resume",
    oracle=_PR_ORACLE,  # the FULL 5-iteration run: equality proves
    # checkpoint/resume exactness
    doc=f"PageRank checkpoint/RESUME identity: run {_PR_ITER - 2} "
    "iterations, materialize the integer rank table (the state a "
    "long-running job persists), then resume 2 more iterations from "
    "it — and hash-match the FULL "
    f"{_PR_ITER}-iteration oracle.  Float PageRank cannot make this "
    "promise (re-summation order changes the low bits across "
    "restarts); the all-integer fixed-point arithmetic makes the "
    "resumed tail bit-identical, which is what lets a 100-iteration "
    "job on a 100 TB graph survive preemption by persisting "
    "node-bounded rank snapshots instead of re-running from scratch.",
)
def q_pagerank_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    eraw = (
        li.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
    )
    edges = eraw.withColumn("w", F.lit(1))
    snapshot = pagerank(edges, n_iter=_PR_ITER - 2).localCheckpoint()
    pr = pagerank(edges, n_iter=2, init_pr=snapshot)
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        pr.join(F.broadcast(n), pr["node"] == n["n_nationkey"])
        .select(
            F.col("n_name").alias("nation_name"),
            F.col("pr").alias("pr_fixed"),
            (F.col("pr").cast("double") / F.lit(float(_PR_SCALE))).alias(
                "pagerank"
            ),
        )
        .orderBy(F.col("pr_fixed").desc(), "nation_name")
    )


# ---------------------------------------------------------------------------
# Single-source shortest paths — Bellman–Ford rounds over the trade
# graph (the path-analytics member of the graph family).
# ---------------------------------------------------------------------------

_SSSP_ROUNDS = 6
_SSSP_SOURCE = 0  # nation 0 (ALGERIA)


def _sssp_oracle() -> str:
    ctes = [
        f"""eraw AS (
  SELECT s.s_nationkey AS src, c.c_nationkey AS dst
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
), ew AS MATERIALIZED (
  -- edge length = 1e9 / multiplicity (stronger trade = shorter),
  -- exact integer division
  SELECT src, dst, 1000000000 // COUNT(*) AS w
  FROM eraw WHERE src <> dst GROUP BY src, dst
), nodes AS (
  SELECT DISTINCT src AS node FROM ew
  UNION SELECT DISTINCT dst FROM ew
), dd0 AS (
  SELECT node,
         CASE WHEN node = {_SSSP_SOURCE} THEN CAST(0 AS BIGINT) END AS d
  FROM nodes
)"""
    ]
    for r in range(1, _SSSP_ROUNDS + 1):
        ctes.append(
            f"""d{r} AS MATERIALIZED (
  SELECT n.node,
         LEAST(COALESCE(n.d, 9223372036854775807),
               COALESCE(MIN(p.d + e.w), 9223372036854775807)) AS d_raw
  FROM dd{r - 1} n
  LEFT JOIN ew e ON e.dst = n.node
  LEFT JOIN dd{r - 1} p ON p.node = e.src AND p.d IS NOT NULL
  GROUP BY n.node, n.d
),
dd{r} AS MATERIALIZED (
  SELECT node,
         CASE WHEN d_raw < 9223372036854775807 THEN d_raw END AS d
  FROM d{r}
)"""
        )
    return f"""
WITH {",".join(ctes)}
SELECT dd{_SSSP_ROUNDS}.node AS nation_key,
       na.n_name AS nation_name,
       dd{_SSSP_ROUNDS}.d AS dist
FROM dd{_SSSP_ROUNDS} JOIN nation na ON na.n_nationkey = dd{_SSSP_ROUNDS}.node
ORDER BY nation_key
"""


@register(
    "q_shortest_paths",
    oracle=_sssp_oracle(),
    doc="Single-source shortest paths over the nation trade graph "
    f"(source: nation {_SSSP_SOURCE}): edge length 1e9/multiplicity "
    "(stronger trade = shorter), "
    f"{_SSSP_ROUNDS} Bellman–Ford relaxation rounds — enough for any "
    "path in a 25-node graph, and the fixpoint is reached well before "
    "(extra rounds are identities).  Exact integer path lengths make "
    "every round's frontier bit-identical under any partitioning "
    "(float SSSP would tie-break nondeterministically).  Per round: "
    "one dist⨝edges hash join + one per-node MIN — the same shape as "
    "every iterative op here; unreachable nodes stay NULL.  The "
    "path-analytics member of the graph family beside PageRank, "
    "components, k-core, triangles and label spreading.",
)
def q_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    eraw = (
        li.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
    )
    ew = (
        eraw.groupBy("src", "dst")
        .agg(F.expr("1000000000 div COUNT(*)").alias("w"))
        .localCheckpoint()
    )
    nodes = (
        ew.select(F.col("src").alias("node"))
        .union(ew.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    dist = nodes.select(
        "node",
        F.when(F.col("node") == _SSSP_SOURCE, F.lit(0).cast("bigint")).alias(
            "d"
        ),
    )
    for _ in range(_SSSP_ROUNDS):
        relax = (
            dist.filter(F.col("d").isNotNull())
            .join(ew, dist["node"] == ew["src"])
            .select("dst", (F.col("d") + F.col("w")).alias("cand"))
            .groupBy("dst")
            .agg(F.min("cand").alias("best"))
        )
        dist = (
            dist.join(relax, dist["node"] == relax["dst"], "left")
            .select(
                "node",
                F.least(
                    F.coalesce("d", F.lit(2**63 - 1)),
                    F.coalesce("best", F.lit(2**63 - 1)),
                ).alias("d_raw"),
            )
            .select(
                "node",
                F.when(
                    F.col("d_raw") < 2**63 - 1, F.col("d_raw")
                ).alias("d"),
            )
            .localCheckpoint()
        )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        dist.join(F.broadcast(n), dist["node"] == n["n_nationkey"])
        .select(
            F.col("node").alias("nation_key"),
            F.col("n_name").alias("nation_name"),
            F.col("d").alias("dist"),
        )
        .orderBy("nation_key")
    )
