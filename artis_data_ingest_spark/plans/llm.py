"""Similarity-search and hash-based near-dup queries (SURVEY.md §2.11).

The cosine queries are exact cross-engine: float→double casts before
any arithmetic plus sequential folds make Spark's higher-order-function
dot product bit-identical to DuckDB's list_dot_product; ranking uses
(round(cosine,6) DESC, vec_id) so ordering is jitter-proof.

MinHash/SimHash tiers hash with engine-specific functions (murmur3 /
xxhash64); since round 9 they are hash-oracled anyway — functions/
hash_oracle.py generates DuckDB SQL that reproduces Spark's
Murmur3_x86_32 and XXH64 bit-for-bit, so the gate checks the candidate
pairs value-for-value across engines.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vectors import norm
from ..operators.dedup import (
    _PORTABLE_P,
    _PORTABLE_PERMS,
    _PORTABLE_SIMHASH_BITS,
    _PORTABLE_SIMHASH_MOD,
    minhash_lsh_candidates,
    portable_minhash_candidates,
    portable_simhash_candidates,
    simhash_candidates,
)
from ..operators.similarity import (
    brute_force_topk,
    embedding_cosine_neardup,
    ivf_topk,
    kmeans_centroids,
    kmeans_centroids_sql,
    lsh_topk,
    pq_codebooks,
    pq_codebooks_sql,
)
from ..sources.tables import load_table
from .registry import _REGISTRY, register

_QUERY_IDS = (0, 1, 2)


@register(
    "q_cosine_topk",
    oracle=f"""
WITH c AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, emb AS q_emb
  FROM c WHERE vec_id IN {_QUERY_IDS}
), sims AS (
  SELECT q.query_id, c.vec_id,
         round(list_dot_product(q.q_emb, c.emb)
               / (sqrt(list_dot_product(q.q_emb, q.q_emb))
                  * sqrt(list_dot_product(c.emb, c.emb))), 6) AS cosine
  FROM c, q
  WHERE c.vec_id <> q.query_id
), ranked AS (
  SELECT query_id, vec_id, cosine,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, vec_id
         ) AS rank
  FROM sims
)
SELECT query_id, vec_id, cosine, rank
FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
""",
    doc="Brute-force exact cosine top-5 for 3 query vectors "
    "(SURVEY.md §2.11 ANN baseline): broadcast queries, sequential-fold "
    "dot product in doubles, deterministic rank tie-break.",
    bench=True,
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(list(_QUERY_IDS)))
    return brute_force_topk(emb, queries, k=5)


@register(
    "q_ann_ivf",
    oracle=f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
), n AS (
  SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e
), cent AS (
  SELECT vec_id AS cid, emb AS cemb, nrm AS cnorm
  FROM n ORDER BY vec_id LIMIT 4
), assign AS (
  SELECT vec_id, cid FROM (
    SELECT v.vec_id, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY round(list_dot_product(v.emb, c.cemb)
                            / (v.nrm * c.cnorm), 6) DESC, c.cid
           ) AS rn
    FROM n v CROSS JOIN cent c
  ) WHERE rn = 1
), q AS (
  SELECT vec_id AS query_id, emb AS qemb, nrm AS qnorm
  FROM n WHERE vec_id IN {_QUERY_IDS}
), probed AS (
  SELECT query_id, qemb, qnorm, cid FROM (
    SELECT q.query_id, q.qemb, q.qnorm, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY q.query_id
             ORDER BY round(list_dot_product(q.qemb, c.cemb)
                            / (q.qnorm * c.cnorm), 6) DESC, c.cid
           ) AS rn
    FROM q CROSS JOIN cent c
  ) WHERE rn <= 2
), ranked AS (
  SELECT p.query_id, a.vec_id,
         round(list_dot_product(p.qemb, v.emb) / (p.qnorm * v.nrm), 6)
           AS cosine,
         ROW_NUMBER() OVER (
           PARTITION BY p.query_id
           ORDER BY round(list_dot_product(p.qemb, v.emb)
                          / (p.qnorm * v.nrm), 6) DESC, a.vec_id
         ) AS rank
  FROM probed p
  JOIN assign a USING (cid)
  JOIN n v ON v.vec_id = a.vec_id
  WHERE a.vec_id <> p.query_id
)
SELECT query_id, vec_id, cosine, rank
FROM ranked WHERE rank <= 3
ORDER BY query_id, rank
""",
    doc="IVF approximate top-k (SURVEY.md §2.11 ANN scale path): "
    "deterministic centroids (lowest-vec_id stand-ins for k-means), "
    "per-vector cell assignment via broadcast argmax, queries probe "
    "their 2 nearest of 4 cells, exact cosine re-rank of the ~nprobe/K "
    "candidate slice. Two equi-joins; the corpus is never self-joined.",
)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(list(_QUERY_IDS)))
    return ivf_topk(emb, queries, k=3, n_centroids=4, nprobe=2)


_KM_CHAIN, _KM_FINAL = kmeans_centroids_sql(k=4, n_iter=2)


@register(
    "q_kmeans_centroids",
    oracle=f"""{_KM_CHAIN}
SELECT cid, u.pos AS pos, cemb[u.pos] AS val
FROM {_KM_FINAL}, UNNEST(range(1, len(cemb) + 1)) AS u(pos)
ORDER BY cid, pos
""",
    doc="Distributed Lloyd's k-means (2 iterations, k=4) over the "
    "embedding corpus — the trained-codebook path for IVF ANN "
    "(SURVEY.md §2.11). Deterministic end-to-end: lowest-vec_id init "
    "(no RNG), max-cosine assignment with (round 6, cid) tie-break, "
    "and FIXED-POINT centroid updates (elements floored to 1e-6 units "
    "and summed as BIGINT — exact and order-independent where float "
    "sums are not) so the oracle's recursive CTE chain reproduces the "
    "centroids bit-for-bit. Output is the flattened (cid, pos, val) "
    "codebook. Each iteration = one corpus scan + one map-side-"
    "combined groupBy(cid,pos); centroids broadcast.",
)
def q_kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cent = kmeans_centroids(emb, k=4, n_iter=2)
    return (
        cent.select("cid", F.posexplode("cemb").alias("pos0", "val"))
        .select(
            "cid",
            (F.col("pos0") + 1).cast("bigint").alias("pos"),
            "val",
        )
        .orderBy("cid", "pos")
    )


# Train-once/serve-many for the IVF coarse quantizer, same pattern as
# the PQ codebooks below: Lloyd's runs ONCE per fixture (cache keyed by
# the embeddings file's identity + k/n_iter), lands in parquet, and ANN
# queries read the k-row artifact back — so the serving plan is 2 scans
# (corpus + tiny centroid table) and broadcast probes, not an inline
# re-training (formerly 9 shuffles / 6 corpus scans per invocation,
# the heaviest plan in SCALE.md r6).
_IVF_K, _IVF_ITER = 4, 2
_IVF_CACHE_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "data", "cache", "ivf_centroids",
)


def _ivf_cents_cache_path(sf_dir: str) -> str:
    src = os.path.join(os.path.abspath(sf_dir), "embeddings.parquet")
    try:
        st = os.stat(src)
        sig = f"{src}|{st.st_size}|{st.st_mtime_ns}|k{_IVF_K}|i{_IVF_ITER}"
    except OSError:
        sig = f"{src}|missing|k{_IVF_K}|i{_IVF_ITER}"
    return os.path.join(
        _IVF_CACHE_ROOT, hashlib.md5(sig.encode()).hexdigest()[:16]
    )


def ivf_trained_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted Lloyd-trained IVF centroids for ``sf_dir``: train+write
    on first use (_SUCCESS marker guards torn writes), k-row parquet
    read afterwards.  Parquet round-trips doubles exactly, so consumers
    see bit-identical centroids to a fresh ``kmeans_centroids`` run
    (pinned by test)."""
    path = _ivf_cents_cache_path(sf_dir)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        cent = kmeans_centroids(
            load_table(spark, sf_dir, "embeddings"), k=_IVF_K, n_iter=_IVF_ITER
        )
        cent.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


@register(
    "q_ann_ivf_kmeans",
    oracle=f"""{_KM_CHAIN}, n AS (
  SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e
), kcent AS (
  SELECT cid, cemb, sqrt(list_dot_product(cemb, cemb)) AS cnorm
  FROM {_KM_FINAL}
), kassign AS (
  SELECT vec_id, cid FROM (
    SELECT v.vec_id, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY round(list_dot_product(v.emb, c.cemb)
                            / (v.nrm * c.cnorm), 6) DESC, c.cid
           ) AS rn
    FROM n v CROSS JOIN kcent c
  ) WHERE rn = 1
), q AS (
  SELECT vec_id AS query_id, emb AS qemb, nrm AS qnorm
  FROM n WHERE vec_id IN {_QUERY_IDS}
), probed AS (
  SELECT query_id, qemb, qnorm, cid FROM (
    SELECT q.query_id, q.qemb, q.qnorm, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY q.query_id
             ORDER BY round(list_dot_product(q.qemb, c.cemb)
                            / (q.qnorm * c.cnorm), 6) DESC, c.cid
           ) AS rn
    FROM q CROSS JOIN kcent c
  ) WHERE rn <= 2
), ranked AS (
  SELECT p.query_id, a.vec_id,
         round(list_dot_product(p.qemb, v.emb) / (p.qnorm * v.nrm), 6)
           AS cosine,
         ROW_NUMBER() OVER (
           PARTITION BY p.query_id
           ORDER BY round(list_dot_product(p.qemb, v.emb)
                          / (p.qnorm * v.nrm), 6) DESC, a.vec_id
         ) AS rank
  FROM probed p
  JOIN kassign a USING (cid)
  JOIN n v ON v.vec_id = a.vec_id
  WHERE a.vec_id <> p.query_id
)
SELECT query_id, vec_id, cosine, rank
FROM ranked WHERE rank <= 3
ORDER BY query_id, rank
""",
    doc="IVF top-k over the Lloyd-trained codebook (q_kmeans_centroids "
    "composed into the q_ann_ivf probe shape): assignment and probing "
    "use the refined centroids, exact cosine re-rank of the probed "
    "cells. Since r7 the centroids come from the PERSISTED training "
    "artifact (``ivf_trained_centroids`` — train-once parquet, same "
    "pattern as the PQ codebooks), so the serving plan is corpus scan "
    "+ k-row centroid scan + broadcast probes instead of an inline "
    "Lloyd re-training per query.  The oracle replays training + probe "
    "in one CTE chain — parquet round-trips doubles exactly, so the "
    "persisted path stays bit-identical to fresh training.",
)
def q_ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(list(_QUERY_IDS)))
    cent = ivf_trained_centroids(spark, sf_dir)
    return ivf_topk(emb, queries, k=3, nprobe=2, centroids=cent)


@register(
    "q_ann_signbucket",
    oracle=f"""
WITH c AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
         CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END ||
         CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END ||
         CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END ||
         CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END ||
         CASE WHEN embedding[5] >= 0 THEN '1' ELSE '0' END ||
         CASE WHEN embedding[6] >= 0 THEN '1' ELSE '0' END ||
         CASE WHEN embedding[7] >= 0 THEN '1' ELSE '0' END ||
         CASE WHEN embedding[8] >= 0 THEN '1' ELSE '0' END AS bucket
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, emb AS q_emb, bucket
  FROM c WHERE vec_id IN {_QUERY_IDS}
), sims AS (
  SELECT q.query_id, c.vec_id,
         round(list_dot_product(q.q_emb, c.emb)
               / (sqrt(list_dot_product(q.q_emb, q.q_emb))
                  * sqrt(list_dot_product(c.emb, c.emb))), 6) AS cosine
  FROM c JOIN q USING (bucket)
  WHERE c.vec_id <> q.query_id
), ranked AS (
  SELECT query_id, vec_id, cosine,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, vec_id
         ) AS rank
  FROM sims
)
SELECT query_id, vec_id, cosine, rank
FROM ranked WHERE rank <= 3
ORDER BY query_id, rank
""",
    doc="LSH-bucketed approximate top-3: axis-aligned sign-pattern "
    "buckets (8 bits → ~256 buckets) replace the cross join with an "
    "equi-join — the 100 TB scale path (SURVEY.md §2.11).",
)
def q_ann_signbucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(list(_QUERY_IDS)))
    return lsh_topk(emb, queries, k=3, n_bits=8)


@register(
    "q_embedding_norms",
    oracle="""
WITH n AS (
  SELECT label,
         round(sqrt(list_dot_product(
           list_transform(embedding, x -> CAST(x AS DOUBLE)),
           list_transform(embedding, x -> CAST(x AS DOUBLE)))), 6) AS nrm
  FROM embeddings
)
SELECT label,
       COUNT(*) AS n_vectors,
       CAST(SUM(CAST(nrm AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
         AS avg_norm
FROM n
GROUP BY label
ORDER BY label
""",
    doc="Per-label embedding L2-norm stats; norms rounded then summed in "
    "decimal so the cross-partition aggregation is order-independent.",
)
def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    nrm = F.round(norm("embedding"), 6)
    return (
        emb.select("label", nrm.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            (
                F.sum(F.col("nrm").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_norm"),
        )
        .orderBy("label")
    )


@register(
    "q_embedding_neardup",
    oracle="""
WITH c AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
         CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END ||
         CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END ||
         CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END ||
         CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END ||
         CASE WHEN embedding[5] >= 0 THEN '1' ELSE '0' END ||
         CASE WHEN embedding[6] >= 0 THEN '1' ELSE '0' END ||
         CASE WHEN embedding[7] >= 0 THEN '1' ELSE '0' END ||
         CASE WHEN embedding[8] >= 0 THEN '1' ELSE '0' END AS bucket
  FROM embeddings
)
SELECT a.vec_id AS vec_id_a,
       b.vec_id AS vec_id_b,
       round(list_dot_product(a.emb, b.emb)
             / (sqrt(list_dot_product(a.emb, a.emb))
                * sqrt(list_dot_product(b.emb, b.emb))), 6) AS cosine
FROM c a
JOIN c b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE round(list_dot_product(a.emb, b.emb)
            / (sqrt(list_dot_product(a.emb, a.emb))
               * sqrt(list_dot_product(b.emb, b.emb))), 6) >= 0.35
ORDER BY vec_id_a, vec_id_b
""",
    doc="Embedding-cosine near-dup pairs (SURVEY.md §2.11): sign-bucket "
    "LSH candidates verified by exact cosine ≥ 0.35 (threshold fits the "
    "synthetic corpus's similarity range — real near-dup corpora use "
    "~0.95). Linear candidate generation, no cross join.",
)
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_cosine_neardup(emb, threshold=0.35, n_bits=8).orderBy(
        "vec_id_a", "vec_id_b"
    )


def _minhash_neardup_oracle() -> str:
    """Hash oracle for the murmur3 MinHash pipeline — possible because
    functions/hash_oracle.py re-implements Spark's Murmur3_x86_32
    (seed 42, per-byte tail variant) and its long-array hash chain as
    bit-exact DuckDB SQL.  The CTE chain replays the production plan:
    per-shingle murmur3 → Java abs-with-overflow mod 2^31-1 → 32
    affine-permuted grouped MINs → per-band hashLong bucket → bucket
    self-join → exact-Jaccard verify.  Salting in the Spark side only
    spreads reducers; the candidate SET is identical, so the oracle
    needs no salt."""
    from ..functions.hash_oracle import (
        murmur3_tail_layers,
        spark_hash_long_chain_sql,
    )
    from ..operators.dedup import _P, _perm_params

    perms = _perm_params(32)
    shingle_inner = (
        "SELECT doc_id, substring(t, i, 3) AS g "
        "FROM (SELECT doc_id, t, UNNEST(range(1, length(t) - 1)) AS i "
        "FROM t)"
    )
    h_layers = murmur3_tail_layers(
        shingle_inner,
        [f"unicode(substring(g, {j}, 1))" for j in (1, 2, 3)],
        ["doc_id", "g"],
        out="h",
    )
    mins = ",\n         ".join(
        f"MIN((x * {pa} + {pb}) % {_P}) AS m{j}"
        for j, (pa, pb) in enumerate(perms)
    )
    band_selects = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, {b} AS band, "
        + spark_hash_long_chain_sql(
            "[" + ", ".join(f"m{b * 4 + j}" for j in range(4)) + "]"
        )
        + " AS bucket FROM sig"
        for b in range(8)
    )
    return f"""
WITH t AS MATERIALIZED (
  SELECT doc_id, lower(text) AS t FROM documents
  WHERE length(lower(text)) >= 3
), xs AS MATERIALIZED (
  SELECT doc_id,
         (CASE WHEN h = -2147483648 THEN h ELSE abs(h) END) % {_P} AS x
  FROM ({h_layers})
), sig AS MATERIALIZED (
  SELECT doc_id,
         {mins}
  FROM xs GROUP BY doc_id
), bands AS MATERIALIZED (
  {band_selects}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
              AND a.doc_id < b.doc_id
), sh AS MATERIALIZED (
  SELECT doc_id,
         list_distinct([substring(t, i, 3)
                        for i in range(1, length(t) - 1)]) AS sh
  FROM t
)
SELECT doc_id_a, doc_id_b, jaccard FROM (
  SELECT c.doc_id_a, c.doc_id_b,
         len(list_intersect(a.sh, b.sh))
           / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
           AS jaccard
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_id_a
  JOIN sh b ON b.doc_id = c.doc_id_b
)
WHERE jaccard >= 0.7
ORDER BY doc_id_a, doc_id_b
"""


@register(
    "q_minhash_neardup",
    oracle=_minhash_neardup_oracle(),
    doc="MinHash(32)+LSH(8 bands) near-dup candidates verified at "
    "Jaccard ≥ 0.7 (SURVEY.md §2.11). Hash-oracled despite the "
    "engine-specific murmur3 signatures: functions/hash_oracle.py "
    "generates DuckDB SQL computing Spark's Murmur3_x86_32 (seed 42, "
    "byte-at-a-time tail) and its long-array seed chain bit-exactly, "
    "so the oracle replays signatures, band buckets, candidates, and "
    "the Jaccard verify value-for-value (rows-only until round 9).",
)
def q_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_candidates(docs).orderBy("doc_id_a", "doc_id_b")


def portable_minhash_ctes() -> str:
    """The shared WITH-chain (shingles → rolling hashes → signature →
    band keys) of the portable-MinHash oracle.  The final candidate
    SELECT is appended by ``_portable_minhash_oracle``; the cluster /
    jaccard-verify oracles compose further CTEs onto this chain."""
    p = _PORTABLE_P
    mins = ",\n           ".join(
        f"list_min(list_transform(hashes, h -> ({a}*h + {b}) % {p}))"
        for a, b in _PORTABLE_PERMS
    )
    bands = ", ".join(
        f"'{j}-' || CAST(sig[{2 * j + 1}] AS VARCHAR)"
        f" || '-' || CAST(sig[{2 * j + 2}] AS VARCHAR)"
        for j in range(4)
    )
    return f"""
WITH sh AS (
  SELECT doc_id,
         list_distinct([substring(lower(text), i, 3)
                        for i in range(1, greatest(length(text) - 1, 1))])
           AS shingles
  FROM documents
), h AS (
  SELECT doc_id,
         list_transform(shingles, s ->
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(s, ''),
                              c -> CAST(ascii(c) AS BIGINT))),
             (acc, c) -> (acc * 31 + c) % {p})) AS hashes
  FROM sh WHERE len(shingles) > 0
), sig AS (
  SELECT doc_id,
         [{mins}] AS sig
  FROM h
), b AS (
  SELECT doc_id, UNNEST([{bands}]) AS band FROM sig
)""".rstrip()


def _portable_minhash_oracle() -> str:
    return f"""{portable_minhash_ctes()}
SELECT x.doc_id AS doc_id_a, y.doc_id AS doc_id_b, COUNT(*) AS n_bands
FROM b x JOIN b y ON x.band = y.band AND x.doc_id < y.doc_id
GROUP BY 1, 2
ORDER BY doc_id_a, doc_id_b
"""


@register(
    "q_minhash_portable",
    oracle=_portable_minhash_oracle(),
    doc="MinHash(8)+LSH(4 bands x 2) candidate pairs with an engine-"
    "portable hash family (base-31 polynomial rolling hash mod 1000003 "
    "+ affine permutations — pure arithmetic both engines fold "
    "identically), making the LSH pipeline oracle-checkable end-to-end "
    "(SURVEY.md §2.11). The murmur3 `q_minhash_neardup` is the scale "
    "path; this twin proves the banding/candidate logic exactly.",
)
def q_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return portable_minhash_candidates(docs).orderBy("doc_id_a", "doc_id_b")


@register(
    "q_minhash_portable_stats",
    oracle=f"""{portable_minhash_ctes()},
sk AS (
  SELECT doc_id, array_to_string(sig, '|') AS sig_key FROM sig
), grp AS (
  SELECT sig_key, COUNT(*) AS g FROM sk GROUP BY sig_key
), gb AS (
  SELECT sig_key, g,
         UNNEST([{", ".join(
             f"'{j}-' || string_split(sig_key, '|')[{2 * j + 1}]"
             f" || '-' || string_split(sig_key, '|')[{2 * j + 2}]"
             for j in range(4)
         )}]) AS band
  FROM grp
), inter AS (
  SELECT x.sig_key AS sa, y.sig_key AS sb, COUNT(*) AS nb,
         MAX(x.g) AS ga, MAX(y.g) AS gb2
  FROM gb x JOIN gb y ON x.band = y.band AND x.sig_key < y.sig_key
  GROUP BY 1, 2
), intra AS (
  SELECT COALESCE(CAST(SUM(CAST(g * (g - 1) / 2 AS BIGINT)) AS BIGINT),
                  0) AS intra_pairs
  FROM grp
), inter_agg AS (
  SELECT COALESCE(CAST(SUM(ga * gb2) AS BIGINT), 0) AS inter_pairs,
         COALESCE(CAST(SUM(nb * ga * gb2) AS BIGINT), 0) AS inter_bands
  FROM inter
), ext AS (
  SELECT DISTINCT sig_key FROM (
    SELECT sa AS sig_key FROM inter UNION ALL SELECT sb FROM inter
  )
), docs_in AS (
  SELECT COALESCE(CAST(SUM(g) AS BIGINT), 0) AS n_docs_in_pairs
  FROM grp LEFT JOIN ext USING (sig_key)
  WHERE g >= 2 OR ext.sig_key IS NOT NULL
)
SELECT intra_pairs + inter_pairs AS n_pairs,
       4 * intra_pairs + inter_bands AS sum_bands,
       n_docs_in_pairs
FROM intra, inter_agg, docs_in
""",
    bench=True,
    doc="Corpus-level LSH candidate statistics — the bench twin of "
    "q_minhash_portable, computed WITHOUT enumerating doc pairs: docs "
    "collapse to their full signature first (sf0.1: 5000 docs → 753 "
    "sigs → the 7.7M-row pair shuffle shrinks by the duplication "
    "factor squared), identical-signature pairs count analytically as "
    "C(g,2) x 4 bands, and only distinct signatures enter the band "
    "self-join. The production shape at 100 TB: collapse exact dups "
    "before near-dup work. Oracle replays the collapsed computation "
    "on the same CTE chain.",
)
def q_minhash_portable_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import portable_minhash_pair_stats

    docs = load_table(spark, sf_dir, "documents")
    return portable_minhash_pair_stats(docs)


@register(
    "q_feed_driven_dedup",
    oracle=f"""{portable_minhash_ctes()}
SELECT x.doc_id AS doc_id_a, y.doc_id AS doc_id_b,
       CAST(COUNT(*) AS BIGINT) AS n_bands
FROM b x JOIN b y ON x.band = y.band AND x.doc_id < y.doc_id
WHERE x.doc_id % 4 = 0 OR y.doc_id % 4 = 0
GROUP BY 1, 2
ORDER BY doc_id_a, doc_id_b
""",
    doc="DEDUP AT INGEST off the change feed (r12 — the r11 "
    "q_feed_driven_index pattern applied to the near-dup family): "
    "the base corpus commits to a versioned table and its "
    "MinHash-LSH band index is built ONCE; arrivals land as a MERGE "
    "commit, change_feed(since=base) yields exactly the new "
    "documents, and ONLY THEY are shingled/signed — the expensive "
    "text pass never rescans the base.  New-doc candidates come "
    "from one band-key equi-join of the delta bands against the "
    "(base ∪ delta) index, orientation-canonicalized so "
    "delta-delta pairs count each shared band once.  The oracle is "
    "the FULL-corpus LSH recompute restricted to pairs touching an "
    "arrival — hash-equality proves incremental == full, the same "
    "contract as the incremental IVF-PQ/index rows.  At 100 TB the "
    "per-ingest cost is O(delta·bands) signing plus one "
    "index-sized join, not a corpus rescan.",
)
def q_feed_driven_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _feed_driven_pairs(spark, sf_dir).orderBy(
        "doc_id_a", "doc_id_b"
    )


def _feed_driven_inputs(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Steady-state inputs shared by q_feed_driven_dedup and its stats
    twin: ensure the demo lifecycle ran once (base corpus committed,
    band index persisted, arrivals merged), then return
    ``(base_bands, delta_bands)`` — the persisted index read back as
    parquet, and the O(delta) freshly-signed arrival bands."""
    import shutil

    from ..operators.dedup import (
        _band_keys_from_cols,
        portable_minhash_sig_table,
    )
    from ..operators.scale import spread_cpu_bound
    from ..sinks.versioned import (
        change_feed,
        commit,
        latest_version,
        merge_commit,
        read_version,
    )
    from .pipeline import _versioned_demo_path

    tdir = _versioned_demo_path(sf_dir, "versioned_feeddedup_demo")
    idir = _versioned_demo_path(sf_dir, "versioned_feeddedup_index")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def bands(d: DataFrame) -> DataFrame:
        # a change-feed delta arrives as 1-2 parquet splits, so the
        # CPU-bound shingle/sign pass would run on 1-2 cores no matter
        # the cluster width — spread first (no-op when the input is
        # already wide, i.e. the 100 TB case)
        return portable_minhash_sig_table(spread_cpu_bound(d)).select(
            "doc_id", F.explode(_band_keys_from_cols()).alias("band")
        )

    # one-time setup (the table lifecycle a production pipeline runs
    # ONCE): commit the base corpus, sign it, PERSIST its band index
    # as its own versioned table, then land the arrivals as a merge.
    # Demo dirs are pid-keyed, so repeat invocations in one process
    # (bench's min-of-N) reuse the built tables and measure the real
    # steady-state delta cost — signing only the arrivals — instead
    # of re-signing the base corpus every run (VERDICT r12 task 5).
    try:
        ready = (
            latest_version(tdir) == 1 and latest_version(idir) == 0
        )
    except OSError:
        ready = False
    if not ready:
        shutil.rmtree(tdir, ignore_errors=True)
        shutil.rmtree(idir, ignore_errors=True)
        commit(docs.filter(F.col("doc_id") % 4 != 0), tdir,
               mode="overwrite", note="base", expect_version=None)
        commit(bands(read_version(spark, tdir, 0)), idir,
               mode="overwrite", note="band index @base v0",
               expect_version=None)
        merge_commit(
            spark, tdir, docs.filter(F.col("doc_id") % 4 == 0),
            keys=["doc_id"], note="arrivals",
        )

    # steady state: the base index is a parquet READ, never a re-sign;
    # only the change feed's arrivals are shingled/signed; callers
    # decide whether the 1-2-file index scan needs spreading
    base_bands = read_version(spark, idir, 0)
    delta = change_feed(spark, tdir, since=0).select("doc_id", "text")
    delta_bands = bands(delta)
    return base_bands, delta_bands


def _feed_driven_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared steady-state pipeline of q_feed_driven_dedup:
    persisted base band index + change-feed arrivals →
    canonicalized candidate pairs grouped to (doc_id_a, doc_id_b,
    n_bands), no presentation sort."""
    from ..operators.scale import spread_cpu_bound

    base_bands, delta_bands = _feed_driven_inputs(spark, sf_dir)
    # the persisted index is 1-2 parquet files, so the band join (and
    # its 3.4M-row output at sf0.1) would ride on 1-2 tasks; spread
    # the PROBE side so the join's map work uses the cluster (the
    # delta side broadcasts — it stays tiny by construction).  The
    # stats twin skips this exchange: its only corpus-scale op is a
    # groupBy whose shuffle rebalances anyway.
    index = spread_cpu_bound(base_bands).unionByName(delta_bands)
    x, y = delta_bands.alias("x"), index.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.doc_id") != F.col("y.doc_id")),
        )
        .select(
            F.least("x.doc_id", "y.doc_id").alias("doc_id_a"),
            F.greatest("x.doc_id", "y.doc_id").alias("doc_id_b"),
            F.col("x.band").alias("band"),
        )
    )
    # delta-delta pairs arrive in both orientations with the same
    # shared band key — count_distinct(band) folds them inside the
    # one (doc_id_a, doc_id_b) aggregation instead of a separate
    # whole-set .distinct() exchange (r14: one shuffle, not two)
    return (
        cand.groupBy("doc_id_a", "doc_id_b")
        .agg(
            F.count_distinct("band").cast("bigint").alias("n_bands")
        )
    )


@register(
    "q_feed_driven_dedup_stats",
    oracle=f"""{portable_minhash_ctes()}, pairs AS (
  SELECT x.doc_id AS a, y.doc_id AS b2, COUNT(*) AS n_bands
  FROM b x JOIN b y ON x.band = y.band AND x.doc_id < y.doc_id
  WHERE x.doc_id % 4 = 0 OR y.doc_id % 4 = 0
  GROUP BY 1, 2
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(COALESCE(SUM(n_bands), 0) AS BIGINT) AS sum_bands,
       CAST((SELECT COUNT(DISTINCT d) FROM (
          SELECT a AS d FROM pairs
          UNION ALL SELECT b2 FROM pairs
       )) AS BIGINT) AS n_docs_in_pairs
FROM pairs
""",
    bench=True,
    doc="Bench/stats twin of q_feed_driven_dedup (r14, VERDICT r13 "
    "task 5): the SAME steady-state incremental pipeline — persisted "
    "base band index read back as parquet, change-feed arrivals "
    "signed O(delta), one band equi-join — but the candidate pairs "
    "collapse to THREE aggregate scalars (pair count, shared-band "
    "sum, distinct docs in pairs) instead of materializing and "
    "collecting 3.4M pair rows at sf0.1.  That is the production "
    "consumption shape (a dedup verdict feeds a filter or a sink, "
    "never a driver collect) and makes the engine-side cost of the "
    "feed-driven dedup chain benchable: the r13 recorded ~16 s "
    "steady state was driver-collect-bound, not signing/join-bound. "
    "Oracle: the full-corpus LSH recompute restricted to pairs "
    "touching an arrival, aggregated the same way — hash equality "
    "proves incremental == full at the statistics level.",
)
def q_feed_driven_dedup_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.dedup import _PORTABLE_BANDS

    # r15: collapse docs to SIGNATURE CLASSES before any pair work —
    # the q_minhash_portable_stats move applied to the incremental
    # chain.  A doc's 4 band keys embed its full 8-hash signature, so
    # grouping the (doc_id, band) index by doc and sorting the band
    # list reconstructs the signature class without re-signing
    # anything.  Docs sharing a signature are mutually candidate and
    # share all 4 bands, so their pair contributions are analytic
    # (C(g,2)-style closed forms restricted to pairs touching a delta
    # doc); only DISTINCT signatures enter the band self-join.  The
    # 3.4M-row doc-pair shuffle at sf0.1 becomes a ~750-class join —
    # the shuffle shrinks by the duplication factor squared, and the
    # three output scalars are bit-identical (oracle unchanged:
    # the full-corpus doc-level recompute).
    base_bands, delta_bands = _feed_driven_inputs(spark, sf_dir)
    # the delta flag rides the band union itself (max per doc) — no
    # second change-feed scan, no broadcast join for membership.  No
    # spread_cpu_bound either: the groupBy's shuffle rebalances, and
    # the pre-shuffle map work on the 1-2-file index scan is a bare
    # projection (the pair query spreads because its JOIN probe does
    # real map-side work).
    index = base_bands.withColumn("_d", F.lit(0)).unionByName(
        delta_bands.withColumn("_d", F.lit(1))
    )
    doc_cls = index.groupBy("doc_id").agg(
        F.concat_ws(
            "|", F.array_sort(F.collect_list("band"))
        ).alias("sig_key"),
        F.max("_d").alias("_d"),
    )
    # the class table is duplication-bounded (~750 rows at sf0.1) but
    # feeds FOUR consumer branches (intra, both self-join sides,
    # docs_in) — materialize it once or the whole index-read + delta-
    # signing + doc-groupBy lineage re-executes per branch (the r8
    # "duplicated deep subtrees" lesson; measured ~2x here)
    cls = doc_cls.groupBy("sig_key").agg(
        F.count(F.lit(1)).alias("g_tot"),
        F.coalesce(F.sum("_d"), F.lit(0)).cast("bigint").alias("g_del"),
    ).withColumn(
        "g_base", F.col("g_tot") - F.col("g_del")
    ).localCheckpoint()
    # the sorted sig_key is exactly the doc's 4 band keys — re-derive
    # the class→band table by splitting it (no second index pass)
    cb = cls.select(
        "sig_key",
        "g_tot",
        "g_del",
        "g_base",
        F.explode(F.split(F.col("sig_key"), r"\|")).alias("band"),
    )
    x, y = cb.alias("x"), cb.alias("y")
    inter = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.sig_key") < F.col("y.sig_key")),
        )
        .groupBy(
            F.col("x.sig_key").alias("sa"), F.col("y.sig_key").alias("sb")
        )
        .agg(
            F.count(F.lit(1)).alias("nb"),
            F.max(F.col("x.g_tot")).alias("gat"),
            F.max(F.col("x.g_base")).alias("gab"),
            F.max(F.col("x.g_del")).alias("gad"),
            F.max(F.col("y.g_tot")).alias("gbt"),
            F.max(F.col("y.g_base")).alias("gbb"),
            F.max(F.col("y.g_del")).alias("gbd"),
        )
    ).localCheckpoint()  # consumed by inter_agg + both nbr orientations
    # cross-class doc pairs touching a delta doc: total minus both-base
    qual = F.col("gat") * F.col("gbt") - F.col("gab") * F.col("gbb")
    inter_agg = inter.agg(
        F.coalesce(F.sum(qual), F.lit(0).cast("bigint")).alias(
            "inter_pairs"
        ),
        F.coalesce(
            F.sum(F.col("nb") * qual), F.lit(0).cast("bigint")
        ).alias("inter_bands"),
    )
    # per-class neighbor flags for the distinct-doc count: a DELTA doc
    # is in some pair iff its class has >= 2 members or any band
    # neighbor; a BASE doc iff its class holds a delta sibling or any
    # band-neighbor class holds a delta doc
    nbr = (
        inter.select(
            F.col("sa").alias("sig_key"),
            (F.col("gbd") >= 1).alias("dn"),
        )
        .unionByName(
            inter.select(
                F.col("sb").alias("sig_key"),
                (F.col("gad") >= 1).alias("dn"),
            )
        )
        .groupBy("sig_key")
        .agg(F.max("dn").alias("has_delta_nbr"))
    )
    # ONE pass over cls⋈nbr yields both the intra-class pair counts
    # (every intra pair shares all 4 bands; pairs touching a delta doc
    # = C(g_tot, 2) - C(g_base, 2), total minus both-base) and the
    # distinct-doc count — no separate intra branch/job
    pairs_of = lambda g: F.expr(f"({g} * ({g} - 1)) div 2")  # noqa: E731
    cls_agg = (
        cls.join(nbr, on="sig_key", how="left")
        .select(
            "g_tot",
            "g_base",
            (
                F.col("g_del")
                * F.when(
                    (F.col("g_tot") >= 2)
                    | F.col("has_delta_nbr").isNotNull(),
                    F.lit(1),
                ).otherwise(F.lit(0))
                + F.col("g_base")
                * F.when(
                    (F.col("g_del") >= 1)
                    | F.coalesce(F.col("has_delta_nbr"), F.lit(False)),
                    F.lit(1),
                ).otherwise(F.lit(0))
            ).alias("d_in"),
        )
        .agg(
            F.coalesce(
                F.sum(pairs_of("g_tot") - pairs_of("g_base")),
                F.lit(0).cast("bigint"),
            ).alias("intra_pairs"),
            F.coalesce(F.sum("d_in"), F.lit(0).cast("bigint")).alias(
                "n_docs_in_pairs"
            ),
        )
    )
    return cls_agg.crossJoin(inter_agg).select(
        (F.col("intra_pairs") + F.col("inter_pairs"))
        .cast("bigint")
        .alias("n_pairs"),
        (
            # intra-class pairs share ALL bands by construction (same
            # signature); use the operator's band count, not a literal
            # (ADVICE r15 #2)
            F.lit(_PORTABLE_BANDS) * F.col("intra_pairs")
            + F.col("inter_bands")
        ).cast("bigint").alias("sum_bands"),
        F.col("n_docs_in_pairs").cast("bigint"),
    )


def _simhash_neardup_oracle() -> str:
    """Hash oracle for the xxhash64 SimHash pipeline: the layered XXH64
    generator (functions/hash_oracle.py, bit-exact vs Spark's
    ``F.xxhash64`` seed 42 for the sub-32-byte path; corpus tokens max
    out at 8 bytes) hashes every whitespace token, then 64 per-bit
    majority votes assemble the signature exactly as
    ``simhash_sig_table`` does (bit 63 carries the negative sign
    weight), and the 8-bit-prefix block join + popcount verify replay
    the candidate logic."""
    from ..functions.hash_oracle import xxhash64_ascii_layers

    tok_inner = (
        "SELECT doc_id, UNNEST(string_split_regex(t, "
        "'[ \\t\\n\\r\\f\\x0B]+')) AS tk "
        "FROM (SELECT doc_id, trim(lower(text)) AS t FROM documents "
        "WHERE text IS NOT NULL)"
    )
    th = xxhash64_ascii_layers(tok_inner, "tk", ["doc_id"], out="h")
    bit_terms = "\n         + ".join(
        f"CASE WHEN 2 * o{i} > n THEN "
        f"CAST({2**i if i < 63 else -(2**63)} AS BIGINT) ELSE 0 END"
        for i in range(64)
    )
    ones = ",\n         ".join(
        f"SUM(CAST((hu // {1 << i}) % 2 AS BIGINT)) AS o{i}"
        for i in range(64)
    )
    return f"""
WITH th AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN h < 0 THEN CAST(h AS HUGEINT) + {1 << 64}
              ELSE CAST(h AS HUGEINT) END AS hu
  FROM ({th})
), votes AS MATERIALIZED (
  SELECT doc_id, COUNT(*) AS n,
         {ones}
  FROM th GROUP BY doc_id
), sig AS MATERIALIZED (
  SELECT doc_id,
         ( {bit_terms} ) AS sig
  FROM votes
), blk AS (
  SELECT doc_id, sig,
         (CASE WHEN sig < 0 THEN CAST(sig AS HUGEINT) + {1 << 64}
               ELSE CAST(sig AS HUGEINT) END) // {1 << 56} AS blk
  FROM sig
)
SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
FROM blk a
JOIN blk b ON a.blk = b.blk AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.sig, b.sig)) <= 12
ORDER BY doc_id_a, doc_id_b
"""


@register(
    "q_simhash_neardup",
    oracle=_simhash_neardup_oracle(),
    doc="64-bit SimHash near-dup candidates (hamming ≤ 12, 8-bit prefix "
    "blocking). Hash-oracled despite the engine-specific xxhash64: "
    "functions/hash_oracle.py generates DuckDB SQL computing Spark's "
    "XXH64 (seed 42, sub-32-byte path — corpus tokens max 8 bytes) "
    "bit-exactly, so signatures, blocks, and hamming verify all "
    "value-match (rows-only until round 9).",
)
def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return simhash_candidates(docs).orderBy("doc_id_a", "doc_id_b")


def _portable_simhash_oracle() -> str:
    p, m = _PORTABLE_P, _PORTABLE_SIMHASH_MOD
    bit_terms = "\n         + ".join(
        f"CASE WHEN 2 * len(list_filter(hs, x -> ((x >> {i}) & 1) = 1)) > n"
        f" THEN {2**i} ELSE 0 END"
        for i in range(_PORTABLE_SIMHASH_BITS)
    )
    return f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '[ \\t\\n\\r\\f\\x0B]+'),
                     x -> x <> '') AS toks
  FROM documents
), h AS (
  SELECT doc_id, len(toks) AS n,
         list_transform(toks, s ->
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(s, ''),
                              c -> CAST(ascii(c) AS BIGINT))),
             (acc, c) -> (acc * 31 + c) % {p}) % {m}) AS hs
  FROM t WHERE len(toks) > 0
), sig AS (
  SELECT doc_id,
         ( {bit_terms} ) AS sig
  FROM h
), b AS (
  SELECT doc_id, sig,
         UNNEST(['hi-' || CAST(sig >> 8 AS VARCHAR),
                 'lo-' || CAST(sig & 255 AS VARCHAR)]) AS band
  FROM sig
), cand AS (
  SELECT DISTINCT x.doc_id AS doc_id_a, y.doc_id AS doc_id_b,
         bit_count(CAST(xor(x.sig, y.sig) AS BIGINT)) AS hamming
  FROM b x JOIN b y ON x.band = y.band AND x.doc_id < y.doc_id
)
SELECT doc_id_a, doc_id_b, hamming
FROM cand WHERE hamming <= 3
ORDER BY doc_id_a, doc_id_b
"""


def _dup_clusters_oracle() -> str:
    # reuse the portable-minhash candidate CTEs, then close the pair
    # graph transitively with a recursive CTE and label every node with
    # its component's min id
    base = portable_minhash_ctes()
    return f"""{base},
cand AS (
  SELECT x.doc_id AS a, y.doc_id AS b
  FROM b x JOIN b y ON x.band = y.band AND x.doc_id < y.doc_id
  GROUP BY 1, 2
), sym AS (
  SELECT a, b FROM cand UNION SELECT b, a FROM cand
), reach AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
)
SELECT node, cluster FROM (
  SELECT a AS node, LEAST(a, MIN(b)) AS cluster
  FROM reach GROUP BY a
)
ORDER BY cluster, node
"""


@register(
    "q_dup_clusters",
    oracle="WITH RECURSIVE " + _dup_clusters_oracle().lstrip()[len("WITH "):],
    bench=True,
    doc="Near-dup clusters (SURVEY.md §2.11 connected components): the "
    "portable-MinHash candidate pairs closed transitively — iterative "
    "min-label propagation in Spark (one join+agg per round, converges "
    "in O(component diameter)); recursive-CTE transitive closure in the "
    "DuckDB oracle. Every candidate-pair member is labeled with its "
    "component's min doc_id — the canonical id a dedup keep-policy "
    "keys on.",
)
def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Label propagation runs at the SIGNATURE-CLASS level, not the doc
    # level: docs sharing a full signature are mutual candidates (one
    # clique), and cross-class candidacy is a function of the two sigs
    # alone — so the doc-level candidate graph is exactly the class
    # graph with each node expanded into a clique. Components are
    # preserved; each class node carries its min doc_id as the label,
    # so the final cluster ids equal the doc-level result (the oracle
    # computes the doc-level transitive closure and hash-matches).
    # sf0.1: 7.7M doc edges -> ~100k class edges over 753 nodes.
    from ..operators.dedup import (
        _PORTABLE_PERMS,
        connected_components,
        portable_minhash_sig_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    sig = portable_minhash_sig_table(docs)
    dc = sig.select(
        "doc_id",
        F.concat_ws(
            "|",
            *[F.col(f"m{i}").cast("string") for i in range(len(_PORTABLE_PERMS))],
        ).alias("sig_key"),
    ).localCheckpoint()  # signature pass runs ONCE: both the class table
    # and the final doc labeling join read this materialized (doc_id,
    # sig_key) relation — without it the full MinHash computation over
    # the corpus re-executes for the output join (measured ~2x at sf0.1).
    # At cluster scale this intermediate persists to storage the same way.
    cls = dc.groupBy("sig_key").agg(
        F.min("doc_id").alias("cnode"), F.count(F.lit(1)).alias("g")
    ).localCheckpoint()  # r16: the class table is duplication-bounded
    # (13.9k rows at the 100x corpus) but feeds TWO consumers (the band
    # edge derivation and the final labeling filter); without the
    # checkpoint the 500k-row groupBy over dc re-executes per consumer.
    # Measured same-process: sf0.1 2.47 -> 2.05 s, 100x neutral with a
    # visibly tighter run spread.
    parts = F.split(F.col("sig_key"), r"\|")
    band_keys = F.array(
        *[
            F.concat_ws(
                "-",
                F.lit(str(j)),
                F.element_at(parts, 2 * j + 1),
                F.element_at(parts, 2 * j + 2),
            )
            for j in range(4)
        ]
    )
    b = cls.select("cnode", F.explode(band_keys).alias("band"))
    # r16 (guide §2.3/§3.3 — don't materialize an exploding join): the
    # former band SELF-join emitted every within-band PAIR, i.e.
    # C(k,2) edges per band — 8.2M class edges at the 100x corpus
    # (hot bands shared by thousands of classes), which pushed the
    # component closure itself to ~15 s.  Connectivity only needs a
    # SPANNING set per band: every class sharing a band is mutually a
    # candidate, so connecting each class to its band's MIN class (a
    # star) yields exactly the same connected components — k edges per
    # band instead of C(k,2) (56k vs 8.2M at 100x), and the same node
    # set (a class has a star edge iff its band group has >= 2
    # members, exactly when it had a pair edge).  Cluster labels are
    # the component min, so the query's output is unchanged (oracle
    # hash-verified; the oracle still closes the full pair graph).
    rep = b.groupBy("band").agg(F.min("cnode").alias("src"))
    class_edges = (
        b.join(rep, on="band")
        .filter(F.col("cnode") != F.col("src"))
        .select("src", F.col("cnode").alias("dst"))
        .distinct()
    )
    cc = connected_components(class_edges)  # (node, cluster), edged classes
    edged = cc.withColumnRenamed("node", "cnode")
    # member classes: any class with an edge, or an intra-class clique
    labeled = (
        cls.join(edged, on="cnode", how="left")
        .filter((F.col("g") >= 2) | F.col("cluster").isNotNull())
        .select(
            "sig_key",
            F.coalesce(F.col("cluster"), F.col("cnode")).alias("cluster"),
        )
    )
    return (
        dc.join(labeled, on="sig_key")
        .select(F.col("doc_id").alias("node"), "cluster")
        .orderBy("cluster", "node")
    )


@register(
    "q_simhash_portable",
    oracle=_portable_simhash_oracle(),
    doc="16-bit SimHash near-dup candidates with the engine-portable "
    "rolling hash (majority bit-vote over token hashes, byte-block "
    "candidate generation, exact hamming ≤ 3 verify) — the oracle-"
    "checkable twin of the 64-bit xxhash64 `q_simhash_neardup` scale "
    "path (SURVEY.md §2.11).",
)
def q_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return portable_simhash_candidates(docs).orderBy("doc_id_a", "doc_id_b")


@register(
    "q_embedding_quantize",
    oracle=f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
), s AS (
  SELECT vec_id, emb,
         list_max(list_transform(emb, x -> abs(x))) AS vmax
  FROM e
), qt AS (
  SELECT vec_id, emb,
         list_transform(emb, x -> floor(x * 127 / vmax)) AS q
  FROM s WHERE vmax > 0
), q AS (
  SELECT vec_id AS query_id, emb AS a_emb, q AS a_q
  FROM qt WHERE vec_id IN {_QUERY_IDS}
), pairs AS (
  SELECT q.query_id,
         abs(list_dot_product(q.a_q, c.q)
             / (sqrt(list_dot_product(q.a_q, q.a_q))
                * sqrt(list_dot_product(c.q, c.q)))
             - list_dot_product(q.a_emb, c.emb)
               / (sqrt(list_dot_product(q.a_emb, q.a_emb))
                  * sqrt(list_dot_product(c.emb, c.emb)))) AS err
  FROM q JOIN qt c ON c.vec_id <> q.query_id
)
SELECT query_id, COUNT(*) AS n,
       round(MAX(err), 6) AS max_abs_err,
       MAX(err) < 0.05 AS within_tol
FROM pairs
GROUP BY query_id
ORDER BY query_id
""",
    doc="Int8 embedding quantization (SURVEY.md §2.11 ANN scale path): "
    "per-vector symmetric scaling to [-127, 127] via floor — the 4x "
    "memory/bandwidth trick real vector stores use — with the cosine "
    "error of the quantized representation measured against the exact "
    "float path for every (query, corpus) pair. Emits per-query max "
    "absolute error and a <0.05 verdict; MAX is order-independent, so "
    "the doubles hash-match cross-engine (floor arithmetic is exact, "
    "no rounding-tie ambiguity). Pure codegen'd array expressions.",
)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import as_double, dot

    emb = load_table(spark, sf_dir, "embeddings")
    v = as_double("embedding")
    base = (
        emb.select("vec_id", v.alias("emb"))
        .withColumn("vmax", F.array_max(F.transform("emb", lambda x: F.abs(x))))
        .filter(F.col("vmax") > 0)
        .withColumn(
            "q",
            F.transform(
                "emb", lambda x: F.floor(x * 127.0 / F.col("vmax")).cast("double")
            ),
        )
        .select("vec_id", "emb", "q")
    )
    qside = base.filter(F.col("vec_id").isin(list(_QUERY_IDS))).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("a_emb"),
        F.col("q").alias("a_q"),
    )
    pairs = (
        base.join(F.broadcast(qside), F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "err",
            F.abs(
                dot(F.col("a_q"), F.col("q"))
                / (
                    F.sqrt(dot(F.col("a_q"), F.col("a_q")))
                    * F.sqrt(dot(F.col("q"), F.col("q")))
                )
                - dot(F.col("a_emb"), F.col("emb"))
                / (
                    F.sqrt(dot(F.col("a_emb"), F.col("a_emb")))
                    * F.sqrt(dot(F.col("emb"), F.col("emb")))
                )
            ),
        )
    )
    return (
        pairs.groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.max("err"), 6).alias("max_abs_err"),
            (F.max("err") < 0.05).alias("within_tol"),
        )
        .orderBy("query_id")
    )


_PQ_M, _PQ_SUB = 4, 16
_PQ_CHAIN, _PQ_FINAL = pq_codebooks_sql(m=_PQ_M, sub_dim=_PQ_SUB)

# Train-once/serve-many codebook persistence: Lloyd training runs ONCE
# per fixture (cache keyed by the embeddings file's identity + PQ
# params), lands in parquet via the table sink, and every consumer —
# q_pq_codebooks, q_pq_topk/q_pq_recall, the IVF-PQ composition — reads
# the persisted table (a metadata-sized read: m*k rows) and inlines it
# as literals.  This is the real deployment shape: codebooks are a
# training artifact, not a per-query computation.
_PQ_CACHE_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "data", "cache", "pq_codebooks",
)


def _pq_cache_path(sf_dir: str) -> str:
    src = os.path.join(os.path.abspath(sf_dir), "embeddings.parquet")
    try:
        st = os.stat(src)
        sig = f"{src}|{st.st_size}|{st.st_mtime_ns}|m{_PQ_M}|s{_PQ_SUB}"
    except OSError:
        sig = f"{src}|missing|m{_PQ_M}|s{_PQ_SUB}"
    return os.path.join(
        _PQ_CACHE_ROOT, hashlib.md5(sig.encode()).hexdigest()[:16]
    )


def _pq_codebooks_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted PQ codebooks for ``sf_dir``: train+write on first use
    (the _SUCCESS marker guards against a torn write), plain parquet
    read afterwards.  Parquet round-trips doubles exactly, so consumers
    see bit-identical centroids to a fresh Lloyd run."""
    path = _pq_cache_path(sf_dir)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        cb = pq_codebooks(
            load_table(spark, sf_dir, "embeddings"), m=_PQ_M, sub_dim=_PQ_SUB
        )
        cb.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _pq_codebooks_lit(spark: SparkSession, sf_dir: str) -> dict:
    """Codebooks as a {(subspace, cid): [centroid]} dict for literal
    inlining (m*k tiny rows — metadata-scale collect by design)."""
    return {
        (r["subspace"], r["cid"]): list(r["cemb"])
        for r in _pq_codebooks_df(spark, sf_dir).collect()
    }


# Literal-inlined expressions are generated as SQL TEXT and handed to
# the JVM in one F.expr() parse per column.  Building the same trees
# through the Column API costs thousands of py4j round-trips (one per
# operator node) — measured as the DOMINANT cost of q_pq_topk at sf0.1
# (~7 s of plan construction vs ~1 s of execution).  The SQL spells the
# exact fold `functions.vectors.dot` uses (sequential zip_with multiply
# + left fold over doubles), so values are bit-identical to the Column
# form and to the DuckDB oracle.


def _arr_sql(vals: list) -> str:
    # repr() emits the shortest round-trip decimal; the D suffix makes
    # Spark parse it back to the identical double
    return "array(" + ", ".join(f"{float(v)!r}D" for v in vals) + ")"


def _dot_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, "
        "(acc, x) -> acc + x)"
    )


def _d2_sql(a: str, b: str) -> str:
    """Squared L2 as |a|² - 2a·b + |b|² — same expansion as the Column
    path and the oracle CTEs."""
    return (
        f"({_dot_sql(a, a)} - 2 * {_dot_sql(a, b)} + {_dot_sql(b, b)})"
    )


def _pq_code_sql(sub: str, cents: list[tuple[int, list]]) -> str:
    """Nearest-centroid code for one subspace: array_min over
    (round(d², 6), cid) structs — min distance, then lowest cid.  The
    rule is owned by ``operators.similarity._assign_nearest``, which
    makes every other nearest-centroid choice (and trains the
    codebooks); this literal-SQL twin must stay in step with it."""
    cands = ", ".join(
        f"named_struct('d', round({_d2_sql(sub, _arr_sql(v))}, 6), "
        f"'cid', {cid}L)"
        for cid, v in cents
    )
    return f"array_min(array({cands})).cid"


def _map_sql(cents: list[tuple[int, list]]) -> str:
    return (
        "map("
        + ", ".join(f"{cid}L, {_arr_sql(v)}" for cid, v in cents)
        + ")"
    )

# ADC CTE block shared by q_pq_topk and q_pq_recall: per-subspace slices,
# per-vector code assignment, per-query distance tables, and the summed
# asymmetric distance per (query, vector).
_PQ_ADC_CTES = f"""
vsub AS (
  SELECT vec_id, s.j AS subspace,
         list_slice(emb, s.j * {_PQ_SUB} + 1, (s.j + 1) * {_PQ_SUB}) AS sub
  FROM e, (VALUES (0), (1), (2), (3)) AS s(j)
),
codes AS (
  SELECT vec_id, subspace, cid AS code FROM (
    SELECT v.vec_id, v.subspace, b.cid,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id, v.subspace
             ORDER BY round(list_dot_product(v.sub, v.sub)
                            - 2 * list_dot_product(v.sub, b.cemb)
                            + list_dot_product(b.cemb, b.cemb), 6) ASC,
                      b.cid
           ) AS rn
    FROM vsub v JOIN {_PQ_FINAL} b ON b.subspace = v.subspace
  ) WHERE rn = 1
),
dt AS (
  SELECT q.vec_id AS query_id, b.subspace, b.cid,
         list_dot_product(q.sub, q.sub)
         - 2 * list_dot_product(q.sub, b.cemb)
         + list_dot_product(b.cemb, b.cemb) AS d
  FROM vsub q JOIN {_PQ_FINAL} b ON b.subspace = q.subspace
  WHERE q.vec_id IN {_QUERY_IDS}
),
adc AS (
  SELECT dt.query_id, c.vec_id,
         round(MAX(CASE WHEN c.subspace = 0 THEN d END)
             + MAX(CASE WHEN c.subspace = 1 THEN d END)
             + MAX(CASE WHEN c.subspace = 2 THEN d END)
             + MAX(CASE WHEN c.subspace = 3 THEN d END), 6) AS adc
  FROM codes c JOIN dt ON dt.subspace = c.subspace AND dt.cid = c.code
  GROUP BY dt.query_id, c.vec_id
)"""


@register(
    "q_pq_codebooks",
    oracle=f"""{_PQ_CHAIN}
SELECT CAST(subspace AS BIGINT) AS subspace, cid, u.pos AS pos,
       cemb[u.pos] AS val
FROM {_PQ_FINAL}, UNNEST(range(1, len(cemb) + 1)) AS u(pos)
ORDER BY subspace, cid, pos
""",
    doc="Product-quantization codebook training (SURVEY.md §2.11 ANN "
    "scale path): per-subspace deterministic Lloyd under squared-L2 "
    "(lowest-vec_id init, fixed-point bigint centroid updates) — 4 "
    "subspaces x 16 dims x 4 centroids on the fixture embeddings; at "
    "scale m=8-16, k=256 trained on a sample. Output is the flattened "
    "(subspace, cid, pos, val) codebook, reproduced bit-for-bit by the "
    "oracle's per-subspace recursive CTE chains.",
)
def q_pq_codebooks(spark: SparkSession, sf_dir: str) -> DataFrame:
    cb = _pq_codebooks_df(spark, sf_dir)
    return (
        cb.select(
            F.col("subspace").cast("bigint").alias("subspace"),
            "cid",
            F.posexplode("cemb").alias("pos0", "val"),
        )
        .select(
            "subspace",
            "cid",
            (F.col("pos0") + 1).cast("bigint").alias("pos"),
            "val",
        )
        .orderBy("subspace", "cid", "pos")
    )


@register(
    "q_pq_topk",
    bench=True,
    oracle=f"""{_PQ_CHAIN},{_PQ_ADC_CTES}
SELECT query_id, vec_id, adc, rank FROM (
  SELECT query_id, vec_id, adc,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY adc ASC, vec_id
         ) AS rank
  FROM adc WHERE vec_id <> query_id
) WHERE rank <= 5
ORDER BY query_id, rank
""",
    doc="PQ asymmetric-distance top-k (the ANN answer path over the "
    "compressed representation): every corpus vector is encoded as 4 "
    "centroid codes (4 bytes vs 512 — 128x compression), and each "
    "query ranks the corpus by the sum of per-subspace query-to-"
    "centroid distances looked up by code. The encode is SHUFFLE-FREE "
    "codegen: codebooks are collected (m*k tiny rows — metadata, like "
    "the reference's config probes) and inlined as literal arrays, so "
    "the scan computes codes and ADC in one fused stage; the only "
    "wide op is the per-query top-k window. The oracle re-trains the "
    "same codebooks in recursive CTEs and reproduces codes, distances, "
    "and ranking bit-for-bit.",
)
def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings")
    cb = _pq_codebooks_lit(spark, sf_dir)
    e = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    code_cols = []
    adc_terms = []
    for j in range(_PQ_M):
        sub = f"slice(emb, {j * _PQ_SUB + 1}, {_PQ_SUB})"
        cids = sorted(c for (s, c) in cb if s == j)
        code_cols.append(
            F.expr(_pq_code_sql(sub, [(c, cb[(j, c)]) for c in cids]))
            .alias(f"code{j}")
        )
        lookup = (
            f"element_at({_map_sql([(c, cb[(j, c)]) for c in cids])}, "
            f"code{j})"
        )
        adc_terms.append(
            _d2_sql(f"slice(q_emb, {j * _PQ_SUB + 1}, {_PQ_SUB})", lookup)
        )
    coded = e.select("vec_id", "emb", *code_cols)
    q = e.filter(F.col("vec_id").isin(list(_QUERY_IDS))).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
    )
    pairs = coded.crossJoin(F.broadcast(q)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    ranked = pairs.select(
        "query_id",
        "vec_id",
        F.expr(f"round({' + '.join(adc_terms)}, 6)").alias("adc"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc").asc(), "vec_id")
    return (
        ranked.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .orderBy("query_id", "rank")
    )


@register(
    "q_pq_recall",
    oracle=f"""{_PQ_CHAIN},{_PQ_ADC_CTES},
pqtop AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY adc ASC, vec_id
           ) AS rank
    FROM adc WHERE vec_id <> query_id
  ) WHERE rank <= 5
),
exact AS (
  SELECT query_id, vec_id FROM (
    SELECT q.vec_id AS query_id, v.vec_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY round(list_dot_product(v.emb, v.emb)
                            - 2 * list_dot_product(v.emb, q.emb)
                            + list_dot_product(q.emb, q.emb), 6) ASC,
                      v.vec_id
           ) AS rank
    FROM e v CROSS JOIN (
      SELECT vec_id, emb FROM e WHERE vec_id IN {_QUERY_IDS}
    ) q
    WHERE v.vec_id <> q.vec_id
  ) WHERE rank <= 5
)
SELECT e.query_id,
       CAST(COUNT(p.vec_id) AS BIGINT) AS n_hits,
       round(COUNT(p.vec_id) / 5.0, 6) AS recall_at_5
FROM exact e LEFT JOIN pqtop p USING (query_id, vec_id)
GROUP BY e.query_id
ORDER BY e.query_id
""",
    doc="PQ quality evaluation: recall@5 of the asymmetric-distance "
    "ranking against the exact full-precision squared-L2 top-5 (same "
    "metric, so the number isolates quantization loss — the figure an "
    "ANN deployment tunes m/k against). Exact side is the broadcast "
    "brute-force baseline; PQ side is the compressed-code ranking; "
    "recall is one tiny join of two 15-row tops. Both sides and the "
    "overlap are reproduced bit-for-bit by the oracle.",
)
def q_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..functions.vectors import dot as _dot

    pq = (
        q_pq_topk(spark, sf_dir)
        .select("query_id", "vec_id")
        .withColumn("hit", F.lit(1))
    )
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    q = e.filter(F.col("vec_id").isin(list(_QUERY_IDS))).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
    )
    d2 = F.round(
        _dot(F.col("emb"), F.col("emb"))
        - 2 * _dot(F.col("emb"), F.col("q_emb"))
        + _dot(F.col("q_emb"), F.col("q_emb")),
        6,
    )
    w = Window.partitionBy("query_id").orderBy(F.col("d2").asc(), "vec_id")
    exact = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("d2", d2)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "vec_id")
    )
    return (
        exact.join(pq, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("hit").alias("n_hits"),
            F.round(F.count("hit") / F.lit(5.0), 6).alias("recall_at_5"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# IVF-PQ — the composed ANN architecture (coarse cells + compressed codes)
# ---------------------------------------------------------------------------

_IVFPQ_CELLS, _IVFPQ_NPROBE = 4, 2

# Coarse-quantizer CTEs shared by q_ann_ivfpq and q_ivfpq_recall:
# deterministic centroids (lowest-vec_id vectors), per-vector cell
# assignment and per-query nprobe cell probing, both under the same
# round(squared-L2, 6) ASC + cid tie-break the PQ stages use.
_IVFPQ_CTES = f"""
ccent AS (
  SELECT vec_id AS ccid, emb AS ccemb FROM e
  ORDER BY vec_id LIMIT {_IVFPQ_CELLS}
),
vcell AS (
  SELECT vec_id, ccid AS cell FROM (
    SELECT v.vec_id, c.ccid,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY round(list_dot_product(v.emb, v.emb)
                            - 2 * list_dot_product(v.emb, c.ccemb)
                            + list_dot_product(c.ccemb, c.ccemb), 6) ASC,
                      c.ccid
           ) AS rn
    FROM e v CROSS JOIN ccent c
  ) WHERE rn = 1
),
qprobe AS (
  SELECT query_id, cell FROM (
    SELECT q.vec_id AS query_id, c.ccid AS cell,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY round(list_dot_product(q.emb, q.emb)
                            - 2 * list_dot_product(q.emb, c.ccemb)
                            + list_dot_product(c.ccemb, c.ccemb), 6) ASC,
                      c.ccid
           ) AS rn
    FROM e q CROSS JOIN ccent c
    WHERE q.vec_id IN {_QUERY_IDS}
  ) WHERE rn <= {_IVFPQ_NPROBE}
),
ivtop AS (
  SELECT query_id, vec_id, adc, rank FROM (
    SELECT a.query_id, a.vec_id, a.adc,
           ROW_NUMBER() OVER (
             PARTITION BY a.query_id ORDER BY a.adc ASC, a.vec_id
           ) AS rank
    FROM adc a
    JOIN vcell ON vcell.vec_id = a.vec_id
    JOIN qprobe ON qprobe.query_id = a.query_id
              AND qprobe.cell = vcell.cell
    WHERE a.vec_id <> a.query_id
  ) WHERE rank <= 5
)"""


def _ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed top-5 (shared by q_ann_ivfpq / q_ivfpq_recall).
    All literal-inlined stages are generated SQL text (see _d2_sql) —
    one F.expr parse per column instead of thousands of py4j calls."""
    from pyspark.sql.window import Window

    cb = _pq_codebooks_lit(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )

    # coarse quantizer: K lowest-vec_id vectors collected driver-side
    # (K tiny rows — metadata-scale, like the persisted codebooks) and
    # inlined as literals → cell assignment is shuffle-free, one scan
    cents = [
        (int(r["vec_id"]), list(r["emb"]))
        for r in e.orderBy("vec_id").limit(_IVFPQ_CELLS).collect()
    ]
    cell_expr = F.expr(_pq_code_sql("emb", cents))

    # PQ codes from the PERSISTED codebooks, literal-inlined — the
    # corpus row that reaches the candidate join is (vec_id, cell,
    # 4 codes): the full-precision vector never crosses a shuffle
    code_cols, adc_terms = [], []
    for j in range(_PQ_M):
        sub = f"slice(emb, {j * _PQ_SUB + 1}, {_PQ_SUB})"
        cents_j = [(c, cb[(j, c)]) for c in sorted(c for (s, c) in cb if s == j)]
        code_cols.append(
            F.expr(_pq_code_sql(sub, cents_j)).alias(f"code{j}")
        )
        adc_terms.append(
            _d2_sql(
                f"slice(q_emb, {j * _PQ_SUB + 1}, {_PQ_SUB})",
                f"element_at({_map_sql(cents_j)}, code{j})",
            )
        )
    coded = e.select("vec_id", cell_expr.alias("cell"), *code_cols)

    # queries probe their nprobe nearest cells: array_sort over the K
    # literal centroid distances — no shuffle, no corpus join
    probe_cands = ", ".join(
        f"named_struct('d', round({_d2_sql('q_emb', _arr_sql(v))}, 6), "
        f"'cid', {cid}L)"
        for cid, v in cents
    )
    probed = (
        e.filter(F.col("vec_id").isin(list(_QUERY_IDS)))
        .select(F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb"))
        .select(
            "query_id",
            "q_emb",
            F.explode(
                F.expr(
                    f"slice(array_sort(array({probe_cands})), 1, "
                    f"{_IVFPQ_NPROBE})"
                )
            ).alias("pc"),
        )
        .select("query_id", "q_emb", F.col("pc.cid").alias("cell"))
    )

    # candidate pruning: equi-join on the cell id — only vectors in a
    # probed cell are ADC-ranked (~nprobe/K of the corpus per query)
    cands = coded.join(F.broadcast(probed), on="cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    adc_sum = F.expr(f"round({' + '.join(adc_terms)}, 6)")
    w = Window.partitionBy("query_id").orderBy(F.col("adc").asc(), "vec_id")
    return (
        cands.select("query_id", "vec_id", adc_sum.alias("adc"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .orderBy("query_id", "rank")
    )


@register(
    "q_ann_ivfpq",
    oracle=f"""{_PQ_CHAIN},{_PQ_ADC_CTES},{_IVFPQ_CTES}
SELECT query_id, vec_id, adc, rank FROM ivtop
ORDER BY query_id, rank
""",
    doc="IVF-PQ composed ANN (the architecture every 100 TB vector "
    "store deploys — FAISS IVFADC shape): a coarse quantizer assigns "
    "every vector to one of 4 cells, vectors are stored as 4 PQ codes "
    "from the PERSISTED codebooks (train-once parquet artifact), and "
    "each query probes its 2 nearest cells, ranking only that slice "
    "by asymmetric distance (per-subspace query-to-centroid lookups). "
    "Both quantizers are literal-inlined (K + m*k metadata rows), so "
    "cell assignment AND encode are one shuffle-free codegen scan; "
    "candidate pruning is a broadcast equi-join on the cell id — no "
    "corpus self-join, no full-corpus ADC: the plan touches "
    "~nprobe/K of the codes per query and the only wide op is the "
    "per-query top-k window. The oracle re-derives cells, codes, and "
    "ADC in CTEs and reproduces the ranking bit-for-bit.",
    bench=True,  # r7: first sf0.1 trend anchor (VERDICT r6 task 9)
)
def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ivfpq_topk(spark, sf_dir)


@register(
    "q_ivfpq_recall",
    oracle=f"""{_PQ_CHAIN},{_PQ_ADC_CTES},{_IVFPQ_CTES},
exact AS (
  SELECT query_id, vec_id FROM (
    SELECT q.vec_id AS query_id, v.vec_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY round(list_dot_product(v.emb, v.emb)
                            - 2 * list_dot_product(v.emb, q.emb)
                            + list_dot_product(q.emb, q.emb), 6) ASC,
                      v.vec_id
           ) AS rank
    FROM e v CROSS JOIN (
      SELECT vec_id, emb FROM e WHERE vec_id IN {_QUERY_IDS}
    ) q
    WHERE v.vec_id <> q.vec_id
  ) WHERE rank <= 5
)
SELECT e.query_id,
       CAST(COUNT(p.vec_id) AS BIGINT) AS n_hits,
       round(COUNT(p.vec_id) / 5.0, 6) AS recall_at_5
FROM exact e LEFT JOIN ivtop p USING (query_id, vec_id)
GROUP BY e.query_id
ORDER BY e.query_id
""",
    doc="IVF-PQ quality evaluation: recall@5 of the composed "
    "cells+codes ranking against the exact full-precision squared-L2 "
    "top-5 — isolates the combined loss of cell pruning (a true "
    "neighbor in an unprobed cell is unreachable) and code "
    "quantization, the figure a deployment tunes K/nprobe/m against "
    "(q_pq_recall isolates the quantization term alone). Exact side "
    "is the broadcast brute-force baseline; recall is one tiny join "
    "of two 15-row tops. Reproduced bit-for-bit by the oracle.",
)
def q_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    iv = (
        _ivfpq_topk(spark, sf_dir)
        .select("query_id", "vec_id")
        .withColumn("hit", F.lit(1))
    )
    from pyspark.sql.window import Window

    from ..functions.vectors import dot as _dot

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    q = e.filter(F.col("vec_id").isin(list(_QUERY_IDS))).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
    )
    d2 = F.round(
        _dot(F.col("emb"), F.col("emb"))
        - 2 * _dot(F.col("emb"), F.col("q_emb"))
        + _dot(F.col("q_emb"), F.col("q_emb")),
        6,
    )
    w = Window.partitionBy("query_id").orderBy(F.col("d2").asc(), "vec_id")
    exact = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("d2", d2)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "vec_id")
    )
    return (
        exact.join(iv, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("hit").alias("n_hits"),
            F.round(F.count("hit") / F.lit(5.0), 6).alias("recall_at_5"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Incremental IVF-PQ maintenance (r11) — encode DELTA vectors against
# the PERSISTED (base-trained) artifacts and append to the code table,
# no retraining: the missing incremental twin in the family where
# dedup/index/manifest/CMS/HLL each have one.
# ---------------------------------------------------------------------------

#: the delta slice: every 4th vector "arrives later"
_IVFPQ_DELTA_MOD = 4

_IVFPQ_BASE_PRELUDE = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
), ebase AS (
  SELECT * FROM e WHERE vec_id % 4 <> 0
)"""

_PQB_CHAIN, _PQB_FINAL = pq_codebooks_sql(
    m=_PQ_M, sub_dim=_PQ_SUB,
    prelude=_IVFPQ_BASE_PRELUDE, source="ebase", tag="b",
)


def _pq_base_cache_path(sf_dir: str) -> str:
    src = os.path.join(os.path.abspath(sf_dir), "embeddings.parquet")
    try:
        st = os.stat(src)
        sig = (
            f"{src}|{st.st_size}|{st.st_mtime_ns}|m{_PQ_M}|s{_PQ_SUB}"
            f"|base{_IVFPQ_DELTA_MOD}"
        )
    except OSError:
        sig = f"{src}|missing|m{_PQ_M}|s{_PQ_SUB}|base{_IVFPQ_DELTA_MOD}"
    return os.path.join(
        _PQ_CACHE_ROOT, hashlib.md5(sig.encode()).hexdigest()[:16]
    )


def _pq_codebooks_base_lit(spark: SparkSession, sf_dir: str) -> dict:
    """Codebooks trained on the BASE slice only (vec_id % 4 != 0),
    persisted like _pq_codebooks_df — the artifact incremental
    maintenance encodes against."""
    path = _pq_base_cache_path(sf_dir)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        base = load_table(spark, sf_dir, "embeddings").filter(
            F.col("vec_id") % _IVFPQ_DELTA_MOD != 0
        )
        pq_codebooks(base, m=_PQ_M, sub_dim=_PQ_SUB).write.mode(
            "overwrite"
        ).parquet(path)
    return {
        (r["subspace"], r["cid"]): list(r["cemb"])
        for r in spark.read.parquet(path).collect()
    }


@register(
    "q_ivfpq_incremental",
    oracle=f"""{_PQB_CHAIN},
vsubb AS (
  SELECT vec_id, s.j AS subspace,
         list_slice(emb, s.j * {_PQ_SUB} + 1, (s.j + 1) * {_PQ_SUB}) AS sub
  FROM e, (VALUES (0), (1), (2), (3)) AS s(j)
),
codesb AS (
  SELECT vec_id, subspace, cid AS code FROM (
    SELECT v.vec_id, v.subspace, b.cid,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id, v.subspace
             ORDER BY round(list_dot_product(v.sub, v.sub)
                            - 2 * list_dot_product(v.sub, b.cemb)
                            + list_dot_product(b.cemb, b.cemb), 6) ASC,
                      b.cid
           ) AS rn
    FROM vsubb v JOIN {_PQB_FINAL} b ON b.subspace = v.subspace
  ) WHERE rn = 1
),
dtb AS (
  SELECT q.vec_id AS query_id, b.subspace, b.cid,
         list_dot_product(q.sub, q.sub)
         - 2 * list_dot_product(q.sub, b.cemb)
         + list_dot_product(b.cemb, b.cemb) AS d
  FROM vsubb q JOIN {_PQB_FINAL} b ON b.subspace = q.subspace
  WHERE q.vec_id IN {_QUERY_IDS}
),
adcb AS (
  SELECT dtb.query_id, c.vec_id,
         round(MAX(CASE WHEN c.subspace = 0 THEN d END)
             + MAX(CASE WHEN c.subspace = 1 THEN d END)
             + MAX(CASE WHEN c.subspace = 2 THEN d END)
             + MAX(CASE WHEN c.subspace = 3 THEN d END), 6) AS adc
  FROM codesb c JOIN dtb ON dtb.subspace = c.subspace AND dtb.cid = c.code
  GROUP BY dtb.query_id, c.vec_id
),
ccentb AS (
  SELECT vec_id AS ccid, emb AS ccemb FROM ebase
  ORDER BY vec_id LIMIT {_IVFPQ_CELLS}
),
vcellb AS (
  SELECT vec_id, ccid AS cell FROM (
    SELECT v.vec_id, c.ccid,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY round(list_dot_product(v.emb, v.emb)
                            - 2 * list_dot_product(v.emb, c.ccemb)
                            + list_dot_product(c.ccemb, c.ccemb), 6) ASC,
                      c.ccid
           ) AS rn
    FROM e v CROSS JOIN ccentb c
  ) WHERE rn = 1
),
qprobeb AS (
  SELECT query_id, cell FROM (
    SELECT q.vec_id AS query_id, c.ccid AS cell,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY round(list_dot_product(q.emb, q.emb)
                            - 2 * list_dot_product(q.emb, c.ccemb)
                            + list_dot_product(c.ccemb, c.ccemb), 6) ASC,
                      c.ccid
           ) AS rn
    FROM e q CROSS JOIN ccentb c
    WHERE q.vec_id IN {_QUERY_IDS}
  ) WHERE rn <= {_IVFPQ_NPROBE}
)
SELECT query_id, vec_id, adc, rank FROM (
  SELECT a.query_id, a.vec_id, a.adc,
         ROW_NUMBER() OVER (
           PARTITION BY a.query_id ORDER BY a.adc ASC, a.vec_id
         ) AS rank
  FROM adcb a
  JOIN vcellb ON vcellb.vec_id = a.vec_id
  JOIN qprobeb ON qprobeb.query_id = a.query_id
             AND qprobeb.cell = vcellb.cell
  WHERE a.vec_id <> a.query_id
) WHERE rank <= 5
ORDER BY query_id, rank
""",
    doc="INCREMENTAL IVF-PQ maintenance (r11, the verdict's standing "
    "ask — the missing incremental twin in the family where "
    "dedup/inverted-index/manifest/CMS/HLL each have one): codebooks "
    "and coarse centroids are trained ONCE on the base slice "
    "(vec_id % 4 != 0) and persisted; when the delta slice arrives, "
    "its vectors are encoded against those persisted artifacts in "
    "one shuffle-free scan and APPENDED to the code table — no "
    "retraining, base codes untouched (retraining would rewrite "
    "every stored code; this is how FAISS/Milvus serve streaming "
    "inserts).  The query path then runs the standard probe+ADC "
    "top-5 over the unioned index.  The oracle is the FULL REBUILD: "
    "train on base, encode the whole corpus in one pass, same "
    "probe+ADC — the hash match proves append-encode ≡ rebuild "
    "given the same artifacts, i.e. the maintenance path loses "
    "nothing (same top-5 → same recall@5).  Parity + plan shape "
    "pinned in tests/test_plans.py.",
)
def q_ivfpq_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    cb = _pq_codebooks_base_lit(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    base = e.filter(F.col("vec_id") % _IVFPQ_DELTA_MOD != 0)
    delta = e.filter(F.col("vec_id") % _IVFPQ_DELTA_MOD == 0)

    # coarse centroids from the BASE slice (persisted-artifact stand-in:
    # K tiny rows, metadata-scale collect)
    cents = [
        (int(r["vec_id"]), list(r["emb"]))
        for r in base.orderBy("vec_id").limit(_IVFPQ_CELLS).collect()
    ]
    cell_expr = F.expr(_pq_code_sql("emb", cents))
    code_cols, adc_terms = [], []
    for j in range(_PQ_M):
        sub = f"slice(emb, {j * _PQ_SUB + 1}, {_PQ_SUB})"
        cents_j = [
            (c, cb[(j, c)]) for c in sorted(c for (s, c) in cb if s == j)
        ]
        code_cols.append(
            F.expr(_pq_code_sql(sub, cents_j)).alias(f"code{j}")
        )
        adc_terms.append(
            _d2_sql(
                f"slice(q_emb, {j * _PQ_SUB + 1}, {_PQ_SUB})",
                f"element_at({_map_sql(cents_j)}, code{j})",
            )
        )

    def encode(df: DataFrame) -> DataFrame:
        return df.select("vec_id", cell_expr.alias("cell"), *code_cols)

    # the incremental append: base codes computed once (in production,
    # read back from the stored index), delta encoded against the SAME
    # persisted artifacts and unioned in
    index = encode(base).unionByName(encode(delta))

    probe_cands = ", ".join(
        f"named_struct('d', round({_d2_sql('q_emb', _arr_sql(v))}, 6), "
        f"'cid', {cid}L)"
        for cid, v in cents
    )
    probed = (
        e.filter(F.col("vec_id").isin(list(_QUERY_IDS)))
        .select(
            F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
        )
        .select(
            "query_id",
            "q_emb",
            F.explode(
                F.expr(
                    f"slice(array_sort(array({probe_cands})), 1, "
                    f"{_IVFPQ_NPROBE})"
                )
            ).alias("pc"),
        )
        .select("query_id", "q_emb", F.col("pc.cid").alias("cell"))
    )
    cands = index.join(F.broadcast(probed), on="cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    adc_sum = F.expr(f"round({' + '.join(adc_terms)}, 6)")
    w = Window.partitionBy("query_id").orderBy(F.col("adc").asc(), "vec_id")
    return (
        cands.select("query_id", "vec_id", adc_sum.alias("adc"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# Residual IVF-PQ — the full FAISS-style IVFADC: PQ over coarse-cell
# residuals (x - centroid), query distance tables per probed cell.
# ---------------------------------------------------------------------------

# Shared prelude: coarse cells + the residual relation r(vec_id, cell,
# emb = x - centroid).  Everything downstream (codebook training, codes,
# ADC) runs over residuals — the quantizer spends its precision on the
# within-cell remainder instead of re-encoding cell-scale structure.
_IVFPQ_RES_PRELUDE = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
), ccent AS (
  SELECT vec_id AS ccid, emb AS ccemb FROM e
  ORDER BY vec_id LIMIT {_IVFPQ_CELLS}
), vcell AS (
  SELECT vec_id, ccid AS cell FROM (
    SELECT v.vec_id, c.ccid,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY round(list_dot_product(v.emb, v.emb)
                            - 2 * list_dot_product(v.emb, c.ccemb)
                            + list_dot_product(c.ccemb, c.ccemb), 6) ASC,
                      c.ccid
           ) AS rn
    FROM e v CROSS JOIN ccent c
  ) WHERE rn = 1
), r AS (
  SELECT e.vec_id, vc.cell,
         list_transform(range(1, len(e.emb) + 1),
                        i -> e.emb[i] - cc.ccemb[i]) AS emb
  FROM e
  JOIN vcell vc USING (vec_id)
  JOIN ccent cc ON cc.ccid = vc.cell
)"""

_PQR_CHAIN, _PQR_FINAL = pq_codebooks_sql(
    m=_PQ_M, sub_dim=_PQ_SUB, prelude=_IVFPQ_RES_PRELUDE, source="r",
    tag="r",
)

_IVFPQ_RES_ADC = f""",
vsubr AS (
  SELECT vec_id, s.j AS subspace,
         list_slice(emb, s.j * {_PQ_SUB} + 1, (s.j + 1) * {_PQ_SUB}) AS sub
  FROM r, (VALUES (0), (1), (2), (3)) AS s(j)
),
codesr AS (
  SELECT vec_id, subspace, cid AS code FROM (
    SELECT v.vec_id, v.subspace, b.cid,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id, v.subspace
             ORDER BY round(list_dot_product(v.sub, v.sub)
                            - 2 * list_dot_product(v.sub, b.cemb)
                            + list_dot_product(b.cemb, b.cemb), 6) ASC,
                      b.cid
           ) AS rn
    FROM vsubr v JOIN {_PQR_FINAL} b ON b.subspace = v.subspace
  ) WHERE rn = 1
),
qprobe AS (
  SELECT query_id, cell FROM (
    SELECT q.vec_id AS query_id, c.ccid AS cell,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY round(list_dot_product(q.emb, q.emb)
                            - 2 * list_dot_product(q.emb, c.ccemb)
                            + list_dot_product(c.ccemb, c.ccemb), 6) ASC,
                      c.ccid
           ) AS rn
    FROM e q CROSS JOIN ccent c
    WHERE q.vec_id IN {_QUERY_IDS}
  ) WHERE rn <= {_IVFPQ_NPROBE}
),
qres AS (
  SELECT p.query_id, p.cell,
         list_transform(range(1, len(q.emb) + 1),
                        i -> q.emb[i] - cc.ccemb[i]) AS qr
  FROM qprobe p
  JOIN e q ON q.vec_id = p.query_id
  JOIN ccent cc ON cc.ccid = p.cell
),
qsubr AS (
  SELECT query_id, cell, s.j AS subspace,
         list_slice(qr, s.j * {_PQ_SUB} + 1, (s.j + 1) * {_PQ_SUB}) AS sub
  FROM qres, (VALUES (0), (1), (2), (3)) AS s(j)
),
dtr AS (
  SELECT qs.query_id, qs.cell, qs.subspace, b.cid,
         list_dot_product(qs.sub, qs.sub)
         - 2 * list_dot_product(qs.sub, b.cemb)
         + list_dot_product(b.cemb, b.cemb) AS d
  FROM qsubr qs JOIN {_PQR_FINAL} b ON b.subspace = qs.subspace
),
adcr AS (
  SELECT dtr.query_id, c.vec_id,
         round(MAX(CASE WHEN c.subspace = 0 THEN d END)
             + MAX(CASE WHEN c.subspace = 1 THEN d END)
             + MAX(CASE WHEN c.subspace = 2 THEN d END)
             + MAX(CASE WHEN c.subspace = 3 THEN d END), 6) AS adc
  FROM codesr c
  JOIN vcell vc ON vc.vec_id = c.vec_id
  JOIN dtr ON dtr.cell = vc.cell AND dtr.subspace = c.subspace
          AND dtr.cid = c.code
  GROUP BY dtr.query_id, c.vec_id
)"""


def _coarse_cents(spark: SparkSession, sf_dir: str) -> list:
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    return [
        (int(r["vec_id"]), list(r["emb"]))
        for r in e.orderBy("vec_id").limit(_IVFPQ_CELLS).collect()
    ]


def _residual_corpus(
    spark: SparkSession, sf_dir: str, cents: list
) -> DataFrame:
    """(vec_id, cell, embedding = x - centroid_of_cell): the IVFADC
    training/encode substrate.  Cell assignment and the elementwise
    subtract are literal-inlined codegen — one scan, no shuffle."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    e2 = e.select(
        "vec_id", "emb", F.expr(_pq_code_sql("emb", cents)).alias("cell")
    )
    res = F.expr(
        f"zip_with(emb, element_at({_map_sql(cents)}, cell), "
        "(x, y) -> x - y)"
    )
    return e2.select("vec_id", "cell", res.alias("embedding"))


def _pq_res_codebooks_lit(spark: SparkSession, sf_dir: str) -> dict:
    """Persisted RESIDUAL codebooks (train-once, tag 'res'), as a
    {(subspace, cid): [centroid]} dict for literal inlining."""
    path = _pq_cache_path(sf_dir) + "-res"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        cents = _coarse_cents(spark, sf_dir)
        cb = pq_codebooks(
            _residual_corpus(spark, sf_dir, cents),
            m=_PQ_M,
            sub_dim=_PQ_SUB,
        )
        cb.write.mode("overwrite").parquet(path)
    return {
        (r["subspace"], r["cid"]): list(r["cemb"])
        for r in spark.read.parquet(path).collect()
    }


@register(
    "q_ann_ivfpq_res",
    oracle=f"""{_PQR_CHAIN}{_IVFPQ_RES_ADC}
SELECT query_id, vec_id, adc, rank FROM (
  SELECT query_id, vec_id, adc,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY adc ASC, vec_id
         ) AS rank
  FROM adcr WHERE vec_id <> query_id
) WHERE rank <= 5
ORDER BY query_id, rank
""",
    doc="RESIDUAL IVF-PQ — the full FAISS IVFADC architecture: PQ "
    "codebooks are trained on coarse-cell residuals (x - centroid), "
    "so the 4 codes spend their precision on the within-cell "
    "remainder instead of re-encoding cell-scale structure (the "
    "refinement that makes IVFADC beat raw-subvector PQ at equal "
    "bytes); queries build a distance table PER PROBED CELL from "
    "their own residual against that cell's centroid. Training is "
    "train-once/persisted (tag 'res'); encode and cell assignment "
    "stay literal-inlined single-scan; candidate pruning is the same "
    "broadcast cell equi-join as q_ann_ivfpq. The oracle re-derives "
    "cells, residuals, codebooks, codes, and per-cell distance "
    "tables in CTEs and reproduces the ranking bit-for-bit.",
)
def q_ann_ivfpq_res(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    cents = _coarse_cents(spark, sf_dir)
    cb = _pq_res_codebooks_lit(spark, sf_dir)
    r = _residual_corpus(spark, sf_dir, cents)

    code_cols, adc_terms = [], []
    for j in range(_PQ_M):
        sub = f"slice(embedding, {j * _PQ_SUB + 1}, {_PQ_SUB})"
        cents_j = [
            (c, cb[(j, c)]) for c in sorted(c for (s, c) in cb if s == j)
        ]
        code_cols.append(
            F.expr(_pq_code_sql(sub, cents_j)).alias(f"code{j}")
        )
        adc_terms.append(
            _d2_sql(
                f"slice(qr, {j * _PQ_SUB + 1}, {_PQ_SUB})",
                f"element_at({_map_sql(cents_j)}, code{j})",
            )
        )
    coded = r.select("vec_id", "cell", *code_cols)

    # probe: nprobe nearest cells per query, then the query's residual
    # AGAINST EACH PROBED CELL — both literal-inlined, no corpus join
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    probe_cands = ", ".join(
        f"named_struct('d', round({_d2_sql('q_emb', _arr_sql(v))}, 6), "
        f"'cid', {cid}L)"
        for cid, v in cents
    )
    probed = (
        e.filter(F.col("vec_id").isin(list(_QUERY_IDS)))
        .select(F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb"))
        .select(
            "query_id",
            "q_emb",
            F.explode(
                F.expr(
                    f"slice(array_sort(array({probe_cands})), 1, "
                    f"{_IVFPQ_NPROBE})"
                )
            ).alias("pc"),
        )
        .select("query_id", "q_emb", F.col("pc.cid").alias("cell"))
        .withColumn(
            "qr",
            F.expr(
                f"zip_with(q_emb, element_at({_map_sql(cents)}, cell), "
                "(x, y) -> x - y)"
            ),
        )
        .select("query_id", "cell", "qr")
    )

    cands = coded.join(F.broadcast(probed), on="cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    adc = F.expr(f"round({' + '.join(adc_terms)}, 6)")
    w = Window.partitionBy("query_id").orderBy(F.col("adc").asc(), "vec_id")
    return (
        cands.select("query_id", "vec_id", adc.alias("adc"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .orderBy("query_id", "rank")
    )


@register(
    "q_ivfpq_res_recall",
    oracle=f"""{_PQR_CHAIN}{_IVFPQ_RES_ADC},
ivtopr AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY adc ASC, vec_id
           ) AS rank
    FROM adcr WHERE vec_id <> query_id
  ) WHERE rank <= 5
),
exact AS (
  SELECT query_id, vec_id FROM (
    SELECT q.vec_id AS query_id, v.vec_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY round(list_dot_product(v.emb, v.emb)
                            - 2 * list_dot_product(v.emb, q.emb)
                            + list_dot_product(q.emb, q.emb), 6) ASC,
                      v.vec_id
           ) AS rank
    FROM e v CROSS JOIN (
      SELECT vec_id, emb FROM e WHERE vec_id IN {_QUERY_IDS}
    ) q
    WHERE v.vec_id <> q.vec_id
  ) WHERE rank <= 5
)
SELECT e.query_id,
       CAST(COUNT(p.vec_id) AS BIGINT) AS n_hits,
       round(COUNT(p.vec_id) / 5.0, 6) AS recall_at_5
FROM exact e LEFT JOIN ivtopr p USING (query_id, vec_id)
GROUP BY e.query_id
ORDER BY e.query_id
""",
    doc="Residual-IVFPQ quality evaluation: recall@5 of the IVFADC "
    "ranking against the exact full-precision squared-L2 top-5 — "
    "the number that shows whether residual encoding recovers "
    "accuracy lost by raw-subvector PQ at the same code budget "
    "(compare against q_ivfpq_recall). Measured finding on the "
    "synthetic fixtures: residuals do NOT beat raw subvectors here, "
    "because the generated embeddings are isotropic — there is no "
    "cell-scale structure for the coarse quantizer to remove, so "
    "subtracting an arbitrary lowest-id centroid only inflates "
    "residual variance. On real clustered embeddings (and with "
    "k-means coarse centroids) the ordering reverses; having BOTH "
    "evals is what lets a deployment see that on its own data. "
    "Reproduced bit-for-bit by the oracle.",
)
def q_ivfpq_res_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    iv = (
        q_ann_ivfpq_res(spark, sf_dir)
        .select("query_id", "vec_id")
        .withColumn("hit", F.lit(1))
    )
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    q = e.filter(F.col("vec_id").isin(list(_QUERY_IDS))).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
    )
    d2 = F.round(
        F.expr(_dot_sql("emb", "emb"))
        - 2 * F.expr(_dot_sql("emb", "q_emb"))
        + F.expr(_dot_sql("q_emb", "q_emb")),
        6,
    )
    w = Window.partitionBy("query_id").orderBy(F.col("d2").asc(), "vec_id")
    exact = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("d2", d2)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "vec_id")
    )
    return (
        exact.join(iv, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("hit").alias("n_hits"),
            F.round(F.count("hit") / F.lit(5.0), 6).alias("recall_at_5"),
        )
        .orderBy("query_id")
    )


# --- incremental maintenance for the RESIDUAL variant (r11): the
# same append-without-retraining contract as q_ivfpq_incremental, but
# for the full IVFADC stack — coarse centroids AND residual codebooks
# are base-trained artifacts; delta vectors get cell-assigned and
# residual-encoded against them.

_IVFPQ_RES_BASE_PRELUDE = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
), ebase AS (
  SELECT * FROM e WHERE vec_id % {_IVFPQ_DELTA_MOD} <> 0
), ccentb AS (
  SELECT vec_id AS ccid, emb AS ccemb FROM ebase
  ORDER BY vec_id LIMIT {_IVFPQ_CELLS}
), vcellb AS (
  SELECT vec_id, ccid AS cell FROM (
    SELECT v.vec_id, c.ccid,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY round(list_dot_product(v.emb, v.emb)
                            - 2 * list_dot_product(v.emb, c.ccemb)
                            + list_dot_product(c.ccemb, c.ccemb), 6) ASC,
                      c.ccid
           ) AS rn
    FROM e v CROSS JOIN ccentb c
  ) WHERE rn = 1
), rall AS (
  SELECT e.vec_id, vc.cell,
         list_transform(range(1, len(e.emb) + 1),
                        i -> e.emb[i] - cc.ccemb[i]) AS emb
  FROM e
  JOIN vcellb vc USING (vec_id)
  JOIN ccentb cc ON cc.ccid = vc.cell
), rbase AS (
  SELECT * FROM rall WHERE vec_id % {_IVFPQ_DELTA_MOD} <> 0
)"""

_PQRB_CHAIN, _PQRB_FINAL = pq_codebooks_sql(
    m=_PQ_M, sub_dim=_PQ_SUB,
    prelude=_IVFPQ_RES_BASE_PRELUDE, source="rbase", tag="rb",
)


def _pq_res_base_cache_path(sf_dir: str) -> str:
    return _pq_base_cache_path(sf_dir) + "-res"


def _pq_res_codebooks_base_lit(spark: SparkSession, sf_dir: str) -> tuple:
    """(coarse base centroids, residual codebooks dict) — both trained
    on the base slice only, persisted like every other artifact."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % _IVFPQ_DELTA_MOD != 0)
    e = base.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    cents = [
        (int(r["vec_id"]), list(r["emb"]))
        for r in e.orderBy("vec_id").limit(_IVFPQ_CELLS).collect()
    ]
    path = _pq_res_base_cache_path(sf_dir)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        rbase = (
            e.select(
                "vec_id", "emb",
                F.expr(_pq_code_sql("emb", cents)).alias("cell"),
            )
            .select(
                "vec_id",
                F.expr(
                    f"zip_with(emb, element_at({_map_sql(cents)}, cell),"
                    " (x, y) -> x - y)"
                ).alias("embedding"),
            )
        )
        pq_codebooks(rbase, m=_PQ_M, sub_dim=_PQ_SUB).write.mode(
            "overwrite"
        ).parquet(path)
    cb = {
        (r["subspace"], r["cid"]): list(r["cemb"])
        for r in spark.read.parquet(path).collect()
    }
    return cents, cb


@register(
    "q_ivfpq_res_incremental",
    oracle=f"""{_PQRB_CHAIN},
vsubrb AS (
  SELECT vec_id, s.j AS subspace,
         list_slice(emb, s.j * {_PQ_SUB} + 1, (s.j + 1) * {_PQ_SUB}) AS sub
  FROM rall, (VALUES (0), (1), (2), (3)) AS s(j)
),
codesrb AS (
  SELECT vec_id, subspace, cid AS code FROM (
    SELECT v.vec_id, v.subspace, b.cid,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id, v.subspace
             ORDER BY round(list_dot_product(v.sub, v.sub)
                            - 2 * list_dot_product(v.sub, b.cemb)
                            + list_dot_product(b.cemb, b.cemb), 6) ASC,
                      b.cid
           ) AS rn
    FROM vsubrb v JOIN {_PQRB_FINAL} b ON b.subspace = v.subspace
  ) WHERE rn = 1
),
qprobeb AS (
  SELECT query_id, cell FROM (
    SELECT q.vec_id AS query_id, c.ccid AS cell,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY round(list_dot_product(q.emb, q.emb)
                            - 2 * list_dot_product(q.emb, c.ccemb)
                            + list_dot_product(c.ccemb, c.ccemb), 6) ASC,
                      c.ccid
           ) AS rn
    FROM e q CROSS JOIN ccentb c
    WHERE q.vec_id IN {_QUERY_IDS}
  ) WHERE rn <= {_IVFPQ_NPROBE}
),
qresb AS (
  SELECT p.query_id, p.cell,
         list_transform(range(1, len(q.emb) + 1),
                        i -> q.emb[i] - cc.ccemb[i]) AS qr
  FROM qprobeb p
  JOIN e q ON q.vec_id = p.query_id
  JOIN ccentb cc ON cc.ccid = p.cell
),
qsubrb AS (
  SELECT query_id, cell, s.j AS subspace,
         list_slice(qr, s.j * {_PQ_SUB} + 1, (s.j + 1) * {_PQ_SUB}) AS sub
  FROM qresb, (VALUES (0), (1), (2), (3)) AS s(j)
),
dtrb AS (
  SELECT qs.query_id, qs.cell, qs.subspace, b.cid,
         list_dot_product(qs.sub, qs.sub)
         - 2 * list_dot_product(qs.sub, b.cemb)
         + list_dot_product(b.cemb, b.cemb) AS d
  FROM qsubrb qs JOIN {_PQRB_FINAL} b ON b.subspace = qs.subspace
),
adcrb AS (
  SELECT dtrb.query_id, c.vec_id,
         round(MAX(CASE WHEN c.subspace = 0 THEN d END)
             + MAX(CASE WHEN c.subspace = 1 THEN d END)
             + MAX(CASE WHEN c.subspace = 2 THEN d END)
             + MAX(CASE WHEN c.subspace = 3 THEN d END), 6) AS adc
  FROM codesrb c
  JOIN vcellb vc ON vc.vec_id = c.vec_id
  JOIN dtrb ON dtrb.cell = vc.cell AND dtrb.subspace = c.subspace
           AND dtrb.cid = c.code
  GROUP BY dtrb.query_id, c.vec_id
)
SELECT query_id, vec_id, adc, rank FROM (
  SELECT query_id, vec_id, adc,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY adc ASC, vec_id
         ) AS rank
  FROM adcrb WHERE vec_id <> query_id
) WHERE rank <= 5
ORDER BY query_id, rank
""",
    doc="INCREMENTAL maintenance for RESIDUAL IVF-PQ (r11 — the "
    "IVFADC twin of q_ivfpq_incremental, completing the incremental "
    "family for BOTH ANN variants): coarse centroids and residual "
    "codebooks are trained once on the base slice and persisted; "
    "arriving delta vectors are cell-assigned against the frozen "
    "centroids, residual-encoded against the frozen codebooks in one "
    "shuffle-free scan, and appended to the code table — base codes "
    "untouched.  Queries probe nprobe cells and rank by per-probed-"
    "cell residual distance tables over the unioned index.  The "
    "oracle is the full rebuild with the same base-trained artifacts "
    "— the hash match proves append-encode ≡ rebuild for the "
    "residual pipeline too.",
)
def q_ivfpq_res_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    cents, cb = _pq_res_codebooks_base_lit(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )

    def residualize(df: DataFrame) -> DataFrame:
        return (
            df.select(
                "vec_id", "emb",
                F.expr(_pq_code_sql("emb", cents)).alias("cell"),
            )
            .select(
                "vec_id", "cell",
                F.expr(
                    f"zip_with(emb, element_at({_map_sql(cents)}, cell),"
                    " (x, y) -> x - y)"
                ).alias("embedding"),
            )
        )

    code_cols, adc_terms = [], []
    for j in range(_PQ_M):
        sub = f"slice(embedding, {j * _PQ_SUB + 1}, {_PQ_SUB})"
        cents_j = [
            (c, cb[(j, c)]) for c in sorted(c for (s, c) in cb if s == j)
        ]
        code_cols.append(
            F.expr(_pq_code_sql(sub, cents_j)).alias(f"code{j}")
        )
        adc_terms.append(
            _d2_sql(
                f"slice(qr, {j * _PQ_SUB + 1}, {_PQ_SUB})",
                f"element_at({_map_sql(cents_j)}, code{j})",
            )
        )

    def encode(df: DataFrame) -> DataFrame:
        return residualize(df).select("vec_id", "cell", *code_cols)

    base = e.filter(F.col("vec_id") % _IVFPQ_DELTA_MOD != 0)
    delta = e.filter(F.col("vec_id") % _IVFPQ_DELTA_MOD == 0)
    index = encode(base).unionByName(encode(delta))

    probe_cands = ", ".join(
        f"named_struct('d', round({_d2_sql('q_emb', _arr_sql(v))}, 6), "
        f"'cid', {cid}L)"
        for cid, v in cents
    )
    probed = (
        e.filter(F.col("vec_id").isin(list(_QUERY_IDS)))
        .select(
            F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
        )
        .select(
            "query_id",
            "q_emb",
            F.explode(
                F.expr(
                    f"slice(array_sort(array({probe_cands})), 1, "
                    f"{_IVFPQ_NPROBE})"
                )
            ).alias("pc"),
        )
        .select("query_id", "q_emb", F.col("pc.cid").alias("cell"))
        .withColumn(
            "qr",
            F.expr(
                f"zip_with(q_emb, element_at({_map_sql(cents)}, cell), "
                "(x, y) -> x - y)"
            ),
        )
        .select("query_id", "cell", "qr")
    )
    cands = index.join(F.broadcast(probed), on="cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    adc = F.expr(f"round({' + '.join(adc_terms)}, 6)")
    w = Window.partitionBy("query_id").orderBy(F.col("adc").asc(), "vec_id")
    return (
        cands.select("query_id", "vec_id", adc.alias("adc"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .orderBy("query_id", "rank")
    )


_SEMDEDUP_THR = 0.35


@register(
    "q_semantic_dedup",
    oracle=f"""{_KM_CHAIN},
sd_n AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
),
sd_c AS (
  SELECT cid, cemb, sqrt(list_dot_product(cemb, cemb)) AS cnorm
  FROM {_KM_FINAL}
),
sd_a AS (
  SELECT vec_id, emb, vnorm, cid, ccos FROM (
    SELECT v.vec_id, v.emb,
           sqrt(list_dot_product(v.emb, v.emb)) AS vnorm,
           c.cid,
           round(list_dot_product(v.emb, c.cemb)
                 / (sqrt(list_dot_product(v.emb, v.emb)) * c.cnorm),
                 6) AS ccos,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY round(list_dot_product(v.emb, c.cemb)
                            / (sqrt(list_dot_product(v.emb, v.emb))
                               * c.cnorm), 6) DESC, c.cid
           ) AS rn
    FROM sd_n v CROSS JOIN sd_c c
  ) WHERE rn = 1
),
sd_p AS (
  SELECT x.vec_id AS va, y.vec_id AS vb, x.ccos AS ca, y.ccos AS cb
  FROM sd_a x JOIN sd_a y
    ON x.cid = y.cid AND x.vec_id < y.vec_id
  WHERE round(list_dot_product(x.emb, y.emb) / (x.vnorm * y.vnorm), 6)
        >= {_SEMDEDUP_THR}
),
sd_drop AS (
  SELECT DISTINCT CASE WHEN cb > ca THEN va ELSE vb END AS vec_id
  FROM sd_p
)
SELECT a.vec_id, a.cid, a.ccos AS cos_centroid,
       (d.vec_id IS NULL) AS kept
FROM sd_a a LEFT JOIN sd_drop d ON d.vec_id = a.vec_id
ORDER BY a.vec_id
""",
    doc="SemDeDup (Abbas et al. 2023) — semantic corpus dedup, the "
    "cluster-then-prune published recipe composed from existing green "
    "operators: the fixed-point Lloyd's k-means (q_kmeans_centroids) "
    "partitions the embedding space, and within each cluster every "
    f"vector with a cosine>= {_SEMDEDUP_THR} neighbor closer to the "
    "centroid is dropped (tie -> lowest vec_id survives) — paraphrase "
    "families collapse to their most-central member while cross-"
    "cluster lookalikes are never even compared.  Pair generation is "
    "cluster-bounded (corpus^2/k, the paper's scaling knob; never an "
    "all-pairs join), centroids broadcast, and every cosine rounds "
    "before comparison so the survivor set is partition-order-"
    "independent and oracle-exact.  Threshold fits the synthetic "
    "corpus's similarity range (real near-dup corpora use ~0.95+).",
    bench=True,
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    # train-once/serve-many: the persisted IVF codebook IS the
    # SemDeDup partitioner (same k/n_iter) — inline retraining cost
    # the r6 ANN plan 9 shuffles/6 scans; the serving plan reads the
    # k-row artifact instead
    cent = ivf_trained_centroids(spark, sf_dir)
    return semantic_dedup(
        emb, centroids=cent, threshold=_SEMDEDUP_THR
    )


_HN_DUP_THR = 0.35  # near-dup band: anything >= is too close to train on
_HN_K = 3


@register(
    "q_hard_negatives",
    oracle=f"""
WITH c AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, emb AS q_emb
  FROM c WHERE vec_id IN {_QUERY_IDS}
), sims AS (
  SELECT q.query_id, c.vec_id,
         round(list_dot_product(q.q_emb, c.emb)
               / (sqrt(list_dot_product(q.q_emb, q.q_emb))
                  * sqrt(list_dot_product(c.emb, c.emb))), 6) AS cosine
  FROM c, q
  WHERE c.vec_id <> q.query_id
), ranked AS (
  SELECT query_id, vec_id, cosine,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, vec_id
         ) AS rank
  FROM sims
  WHERE cosine < {_HN_DUP_THR}
)
SELECT query_id, vec_id, cosine, rank
FROM ranked WHERE rank <= {_HN_K}
ORDER BY query_id, rank
""",
    doc="DPR-style hard-negative mining (Karpukhin et al. 2020) — the "
    "contrastive-training data op the similarity stack exists to "
    "serve: for each query vector, the MOST similar corpus vectors "
    "that are still BELOW the near-dup band "
    f"(cosine < {_HN_DUP_THR}, the q_embedding_neardup threshold) — "
    "close enough to be hard, far enough to be true negatives; a "
    "near-dup mined as a negative would teach the model to push "
    "apart paraphrases.  Same broadcast-query brute-force shape as "
    "q_cosine_topk with the dup-band filter BEFORE ranking, so the "
    "composition of the two stacks (retrieval similarity + dedup "
    "threshold) is itself hash-pinned.  The IVF path swaps in for "
    "the scan at corpus scale (same probe machinery).",
)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..functions.vectors import dot, norm

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    ).withColumn("nrm", F.sqrt(dot(F.col("emb"), F.col("emb"))))
    q = (
        e.filter(F.col("vec_id").isin(list(_QUERY_IDS)))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("emb").alias("q_emb"),
            F.col("nrm").alias("q_nrm"),
        )
    )
    sims = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                dot(F.col("emb"), F.col("q_emb"))
                / (F.col("nrm") * F.col("q_nrm")),
                6,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") < _HN_DUP_THR)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _HN_K)
        .orderBy("query_id", "rank")
    )


_EVAL_SAMPLE_PRED = "doc_id % 17 = 0 AND doc_id < 8704"


@register(
    "q_minhash_recall_eval",
    oracle=f"""{portable_minhash_ctes().replace(
        "FROM documents",
        "FROM documents WHERE " + _EVAL_SAMPLE_PRED)},
jpairs AS (
  SELECT x.doc_id AS doc_id_a, y.doc_id AS doc_id_b,
         CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
           / (len(x.shingles) + len(y.shingles)
              - len(list_intersect(x.shingles, y.shingles))) AS jacc
  FROM sh x JOIN sh y ON x.doc_id < y.doc_id
),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_id_a, y.doc_id AS doc_id_b
  FROM b x JOIN b y ON x.band = y.band AND x.doc_id < y.doc_id
),
flagged AS (
  SELECT j.doc_id_a, j.doc_id_b, j.jacc,
         c.doc_id_a IS NOT NULL AS is_cand
  FROM jpairs j LEFT JOIN cand c
    ON c.doc_id_a = j.doc_id_a AND c.doc_id_b = j.doc_id_b
)
SELECT CAST(SUM(CASE WHEN jacc >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_truth,
       CAST(SUM(CASE WHEN is_cand THEN 1 ELSE 0 END) AS BIGINT)
         AS n_cand,
       CAST(SUM(CASE WHEN is_cand AND jacc >= 0.5 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_tp,
       CASE WHEN SUM(CASE WHEN jacc >= 0.5 THEN 1 ELSE 0 END) > 0
            THEN CAST(SUM(CASE WHEN is_cand AND jacc >= 0.5
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / SUM(CASE WHEN jacc >= 0.5 THEN 1 ELSE 0 END) END
         AS recall,
       CASE WHEN SUM(CASE WHEN is_cand THEN 1 ELSE 0 END) > 0
            THEN CAST(SUM(CASE WHEN is_cand AND jacc >= 0.5
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / SUM(CASE WHEN is_cand THEN 1 ELSE 0 END) END
         AS precision
FROM flagged
""",
    doc="Measured LSH recall/precision (SURVEY.md §2.11 dedup "
    "evaluation): on a DETERMINISTIC BOUNDED eval sample (doc_id%17==0 "
    "and doc_id<17*512 — at most 512 docs, <=131k pairs at ANY corpus "
    "size), exact 3-char-shingle Jaccard over all sample pairs is the "
    "ground truth and the portable-MinHash band candidates are the "
    "prediction; the one-row report gives n_truth / n_cand / n_tp and "
    "recall/precision at Jaccard>=0.5.  Band candidacy is a pure "
    "function of each pair's signatures, so within-sample candidacy "
    "equals full-pipeline candidacy restricted to the sample — the "
    "number this query prints IS the production blocker's recall.  "
    "This is how you tune bands/hashes empirically instead of "
    "trusting the collision-probability formula.  Plan: the all-pairs "
    "step exists ONLY inside the O(1)-bounded sample (documented, "
    "never corpus-wide); everything else is the linear band join.",
)
def q_minhash_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import (
        encoded_shingles,
        portable_minhash_candidates,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.expr(_EVAL_SAMPLE_PRED)
    )
    sh = docs.filter(F.length(F.lower("text")) >= 3).select(
        "doc_id", encoded_shingles("text", 3).alias("shingles")
    )
    a = sh.select(
        F.col("doc_id").alias("doc_id_a"), F.col("shingles").alias("sh_a")
    )
    b = sh.select(
        F.col("doc_id").alias("doc_id_b"), F.col("shingles").alias("sh_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jacc = inter.cast("double") / (
        F.size("sh_a") + F.size("sh_b") - inter
    )
    jpairs = (
        F.broadcast(a)
        .join(b, F.col("doc_id_a") < F.col("doc_id_b"))
        .select("doc_id_a", "doc_id_b", jacc.alias("jacc"))
    )
    cand = portable_minhash_candidates(docs).select(
        "doc_id_a", "doc_id_b", F.lit(True).alias("is_cand")
    )
    flagged = jpairs.join(cand, ["doc_id_a", "doc_id_b"], "left").select(
        "jacc", F.coalesce("is_cand", F.lit(False)).alias("is_cand")
    )
    truth = F.sum(F.when(F.col("jacc") >= 0.5, 1).otherwise(0))
    ncand = F.sum(F.when(F.col("is_cand"), 1).otherwise(0))
    tp = F.sum(
        F.when(F.col("is_cand") & (F.col("jacc") >= 0.5), 1).otherwise(0)
    )
    return flagged.agg(
        truth.cast("bigint").alias("n_truth"),
        ncand.cast("bigint").alias("n_cand"),
        tp.cast("bigint").alias("n_tp"),
        F.when(truth > 0, tp.cast("double") / truth).alias("recall"),
        F.when(ncand > 0, tp.cast("double") / ncand).alias("precision"),
    )


_MRL_DIMS = (4, 8, 16)
_MRL_K = 5


def _mrl_rank_cte(d: int | None, name: str) -> str:
    sl = f"emb[1:{d}]" if d else "emb"
    return f"""{name} AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, c.vec_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.query_id
             ORDER BY round(list_dot_product(q.q_emb[1:{d or 64}], c.{sl})
               / (sqrt(list_dot_product(q.q_emb[1:{d or 64}],
                                        q.q_emb[1:{d or 64}]))
                  * sqrt(list_dot_product(c.{sl}, c.{sl}))), 6) DESC,
               c.vec_id
           ) AS rank
    FROM c, q WHERE c.vec_id <> q.query_id
  ) WHERE rank <= {_MRL_K}
)"""


def _mrl_oracle() -> str:
    ctes = [
        """c AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
)""",
        f"""q AS (
  SELECT vec_id AS query_id, emb AS q_emb FROM c WHERE vec_id IN {_QUERY_IDS}
)""",
        _mrl_rank_cte(None, "full_k"),
    ]
    selects = []
    for d in _MRL_DIMS:
        ctes.append(_mrl_rank_cte(d, f"k{d}"))
        selects.append(
            f"SELECT {d} AS dim, f.query_id,\n"
            f"       CAST(COUNT(t.vec_id) AS BIGINT) AS n_overlap\n"
            f"FROM full_k f LEFT JOIN k{d} t\n"
            f"  ON t.query_id = f.query_id AND t.vec_id = f.vec_id\n"
            f"GROUP BY f.query_id"
        )
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY dim, query_id"
    )


@register(
    "q_matryoshka_recall",
    oracle=_mrl_oracle(),
    doc="Matryoshka-truncation recall eval (MRL, Kusupati et al.): "
    "how much of the FULL-dimension exact top-5 survives when the "
    "64-d embeddings are truncated to their first 4/8/16 dims — the "
    "measurement that decides how far a nested-representation index "
    "can shrink its fast first-stage vectors.  Same brute-force "
    "contract as q_cosine_topk (3 broadcast queries, sequential-fold "
    "doubles, round+id tie-break), re-ranked per truncation; overlap "
    "counted against the full-dim ranking.  Plan: eval-bounded (3 "
    "queries x 4 rankings); the corpus streams once per ranking with "
    "no self-join — at index scale the truncated pass is the IVF "
    "coarse stage, which q_ann_ivf* already covers.",
)
def q_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import as_double

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("emb")
    )
    queries = emb.filter(F.col("vec_id").isin(list(_QUERY_IDS))).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
    )

    from pyspark.sql.window import Window

    def topk(d: int | None):
        qe = F.slice("q_emb", 1, d) if d else F.col("q_emb")
        ce = F.slice("emb", 1, d) if d else F.col("emb")
        dot = F.aggregate(
            F.zip_with(qe, ce, lambda x, y: x * y),
            F.lit(0.0), lambda acc, x: acc + x,
        )
        nq = F.sqrt(F.aggregate(
            F.zip_with(qe, qe, lambda x, y: x * y),
            F.lit(0.0), lambda acc, x: acc + x,
        ))
        nc = F.sqrt(F.aggregate(
            F.zip_with(ce, ce, lambda x, y: x * y),
            F.lit(0.0), lambda acc, x: acc + x,
        ))
        sims = (
            emb.crossJoin(F.broadcast(queries))
            .filter(F.col("vec_id") != F.col("query_id"))
            .select(
                "query_id", "vec_id",
                F.round(dot / (nq * nc), 6).alias("cosine"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), "vec_id"
        )
        return (
            sims.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= _MRL_K)
            .select("query_id", "vec_id")
        )

    full_k = topk(None).localCheckpoint()
    out = None
    for d in _MRL_DIMS:
        t = topk(d).withColumnRenamed("vec_id", "t_vec")
        ov = (
            full_k.join(
                t,
                (t["query_id"] == full_k["query_id"])
                & (t["t_vec"] == full_k["vec_id"]),
                "left",
            )
            .groupBy(full_k["query_id"].alias("query_id"))
            .agg(F.count(t["t_vec"]).cast("bigint").alias("n_overlap"))
            .select(F.lit(d).cast("int").alias("dim"), "query_id", "n_overlap")
        )
        out = ov if out is None else out.unionByName(ov)
    return out.orderBy("dim", "query_id")


def _dedup_policy_oracle() -> str:
    base = portable_minhash_ctes()
    return f"""WITH RECURSIVE {base.lstrip()[len("WITH "):]},
cand AS (
  SELECT x.doc_id AS a, y.doc_id AS b
  FROM b x JOIN b y ON x.band = y.band AND x.doc_id < y.doc_id
  GROUP BY 1, 2
), sym AS (
  SELECT a, b FROM cand UNION SELECT b, a FROM cand
), reach AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
), labels AS (
  SELECT a AS node, LEAST(a, MIN(b)) AS cluster FROM reach GROUP BY a
), fp AS (
  SELECT doc_id,
         md5(lower(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g'))) AS fp
  FROM documents
), ex AS (
  SELECT fp, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n
  FROM fp GROUP BY fp
), exm AS (
  SELECT f.doc_id, e.keep_doc_id, e.n FROM fp f JOIN ex e USING (fp)
)
SELECT d.doc_id,
       CASE WHEN exm.n > 1 AND d.doc_id <> exm.keep_doc_id
              THEN 'exact_dup'
            WHEN l.cluster IS NOT NULL AND d.doc_id <> l.cluster
              THEN 'near_dup'
            ELSE 'kept' END AS reason,
       CASE WHEN exm.n > 1 AND d.doc_id <> exm.keep_doc_id
              THEN exm.keep_doc_id
            WHEN l.cluster IS NOT NULL AND d.doc_id <> l.cluster
              THEN l.cluster
            ELSE d.doc_id END AS canonical_id
FROM documents d
JOIN exm ON exm.doc_id = d.doc_id
LEFT JOIN labels l ON l.node = d.doc_id
ORDER BY d.doc_id
"""


@register(
    "q_dedup_policy",
    oracle=_dedup_policy_oracle(),
    doc="The production keep/drop decision table — the capstone that "
    "composes the dedup stack into one verdict per document: exact "
    "dups (q_dedup_exact's normalized fingerprint) drop to their "
    "min-id canonical FIRST, then MinHash near-dup cluster members "
    "(q_dup_clusters' connected components) drop to their cluster "
    "canonical, everything else keeps itself.  Precedence is pinned "
    "identically in both engines (exact beats near).  This is the "
    "table a corpus-build job anti-joins against — the single "
    "artifact downstream of the whole dedup family.  Plan: exact arm "
    "is one fingerprint shuffle; near arm is the q_dup_clusters "
    "pipeline (signature classes, banded candidates, O(log d) CC); "
    "the final assembly is two doc_id-keyed joins.",
)
def q_dedup_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import exact_dedup, fingerprint

    docs = load_table(spark, sf_dir, "documents")
    near = (
        _REGISTRY["q_dup_clusters"].fn(spark, sf_dir)
        .select(F.col("node").alias("doc_id"), "cluster")
    )
    fp = docs.select("doc_id", fingerprint("text").alias("fp"))
    ex = exact_dedup(docs)
    exm = fp.join(
        ex.select("fp", "keep_doc_id", F.col("n_copies").alias("n")), "fp"
    )
    joined = (
        docs.select("doc_id")
        .join(exm, "doc_id")
        .join(near, "doc_id", "left")
    )
    is_exact = (F.col("n") > 1) & (F.col("doc_id") != F.col("keep_doc_id"))
    is_near = F.col("cluster").isNotNull() & (
        F.col("doc_id") != F.col("cluster")
    )
    return joined.select(
        "doc_id",
        F.when(is_exact, "exact_dup")
        .when(is_near, "near_dup")
        .otherwise("kept")
        .alias("reason"),
        F.when(is_exact, F.col("keep_doc_id"))
        .when(is_near, F.col("cluster"))
        .otherwise(F.col("doc_id"))
        .alias("canonical_id"),
    ).orderBy("doc_id")


@register(
    "q_minhash_incremental",
    oracle=f"""{portable_minhash_ctes()}
SELECT DISTINCT x.doc_id AS doc_id_a, y.doc_id AS doc_id_b
FROM b x JOIN b y ON x.band = y.band AND x.doc_id < y.doc_id
ORDER BY doc_id_a, doc_id_b
""",
    doc="INCREMENTAL near-dup candidate generation — the merge "
    "identity for the MinHash index (the q_index_delta_merge pattern "
    "applied to dedup): the corpus splits into a base (doc_id%4!=0) "
    "whose exploded band table is the persisted prior-run artifact, "
    "and a delta batch that signatures ONLY itself and band-joins "
    "against base+delta bands; base-internal pairs carry over "
    "unchanged.  The oracle recomputes candidates from the FULL "
    "corpus in one shot, so the hash pass IS the proof that "
    "incremental == full — no base re-signaturing, the property that "
    "turns O(corpus) per ingest batch into O(batch).  Plan: delta "
    "sig/explode + one band hash join; the base band table streams "
    "from its (persisted) relation exactly once.",
)
def q_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import (
        minhash_incremental_pairs,
        portable_minhash_band_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    base_bands = portable_minhash_band_table(
        docs.filter(F.col("doc_id") % 4 != 0)
    )
    delta_bands = portable_minhash_band_table(
        docs.filter(F.col("doc_id") % 4 == 0)
    )
    return minhash_incremental_pairs(base_bands, delta_bands).orderBy(
        "doc_id_a", "doc_id_b"
    )


# ---------------------------------------------------------------------------
# Principal component by exact fixed-point power iteration — dimension
# reduction / embedding diagnostics without a linear-algebra library,
# and (unlike eigh) SQL-replayable: every step is integer arithmetic.
# ---------------------------------------------------------------------------

_PCA_XQ_SHIFT = 10  # embedding quantization: xq = round(x * 2^10)
_PCA_V_SHIFT = 20  # iterate normalization scale
_PCA_ROUNDS = 16
_PCA_DIM = 64


def _pca_oracle() -> str:
    rounds = []
    for r in range(_PCA_ROUNDS):
        rounds.append(f""", mv{r} AS MATERIALIZED (
  SELECT c.i, CAST(SUM(c.c * v.vq) AS BIGINT) AS mv
  FROM cov c JOIN v{r} v ON v.i = c.j
  GROUP BY c.i
), v{r + 1} AS MATERIALIZED (
  SELECT i,
         CAST(mv // ((SELECT MAX(abs(mv)) FROM mv{r})
                     // {1 << _PCA_V_SHIFT} + 1) AS BIGINT) AS vq
  FROM mv{r}
)""")
    last = f"v{_PCA_ROUNDS}"
    return f"""
WITH xq AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE)
                                        * {1 << _PCA_XQ_SHIFT}) AS BIGINT))
           AS q
  FROM embeddings
), cells AS (
  SELECT u.i AS i, w.j AS j, q[u.i + 1] * q[w.j + 1] AS p
  FROM xq,
       UNNEST(range({_PCA_DIM})) u(i),
       UNNEST(range({_PCA_DIM})) w(j)
), cov AS MATERIALIZED (
  SELECT i, j, CAST(SUM(p) AS BIGINT) AS c FROM cells GROUP BY i, j
), v0 AS (
  SELECT CAST(u.i AS BIGINT) AS i,
         CAST({1 << _PCA_V_SHIFT} AS BIGINT) AS vq
  FROM UNNEST(range({_PCA_DIM})) u(i)
){"".join(rounds)},
istar AS (
  SELECT i FROM {last}
  ORDER BY abs(vq) DESC, i LIMIT 1
), lam AS (
  SELECT CAST(m.mv // v.vq AS BIGINT) AS lambda_q
  FROM istar
  JOIN mv{_PCA_ROUNDS - 1} m ON m.i = istar.i
  JOIN {last} v ON v.i = istar.i
)
SELECT v.i AS dim, v.vq AS v_q, lam.lambda_q
FROM {last} v CROSS JOIN lam
ORDER BY dim
"""


@register(
    "q_pca_power",
    oracle=_pca_oracle(),
    doc="Top principal component of the embedding corpus by EXACT "
    "fixed-point power iteration — embedding diagnostics (dominant "
    "variance direction; anisotropy check before cosine retrieval) "
    "with zero linear-algebra dependencies and, unlike eigh, full SQL "
    "replayability: embeddings quantize to 2^10 integers, the d×d "
    "Gram matrix accumulates as exact bigint sums (one d²-key shuffle "
    "with map-side combine — each partition collapses to ≤4096 rows "
    "before the exchange), and 16 unrolled iterations of v ← Cv with "
    "max-abs renormalization stay in bigints (sign-following integer "
    "division identical in both engines).  The eigenvalue estimate is "
    "the exact quotient (Cv)_i / v_i at the arg-max-|v| dimension — "
    "no float anywhere, so the oracle matches bit-for-bit rather "
    "than within tolerance.  Bound: |Σ_j C_ij v_j| < 2^63 holds to "
    "~10^5 corpus rows per Gram cell at this quantization (divide-"
    "first normalization keeps iterates in range); larger corpora "
    "rescale the Gram matrix by a power of two first.",
)
def q_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as _W

    emb = load_table(spark, sf_dir, "embeddings")
    d = _PCA_DIM
    xq = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.round(
                x.cast("double") * (1 << _PCA_XQ_SHIFT)
            ).cast("bigint"),
        ).alias("q"),
    )
    cells = (
        xq.select(
            F.explode(F.sequence(F.lit(0), F.lit(d - 1))).alias("i"), "q"
        )
        .select(
            "i",
            F.posexplode("q").alias("j", "qj"),
            F.element_at("q", F.col("i") + 1).alias("qi"),
        )
        .select(
            F.col("i").cast("bigint").alias("i"),
            F.col("j").cast("bigint").alias("j"),
            (F.col("qi") * F.col("qj")).alias("p"),
        )
    )
    cov = (
        cells.groupBy("i", "j")
        .agg(F.sum("p").cast("bigint").alias("c"))
        .localCheckpoint()
    )
    v = spark.createDataFrame(
        [(i, 1 << _PCA_V_SHIFT) for i in range(d)], "i bigint, vq bigint"
    )
    mv = None
    for r in range(_PCA_ROUNDS):
        mv = (
            cov.join(
                F.broadcast(v.select(F.col("i").alias("j"), "vq")), "j"
            )
            .groupBy("i")
            .agg(F.sum(F.col("c") * F.col("vq")).cast("bigint").alias("mv"))
        )
        m = mv.agg(F.max(F.abs(F.col("mv"))).alias("m"))
        # divide-FIRST normalization: (mv << 20) div max overflows the
        # bigint once |mv| nears 2^43; mv div (max >> 20 + 1) keeps
        # every intermediate in range with <= 1 ulp rounding, and the
        # identical integer rule replays in the oracle
        v = (
            mv.crossJoin(F.broadcast(m))
            .select(
                "i",
                F.expr(f"mv div (m div {1 << _PCA_V_SHIFT} + 1)")
                .cast("bigint")
                .alias("vq"),
            )
        )
        # dim-bounded tables: checkpoint periodically to keep the
        # 16-round lineage shallow without a job per round
        if (r + 1) % 4 == 0:
            v = v.localCheckpoint()
            mv = mv.localCheckpoint()
    istar = (
        v.orderBy(F.abs(F.col("vq")).desc(), "i")
        .limit(1)
        .select(F.col("i").alias("i_star"))
    )
    lam = (
        istar.join(mv, F.col("i_star") == mv["i"])
        .join(
            v.select(F.col("i").alias("iv"), F.col("vq").alias("vstar")),
            F.col("i_star") == F.col("iv"),
        )
        .select(F.expr("mv div vstar").cast("bigint").alias("lambda_q"))
    )
    return (
        v.crossJoin(F.broadcast(lam))
        .select(F.col("i").alias("dim"), F.col("vq").alias("v_q"), "lambda_q")
        .orderBy("dim")
    )


def _golden_record_oracle() -> str:
    # the dup-clusters closure (its own WITH RECURSIVE chain) nests as
    # a derived CTE body; survivorship aggregates layer on top
    labels = _dup_clusters_oracle()
    labels = labels[: labels.rindex("ORDER BY")]
    return f"""
WITH labels AS (
WITH RECURSIVE {labels.lstrip()[len("WITH "):]}
), mem AS MATERIALIZED (
  SELECT l.node AS doc_id, l.cluster, d.text, d.lang, d.source
  FROM labels l JOIN documents d ON d.doc_id = l.node
), rep AS (
  SELECT cluster, doc_id, CAST(length(text) AS BIGINT) AS rep_len,
         ROW_NUMBER() OVER (PARTITION BY cluster
                            ORDER BY length(text) DESC, doc_id) AS rn
  FROM mem
), langv AS (
  SELECT cluster, lang,
         ROW_NUMBER() OVER (PARTITION BY cluster
                            ORDER BY COUNT(*) DESC, lang) AS rn
  FROM mem GROUP BY cluster, lang
), srcv AS (
  SELECT cluster, source,
         ROW_NUMBER() OVER (PARTITION BY cluster
                            ORDER BY COUNT(*) DESC, source) AS rn
  FROM mem GROUP BY cluster, source
), agg AS (
  SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_members,
         CAST(MIN(doc_id) AS BIGINT) AS canonical_doc_id
  FROM mem GROUP BY cluster
)
SELECT agg.cluster, agg.n_members, agg.canonical_doc_id,
       CAST(rep.doc_id AS BIGINT) AS rep_doc_id, rep.rep_len,
       langv.lang, srcv.source
FROM agg
JOIN rep ON rep.cluster = agg.cluster AND rep.rn = 1
JOIN langv ON langv.cluster = agg.cluster AND langv.rn = 1
JOIN srcv ON srcv.cluster = agg.cluster AND srcv.rn = 1
ORDER BY agg.cluster
"""


@register(
    "q_golden_record",
    oracle=_golden_record_oracle(),
    doc="Survivorship / golden-record construction over the near-dup "
    "clusters (r9) — the step after entity resolution that MDM "
    "pipelines run: each q_dup_clusters component collapses to one "
    "record with field-level survivorship rules — canonical id = min "
    "member, representative text = longest (ties to the smallest "
    "doc_id), lang/source = majority vote with lexicographic "
    "tie-break.  All rules are deterministic windows/aggregates over "
    "the cluster-membership table (cluster-bounded partitions), so "
    "the oracle nests the transitive-closure chain and replays the "
    "votes exactly.  At scale the membership table is the only "
    "cluster-keyed shuffle; no rule touches raw pair space.",
)
def q_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as _W

    labels = q_dup_clusters(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    mem = labels.join(
        docs, labels["node"] == docs["doc_id"]
    ).select("doc_id", "cluster", "text", "lang", "source")
    w_rep = _W.partitionBy("cluster").orderBy(
        F.length("text").desc(), "doc_id"
    )
    rep = (
        mem.withColumn("rn", F.row_number().over(w_rep))
        .filter(F.col("rn") == 1)
        .select(
            "cluster",
            F.col("doc_id").alias("rep_doc_id"),
            F.length("text").cast("bigint").alias("rep_len"),
        )
    )

    def _majority(col: str) -> DataFrame:
        w = _W.partitionBy("cluster").orderBy(
            F.col("cnt").desc(), F.col(col)
        )
        return (
            mem.groupBy("cluster", col)
            .agg(F.count(F.lit(1)).alias("cnt"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("cluster", col)
        )

    agg = mem.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.min("doc_id").cast("bigint").alias("canonical_doc_id"),
    )
    return (
        agg.join(rep, "cluster")
        .join(_majority("lang"), "cluster")
        .join(_majority("source"), "cluster")
        .select(
            "cluster", "n_members", "canonical_doc_id",
            "rep_doc_id", "rep_len", "lang", "source",
        )
        .orderBy("cluster")
    )
