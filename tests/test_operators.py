"""Unit tests for operator semantics on tiny literal DataFrames —
especially the R-vs-SQL null-semantics traps pinned in SURVEY.md §4.3.
"""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from artis_data_ingest_spark.functions.strings import (
    absolutize_url,
    standardize_key,
    strip_synonym_suffix,
)
from artis_data_ingest_spark.operators.clean import (
    not_in_keep_nulls,
    tolerant_select,
)
from artis_data_ingest_spark.operators.diff import (
    dataset_diff,
    pivot_align,
    snapshot_align,
    union_tag,
)


def test_standardize_key_matches_reference_chain(spark):
    # mirrors assess_changes.qmd:84-94 examples
    df = spark.createDataFrame(
        [
            ("/snap/filtered_Global_production-Quantity_V202401a.csv",),
            ("relative/Global production-Quantity_V2024015.xlsx",),
            ("no_version_or_ext",),
        ],
        ["p"],
    )
    out = [r[0] for r in df.select(standardize_key("p")).collect()]
    assert out == [
        "global_production_quantity",
        "global_production_quantity",
        "no_version_or_ext",
    ]


def test_standardize_key_idempotent(spark):
    # SURVEY.md §5.2 property 4
    df = spark.createDataFrame(
        [("filtered_A b-C_V202401a.csv",), ("x/y/z.PDF",)], ["p"]
    )
    once = df.select(standardize_key("p").alias("k"))
    twice = once.select(standardize_key("k").alias("k"))
    assert [r.k for r in once.collect()] == [r.k for r in twice.collect()]


def test_not_in_keeps_nulls_like_r(spark):
    # R: !(NA %in% set) is TRUE → NA rows kept; SQL NOT IN drops them
    df = spark.createDataFrame(
        [Row(g="MAMMALIA"), Row(g="fish"), Row(g=None)], ["g"]
    )
    kept = df.filter(not_in_keep_nulls("g", ["MAMMALIA"])).collect()
    assert sorted([r.g for r in kept], key=lambda x: (x is None, x)) == [
        "fish",
        None,
    ]


def test_absolutize_url(spark):
    df = spark.createDataFrame(
        [("http://a/b.zip",), ("https://a/c.pdf",), ("/rel/d.zip",)], ["u"]
    )
    out = [r[0] for r in df.select(absolutize_url("u")).collect()]
    assert out == [
        "http://a/b.zip",
        "https://a/c.pdf",
        "https://www.cepii.fr/rel/d.zip",
    ]


def test_strip_synonym_suffix(spark):
    df = spark.createDataFrame(
        [("Gadus morhua (=Gadus callarias)",), ("Plain name",)], ["s"]
    )
    out = [r[0] for r in df.select(strip_synonym_suffix("s")).collect()]
    assert out == ["Gadus morhua", "Plain name"]


def test_union_tag_counts(spark):
    # SURVEY.md §5.2 property: |union| = |old| + |new|
    new = spark.range(5).withColumnRenamed("id", "k")
    old = spark.range(3).withColumnRenamed("id", "k")
    tagged = union_tag(new, old)
    assert tagged.count() == 8
    assert tagged.filter(F.col("directory") == "old").count() == 3


def test_snapshot_align_flags(spark):
    old = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    new = spark.createDataFrame([(2, "B"), (3, "C")], ["k", "v"])
    rows = {
        r.k: r
        for r in snapshot_align(old, new, "k").collect()
    }
    assert rows[1].exists_in_old and not rows[1].exists_in_new
    assert rows[2].exists_in_old and rows[2].exists_in_new
    assert not rows[3].exists_in_old and rows[3].exists_in_new


def test_pivot_align_shape(spark):
    stacked = spark.createDataFrame(
        [(1, "new", "n1"), (1, "old", "o1"), (2, "old", "o2")],
        ["k", "directory", "full_path"],
    )
    rows = {r.k: r for r in pivot_align(stacked, "k").collect()}
    assert rows[1].new == "n1" and rows[1].old == "o1"
    assert rows[2].new is None and rows[2].old == "o2"


def test_dataset_diff_empty_on_self(spark):
    # SURVEY.md §5.2 property 4: diff(a, a) is empty
    df = spark.createDataFrame([(1, "x")], ["a", "b"])
    r = dataset_diff(spark, df, df).collect()[0]
    assert r.row_diff == 0
    assert r.added_cols == [] and r.removed_cols == []
    assert r.type_changes == []


def test_dataset_diff_detects_changes(spark):
    old = spark.createDataFrame([(1, "x", 1.0)], ["a", "b", "c"])
    new = spark.createDataFrame(
        [(1, 2, "s"), (2, 3, "t")], ["a", "c", "d"]
    )
    r = dataset_diff(spark, old, new).collect()[0]
    assert r.nrow_old == 1 and r.nrow_new == 2 and r.row_diff == 1
    assert r.added_cols == ["d"] and r.removed_cols == ["b"]
    assert [tc["column"] for tc in r.type_changes] == ["c"]


def test_tolerant_select_skips_missing(spark):
    df = spark.createDataFrame([(1, 2)], ["a", "b"])
    assert tolerant_select(df, ["b", "zzz", "a"]).columns == ["b", "a"]


def test_lsh_and_ivf_recall_vs_brute_force(spark):
    # approximate paths must recover most of the exact top-k: measure
    # recall@3 of sign-bucket LSH and IVF against brute force
    from artis_data_ingest_spark.operators.similarity import (
        brute_force_topk,
        ivf_assign,
        ivf_topk,
        lsh_topk,
    )
    from artis_data_ingest_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id").isin([0, 1, 2]))

    def topsets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r.query_id, set()).add(r.vec_id)
        return out

    exact = topsets(brute_force_topk(emb, queries, k=3))
    total = sum(len(exact[q]) for q in exact)

    def recall(approx_df):
        approx = topsets(approx_df)
        return sum(len(exact[q] & approx.get(q, set())) for q in exact) / total

    # IVF with nprobe=2 of 4 cells recovers the exact top-k here
    assert recall(ivf_topk(emb, queries, k=3, n_centroids=4, nprobe=2)) >= 0.8
    # sign-bucket LSH: recall/selectivity trade is monotone in n_bits —
    # the synthetic embeddings are near-isotropic, so each extra sign
    # bit halves the candidate set and sheds recall
    r1 = recall(lsh_topk(emb, queries, k=3, n_bits=1))
    r4 = recall(lsh_topk(emb, queries, k=3, n_bits=4))
    assert r1 >= 0.5
    assert r1 >= r4

    # a vector equally close (by cosine) to two centroids goes to the
    # lower cid, for its own cell and at the nprobe boundary; an empty
    # codebook assigns and probes nothing
    cent = spark.createDataFrame(
        [(7, [1.0, 0.0]), (3, [0.0, 1.0]), (9, [-1.0, -1.0])],
        "cid bigint, cemb array<double>",
    )
    vecs = spark.createDataFrame(
        [(0, [1.0, 1.0]), (1, [1.0, 0.1]), (2, [0.1, 1.0]), (3, [-1.0, -0.9])],
        "vec_id bigint, embedding array<float>",
    )
    tied = vecs.filter(F.col("vec_id") == 0)
    _, assign = ivf_assign(vecs, centroids=cent)
    assert dict(assign.collect()) == {0: 3, 1: 7, 2: 3, 3: 9}
    for nprobe, want in ((1, {2}), (2, {1, 2}), (3, {1, 2, 3})):
        got = ivf_topk(vecs, tied, k=3, nprobe=nprobe, centroids=cent)
        assert {r.vec_id for r in got.collect()} == want, nprobe
    _, assign = ivf_assign(vecs, centroids=cent.limit(0))
    assert assign.count() == 0
    assert ivf_topk(vecs, tied, centroids=cent.limit(0)).count() == 0


def test_connected_components_known_graph(spark):
    from artis_data_ingest_spark.operators.dedup import connected_components

    # two components {1,2,3,4} (chain) and {10,11}; 20 isolated-by-edge
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 20)], ["src", "dst"]
    )
    got = {
        r.node: r.cluster for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20}


def test_connected_components_nonconvergence(spark):
    from artis_data_ingest_spark.operators.dedup import connected_components

    # a 9-node chain has diameter 8: min-label propagation moves the
    # 0-label one hop per round, so max_iter=2 cannot reach a fixpoint.
    # local_edge_limit=0 forces the distributed path (r16) — the
    # single-task union-find is exact and has no notion of
    # non-convergence, so max_iter/strict bind only the rounds.
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], ["src", "dst"]
    )
    import pytest

    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(chain, max_iter=2, local_edge_limit=0)
    # strict=False returns the partial labels instead of raising
    partial = connected_components(
        chain, max_iter=2, strict=False, local_edge_limit=0
    )
    assert partial.count() == 9
    # with enough rounds the chain converges to a single component
    got = {
        r.node: r.cluster
        for r in connected_components(
            chain, max_iter=10, local_edge_limit=0
        ).collect()
    }
    assert got == {i: 0 for i in range(9)}
    # the default (union-find) path converges regardless of max_iter
    uf = {
        r.node: r.cluster
        for r in connected_components(chain, max_iter=2).collect()
    }
    assert uf == got


def test_char_shingles_short_text(spark):
    from artis_data_ingest_spark.operators.dedup import char_shingles

    df = spark.createDataFrame(
        [("", ), ("ab",), ("abc",), ("abcd",), (None,)], ["t"]
    )
    out = [r[0] for r in df.select(char_shingles("t", 3)).collect()]
    # shorter than k (and null) => EMPTY set, never phantom shingles
    assert out == [[], [], ["abc"], ["abc", "bcd"], []]


def test_ngram_jaccard_finds_distant_neardup(spark):
    from artis_data_ingest_spark.operators.dedup import ngram_jaccard_pairs

    # near-identical docs at doc_id 1 vs 500 — an id-adjacency block
    # would never compare them; the LSH band block must pair them up
    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, base),
            (500, base + " ok"),
            (2, "completely different text about spark catalyst plans"),
            (250, "yet another unrelated document body mentioning ducks"),
        ],
        ["doc_id", "text"],
    )
    pairs = {
        (r.doc_id_a, r.doc_id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs).collect()
    }
    assert (1, 500) in pairs
    assert pairs[(1, 500)] >= 0.9
    assert all(a == 1 and b == 500 for (a, b) in pairs)


def test_minhash_pair_stats_match_enumeration(spark):
    # the signature-collapsed statistics must agree exactly with the
    # brute-force pair enumeration they replace (sf0.001 corpus)
    from artis_data_ingest_spark.operators.dedup import (
        portable_minhash_candidates,
        portable_minhash_pair_stats,
    )
    from artis_data_ingest_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    pairs = portable_minhash_candidates(docs).cache()
    brute = pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("n_bands").alias("sum_bands"),
    ).collect()[0]
    n_docs = (
        pairs.select(F.col("doc_id_a").alias("d"))
        .union(pairs.select("doc_id_b"))
        .distinct()
        .count()
    )
    fast = portable_minhash_pair_stats(docs).collect()[0]
    assert fast.n_pairs == brute.n_pairs
    assert fast.sum_bands == brute.sum_bands
    assert fast.n_docs_in_pairs == n_docs


def test_portable_signature_forms_agree(spark):
    # the interpreted array-fold form is the readable reference; the
    # explode+grouped-min table is the codegen hot path — they must
    # produce bit-identical signatures
    import functools
    import operator

    from artis_data_ingest_spark.operators.dedup import (
        char_shingles,
        portable_minhash_sig_table,
        portable_minhash_signature,
    )
    from artis_data_ingest_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    fold = docs.filter(F.length(F.lower("text")) >= 3).select(
        "doc_id",
        portable_minhash_signature(
            char_shingles("text", 3), shingle_len=3
        ).alias("sig"),
    )
    table = portable_minhash_sig_table(docs)
    joined = fold.join(table, on="doc_id", how="full_outer")
    mismatch = joined.filter(
        functools.reduce(
            operator.or_,
            [
                F.element_at("sig", i + 1).eqNullSafe(F.col(f"m{i}")) == False  # noqa: E712
                for i in range(8)
            ],
        )
    ).count()
    assert mismatch == 0


def test_murmur_signature_forms_agree(spark):
    import functools
    import operator

    from artis_data_ingest_spark.operators.dedup import (
        char_shingles,
        minhash_signature,
        murmur_minhash_sig_table,
    )
    from artis_data_ingest_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    base = docs.filter(F.length(F.lower("text")) >= 3)
    fold = base.select(
        "doc_id", minhash_signature(char_shingles("text", 3), 32).alias("sig")
    )
    table = murmur_minhash_sig_table(
        base.select("doc_id", F.lower("text").alias("t")), 3, 32
    )
    joined = fold.join(table, on="doc_id", how="full_outer")
    mismatch = joined.filter(
        functools.reduce(
            operator.or_,
            [
                F.element_at("sig", i + 1).eqNullSafe(F.col(f"m{i}")) == False  # noqa: E712
                for i in range(32)
            ],
        )
    ).count()
    assert mismatch == 0


def test_simhash_forms_agree(spark):
    from artis_data_ingest_spark.operators.dedup import (
        simhash64,
        simhash_sig_table,
    )
    from artis_data_ingest_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    col_form = docs.select("doc_id", simhash64("text").alias("sig"))
    tbl_form = simhash_sig_table(docs).withColumnRenamed("sig", "sig2")
    mismatch = (
        col_form.join(tbl_form, on="doc_id", how="full_outer")
        .filter(F.col("sig").eqNullSafe(F.col("sig2")) == False)  # noqa: E712
        .count()
    )
    assert mismatch == 0


def test_encoded_shingles_bijective_jaccard(spark):
    # the bigint encoding must give identical jaccard values to the
    # string shingle sets (injective for k=3), including sizes
    from artis_data_ingest_spark.operators.dedup import (
        char_shingles,
        encoded_shingles,
        jaccard,
    )
    from artis_data_ingest_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(80)
    a = docs.select(
        "doc_id",
        char_shingles("text").alias("cs"),
        encoded_shingles("text").alias("es"),
    )
    sizes = a.filter(F.size("cs") != F.size("es")).count()
    assert sizes == 0
    # pairwise: compare jaccard over both representations on a small
    # cross sample
    x = a.select(
        F.col("doc_id").alias("ida"),
        F.col("cs").alias("csa"),
        F.col("es").alias("esa"),
    ).limit(20)
    y = a.select(
        F.col("doc_id").alias("idb"),
        F.col("cs").alias("csb"),
        F.col("es").alias("esb"),
    ).limit(20)
    pairs = x.crossJoin(y).filter(F.col("ida") < F.col("idb"))
    diff = pairs.filter(
        jaccard(F.col("csa"), F.col("csb")).eqNullSafe(
            jaccard(F.col("esa"), F.col("esb"))
        )
        == False  # noqa: E712
    ).count()
    assert diff == 0

def test_portable_shingle_hash_fixed_large_k_no_overflow(spark):
    # at k>=10 the naive unrolled polynomial exceeds bigint; the
    # interleaved mod reduction must stay bit-identical to the rolled
    # per-char fold (which reduces every step) for any k — including
    # multi-byte codepoints near the top of the bound analysis
    from artis_data_ingest_spark.operators.dedup import (
        _PORTABLE_P,
        portable_shingle_hash,
        portable_shingle_hash_fixed,
    )

    vals = [
        "abcdefghijklmnop",       # k=16 ascii
        "zzzzzzzzzzzzzzzz",       # max ascii letter repeated
        "￿" * 16,            # high-BMP codepoints
        "sphinx of blacké",  # mixed
    ]
    k = 16
    df = spark.createDataFrame([(v,) for v in vals], ["s"])
    out = df.select(
        portable_shingle_hash_fixed(F.col("s"), k).alias("fixed"),
        portable_shingle_hash(F.col("s")).alias("rolled"),
    ).collect()
    for r, v in zip(out, vals):
        expected = 0
        for ch in v:
            expected = (expected * 31 + ord(ch)) % _PORTABLE_P
        assert r.fixed == r.rolled == expected, v
        assert 0 <= r.fixed < _PORTABLE_P


def test_kmeans_centroids_sql_round_digits_matches_spark(spark):
    # round_digits now parameterized in the oracle twin: a non-default
    # value must produce the same centroids in both engines (it changes
    # assignment tie-breaks, so a hardcoded 6 would diverge)
    import re

    import duckdb

    from artis_data_ingest_spark.operators.similarity import (
        kmeans_centroids,
        kmeans_centroids_sql,
    )
    from artis_data_ingest_spark.sources.tables import load_table

    chain, final = kmeans_centroids_sql(k=3, n_iter=2, round_digits=2)
    assert re.search(r",\s*2\) DESC", chain)
    assert not re.search(r",\s*6\) DESC", chain)

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    got = {
        (r.cid, r.pos): r.val
        for r in kmeans_centroids(emb, k=3, n_iter=2, round_digits=2)
        .select("cid", F.posexplode("cemb").alias("pos", "val"))
        .collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/embeddings.parquet')"
    )
    want = {
        (cid, pos - 1): val
        for cid, pos, val in con.execute(
            f"""{chain}
SELECT cid, u.pos AS pos, cemb[u.pos] AS val
FROM {final}, UNNEST(range(1, len(cemb) + 1)) AS u(pos)
ORDER BY cid, pos"""
        ).fetchall()
    }
    assert got == want


def test_connected_components_stress_path_and_megastar(spark):
    """Adversarial shapes at 10k-node scale: a long path (worst-case
    diameter) and one mega-star (worst-case skew — every edge shares a
    hub). Pointer jumping must converge the path in O(log n) rounds;
    plain propagation would need ~10k and trip max_iter."""
    import time

    from artis_data_ingest_spark.operators.dedup import connected_components

    n = 10_000
    path_edges = [(i, i + 1) for i in range(n - 1)]
    # mega-class: hub 100000 connected to 5000 spokes (single skewed key)
    star_edges = [(100_000, 100_001 + i) for i in range(5_000)]
    edges = spark.createDataFrame(
        path_edges + star_edges, ["src", "dst"]
    ).repartition(32)

    t0 = time.time()
    # log2(10000) ~ 13.3; 18 rounds (jump distance 2^r) is ample —
    # strict=True means non-convergence raises, pinning the O(log n)
    # iteration bound rather than just eventual correctness.
    # local_edge_limit=0 forces the DISTRIBUTED rounds (r16): this test
    # pins the pointer-jumping path; the small-graph union-find path
    # has its own parity test below.
    labels = {
        r.node: r.cluster
        for r in connected_components(
            edges, max_iter=18, local_edge_limit=0
        ).collect()
    }
    elapsed = time.time() - t0

    assert all(labels[i] == 0 for i in range(n))
    assert all(labels[100_000 + i] == 100_000 for i in range(5_001))
    # runtime bound: each round is one join+agg on 15k edges; minutes
    # would indicate plan-explosion regression (lineage not truncated)
    assert elapsed < 180, f"connected_components took {elapsed:.0f}s"

    # the default path (union-find single task — 15k edges is far under
    # the 2M default limit) must label both adversarial shapes
    # identically to the distributed rounds
    uf = {
        r.node: r.cluster
        for r in connected_components(edges).collect()
    }
    assert uf == labels


def test_connected_components_union_find_parity(spark, caplog):
    """r16: the size-adaptive single-task union-find path must agree
    with the distributed min-label/pointer-jump rounds on random
    graphs, for bigint AND string node labels.  The limit sits at the
    gate's boundary: ``local_edge_limit == rows`` takes the local path,
    ``rows - 1`` the distributed one, and each decision is logged."""
    import logging
    import random

    from artis_data_ingest_spark.operators.dedup import connected_components

    rng = random.Random(1234)
    int_edges = [
        (rng.randrange(500), rng.randrange(500)) for _ in range(400)
    ]
    str_edges = [
        (f"n{a:03d}", f"n{b:03d}")
        for a, b in (
            (rng.randrange(120), rng.randrange(120)) for _ in range(150)
        )
    ]
    for rows in (int_edges, str_edges):
        edges = spark.createDataFrame(rows, ["src", "dst"])
        n_sym = len({e for a, b in rows for e in ((a, b), (b, a))})
        caplog.clear()
        with caplog.at_level(
            logging.INFO, logger="artis_data_ingest_spark.operators.scale"
        ):
            uf_df = connected_components(edges, local_edge_limit=n_sym)
            dist_df = connected_components(
                edges, local_edge_limit=n_sym - 1
            )
        assert [r.getMessage() for r in caplog.records] == [
            f"gate op=connected_components rows={n_sym} limit={n_sym} "
            "path=local",
            f"gate op=connected_components rows={n_sym} "
            f"limit={n_sym - 1} path=distributed",
        ]
        # schema parity: same column names and types on both paths
        # (nullability is writer metadata and may differ)
        assert [(f.name, f.dataType) for f in uf_df.schema] == [
            (f.name, f.dataType) for f in dist_df.schema
        ]
        uf = {r.node: r.cluster for r in uf_df.collect()}
        dist = {r.node: r.cluster for r in dist_df.collect()}
        assert uf == dist


def test_pq_codebooks_degenerate_corpus_matches_duckdb(spark, tmp_path):
    """Empty-cluster semantics: identical vectors collapse every
    assignment onto one centroid, the rest drop out — and the Spark
    result must still match the recursive-CTE oracle bit-for-bit
    (a divergence here would poison codes silently)."""
    import duckdb

    from artis_data_ingest_spark.operators.similarity import (
        pq_codebooks,
        pq_codebooks_sql,
    )
    from pyspark.sql import types as T

    # 6 vectors: three identical, three in a second cluster; dim 8
    rows = [
        (0, [1.0] * 8), (1, [1.0] * 8), (2, [1.0] * 8),
        (3, [9.0] * 8), (4, [9.0] * 8), (5, [9.25] * 8),
    ]
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ])
    df = spark.createDataFrame(rows, schema)
    got = {
        (r.subspace, r.cid, tuple(r.cemb))
        for r in pq_codebooks(df, m=2, sub_dim=4, k=3, n_iter=2).collect()
    }

    path = str(tmp_path / "deg.parquet")
    df.write.parquet(path)
    chain, final = pq_codebooks_sql(m=2, sub_dim=4, k=3, n_iter=2)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}/*.parquet')"
    )
    want = {
        (s, c, tuple(e))
        for s, c, e in con.execute(
            chain + f" SELECT subspace, cid, cemb FROM {final}"
        ).fetchall()
    }
    assert got == want
    # clusters that lost every member are absent, not zero-filled
    surviving = {cid for (_, cid, _) in got}
    assert surviving < {0, 1, 2}  # strictly fewer than k initial ids


def test_minhash_salted_band_join_matches_unsalted(spark):
    """Salting the band self-join must not change the candidate/verify
    result: every (band, bucket) pair is still generated exactly once
    (the build replica matching the probe row's salt), just on a wider
    shuffle key. Pinned on the sf0.001 corpus."""
    from artis_data_ingest_spark.operators.dedup import (
        minhash_lsh_candidates,
    )
    from artis_data_ingest_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    plain = {
        (r.doc_id_a, r.doc_id_b, r.jaccard)
        for r in minhash_lsh_candidates(docs, salt_buckets=None).collect()
    }
    salted = {
        (r.doc_id_a, r.doc_id_b, r.jaccard)
        for r in minhash_lsh_candidates(docs, salt_buckets=8).collect()
    }
    assert salted == plain


def test_minhash_salted_join_shape(spark):
    """The skew hardening must actually reach the physical plan: with
    salting on (the default), the candidate join's equi-key set includes
    the salt column, so a hot (band, bucket) spreads over salt_buckets
    reducers instead of one."""
    from artis_data_ingest_spark.operators.dedup import (
        minhash_lsh_candidates,
    )
    from artis_data_ingest_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    plan = minhash_lsh_candidates(docs)._jdf.queryExecution().toString()
    assert "salt" in plan
    unsalted = minhash_lsh_candidates(
        docs, salt_buckets=None
    )._jdf.queryExecution().toString()
    assert "salt" not in unsalted


def test_minhash_salted_survives_adversarial_skew(spark):
    """Viral-duplicate fixture: 25 families x 40 near-identical members
    (shared 400-char body, unique 6-char tail) pile every family into
    hot band buckets — the worst case the salt exists for. The salted
    join must produce the identical verified pair set, finding all
    within-family pairs and nothing across families."""
    import hashlib

    from artis_data_ingest_spark.operators.dedup import (
        minhash_lsh_candidates,
    )

    rows = []
    for fam in range(25):
        # family body: 128 chars of family-specific pseudo-random hex,
        # repeated — members share ~95% of their shingle set within a
        # family while cross-family trigram overlap is negligible (two
        # random hex strings share ~1 of 4096 possible trigrams)
        seed = hashlib.md5(f"fam{fam}".encode()).hexdigest()
        body = (seed + hashlib.md5(seed.encode()).hexdigest()) * 2
        for m in range(40):
            tail = hashlib.md5(f"m{fam}-{m}".encode()).hexdigest()[:4]
            rows.append((fam * 100 + m, body + tail))
    docs = spark.createDataFrame(rows, ["doc_id", "text"]).repartition(16)

    salted = minhash_lsh_candidates(docs, salt_buckets=8).collect()
    pair_set = {(r.doc_id_a, r.doc_id_b) for r in salted}
    # no cross-family pair survives the jaccard >= 0.7 verify
    assert all(a // 100 == b // 100 for a, b in pair_set)
    # near-total recall within families: bodies are ~98% shared, so
    # nearly all 780 pairs per family collide in some band and verify
    assert len(pair_set) >= 25 * 700
    plain = {
        (r.doc_id_a, r.doc_id_b)
        for r in minhash_lsh_candidates(docs, salt_buckets=None).collect()
    }
    assert pair_set == plain


# ---------------------------------------------------------------------------
# merge_upsert — MERGE INTO semantics (operators/merge.py)
# ---------------------------------------------------------------------------


def test_merge_upsert_all_four_branches(spark):
    from artis_data_ingest_spark.operators.merge import merge_upsert

    tgt = spark.createDataFrame(
        [Row(k=1, v="keep"), Row(k=2, v="old"), Row(k=3, v="dead")]
    )
    src = spark.createDataFrame(
        [
            Row(k=2, v="new", is_delete=False),   # matched -> update
            Row(k=3, v=None, is_delete=True),     # matched -> delete
            Row(k=4, v="ins", is_delete=False),   # unmatched -> insert
            Row(k=5, v="x", is_delete=True),      # unmatched delete -> no insert
        ]
    )
    out = merge_upsert(tgt, src, ["k"], delete_col="is_delete")
    got = {r.k: r.v for r in out.collect()}
    assert got == {1: "keep", 2: "new", 4: "ins"}
    assert out.columns == ["k", "v"]  # delete flag never leaks


def test_merge_upsert_null_source_value_overwrites(spark):
    # source-wins must use WHEN(present), not COALESCE: a legitimate
    # NULL in the source clears the target value
    from artis_data_ingest_spark.operators.merge import merge_upsert

    tgt = spark.createDataFrame([Row(k=1, v="set")])
    src = spark.createDataFrame(
        [Row(k=1, v=None)],
        schema="k bigint, v string",
    )
    out = merge_upsert(tgt, src, ["k"])
    assert [r.v for r in out.collect()] == [None]


def test_merge_upsert_composite_key(spark):
    from artis_data_ingest_spark.operators.merge import merge_upsert

    tgt = spark.createDataFrame([Row(a=1, b="x", v=10), Row(a=1, b="y", v=20)])
    src = spark.createDataFrame([Row(a=1, b="y", v=99), Row(a=2, b="x", v=7)])
    out = merge_upsert(tgt, src, ["a", "b"])
    got = {(r.a, r.b): r.v for r in out.collect()}
    assert got == {(1, "x"): 10, (1, "y"): 99, (2, "x"): 7}


def test_merge_upsert_null_safe_keys_opt_in(spark):
    from artis_data_ingest_spark.operators.merge import merge_upsert

    tgt = spark.createDataFrame([Row(k=None, v="old"), Row(k=1, v="a")],
                                schema="k bigint, v string")
    src = spark.createDataFrame([Row(k=None, v="new")],
                                schema="k bigint, v string")
    out = merge_upsert(tgt, src, ["k"], null_safe_keys=True)
    got = {r.k: r.v for r in out.collect()}
    assert got == {None: "new", 1: "a"}


def test_pagerank_stress_star_and_chain(spark):
    """Adversarial graph shapes for the integer PageRank operator: a
    5k-spoke star (every spoke points at the hub) and a 2k-node chain.
    Pins (a) the hub dominates every spoke, (b) chain ranks increase
    monotonically downstream of the head, (c) total mass stays within
    [keep-fraction, 1] of SCALE (dangling mass only ever shrinks it),
    and (d) results are bit-identical under a different partitioning."""
    from pyspark.sql import functions as F

    from artis_data_ingest_spark.operators.graphs import PR_SCALE, pagerank

    n_spokes, chain_len = 5000, 2000
    # heavy weights: w=5e7 per spoke would overflow the naive pr*w
    # BIGINT product once the hub's rank approaches PR_SCALE — pins the
    # split-division contribution form (w*ow bound, not pr*w)
    heavy = 50_000_000
    star = spark.range(1, n_spokes + 1).select(
        F.col("id").alias("src"),
        F.lit(0).alias("dst"),
        F.lit(heavy).alias("w"),
    )
    chain = spark.range(chain_len - 1).select(
        (F.col("id") + 1_000_000).alias("src"),
        (F.col("id") + 1_000_001).alias("dst"),
        F.lit(1).alias("w"),
    )
    # the hub itself drains through a heavy edge: its rank approaches
    # the whole star's mass, so the naive pr*w product exceeds 2^63
    # here — the split form must survive it
    drain = spark.range(1).select(
        F.lit(0).alias("src"),
        F.lit(2_000_000).alias("dst"),
        F.lit(heavy).alias("w"),
    )
    edges = star.unionByName(chain).unionByName(drain)

    pr = pagerank(edges, n_iter=8)
    rows = {r.node: r.pr for r in pr.collect()}
    n_nodes = n_spokes + 1 + chain_len + 1
    assert len(rows) == n_nodes

    hub = rows[0]
    spoke = rows[1]
    assert hub > 100 * spoke, (hub, spoke)  # hub absorbs all star mass
    # chain: rank accumulates moving downstream (first few hops)
    c0, c1, c2 = (rows[1_000_000 + i] for i in range(3))
    assert c0 < c1 < c2
    total = sum(rows.values())
    assert 0.15 * PR_SCALE * 0.9 < total <= PR_SCALE

    alt = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        rows2 = {r.node: r.pr for r in pagerank(edges, n_iter=8).collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", alt)
    assert rows2 == rows
    # r16: the DISTRIBUTED loop must match the default (single-task)
    # path bit-for-bit on this overflow-probing adversarial graph
    dist = {
        r.node: r.pr
        for r in pagerank(edges, n_iter=8, local_edge_limit=0).collect()
    }
    assert dist == rows


def test_exact_dedup_unicode_norm_collapses_twins(spark):
    from artis_data_ingest_spark.operators.dedup import exact_dedup

    docs = spark.createDataFrame(
        [
            (0, "Café crowd"),            # precomposed e-acute
            (1, "Café crowd"),           # decomposed e + U+0301
            (2, "Ca​fé CROWD"),     # zero-width + case noise
            (3, "entirely different text"),
        ],
        ["doc_id", "text"],
    )
    uni = {
        r.keep_doc_id: r.n_copies
        for r in exact_dedup(docs, unicode_norm=True).collect()
    }
    # the three canonically-equal variants collapse to doc 0
    assert uni == {0: 3, 3: 1}
    # the naive ASCII-skeleton path misses them: precomposed é is
    # DELETED ('caf') while decomposed keeps the base e ('cafe'),
    # so the twins land in different groups — the exact gap
    # unicode_norm closes
    naive = {
        r.keep_doc_id: r.n_copies for r in exact_dedup(docs).collect()
    }
    assert naive[0] == 1


def test_pagerank_checkpoint_path_bit_identical(spark):
    """The rank-table localCheckpoint branch (checkpoint_every) never
    fired for in-repo callers (n_iter <= 8 < default 8+1); exercise it
    explicitly — n_iter=10 with checkpoint_every=3 fires at iterations
    3, 6, 9 — and pin bit-equality with the uncheckpointed run."""
    from artis_data_ingest_spark.operators.graphs import pagerank

    edges = spark.createDataFrame(
        [(i, (i * 3 + 1) % 7, 1 + i % 4) for i in range(7)]
        + [(i, (i + 1) % 7, 2) for i in range(7)],
        ["src", "dst", "w"],
    )
    # local_edge_limit=0 keeps both runs on the DISTRIBUTED loop (the
    # checkpoint branch under test lives there; the r16 default would
    # route this 14-edge graph to the single-task path)
    checked = {
        r.node: r.pr
        for r in pagerank(
            edges, n_iter=10, checkpoint_every=3, local_edge_limit=0
        ).collect()
    }
    plain = {
        r.node: r.pr
        for r in pagerank(
            edges, n_iter=10, checkpoint_every=99, local_edge_limit=0
        ).collect()
    }
    assert checked == plain
    assert len(checked) == 7
    # and the r16 single-task path agrees with both
    local = {r.node: r.pr for r in pagerank(edges, n_iter=10).collect()}
    assert local == plain


def test_strip_boilerplate_lines_semantics(spark):
    from artis_data_ingest_spark.operators.clean import (
        strip_boilerplate_lines,
    )

    docs = spark.createDataFrame(
        [
            # source A: 3 docs, "footer" in all 3 (ratio 1.0 > 0.5),
            # "maybe" in 1 of 3 (0.33, kept). Doc 0 repeats "maybe"
            # twice INSIDE the page — distinct-doc counting must not
            # let within-page repetition fake boilerplate.
            (0, "A", "alpha\nfooter\nmaybe\nmaybe"),
            (1, "A", "beta\nfooter"),
            (2, "A", "gamma\nfooter"),
            # source B: same "footer" line but only 1 of 2 docs (0.5,
            # NOT > 0.5 — kept): thresholds are per-source
            (3, "B", "delta\nfooter"),
            (4, "B", "epsilon"),
        ],
        ["doc_id", "source", "text"],
    )
    out = {
        r.doc_id: (r.text, r.n_lines_removed)
        for r in strip_boilerplate_lines(docs).collect()
    }
    assert out[0] == ("alpha\nmaybe\nmaybe", 1)
    assert out[1] == ("beta", 1)
    assert out[2] == ("gamma", 1)
    assert out[3] == ("delta\nfooter", 0)  # per-source threshold
    assert out[4] == ("epsilon", 0)


def test_strip_boilerplate_all_lines_removed(spark):
    from artis_data_ingest_spark.operators.clean import (
        strip_boilerplate_lines,
    )

    docs = spark.createDataFrame(
        [(0, "A", "same"), (1, "A", "same")],
        ["doc_id", "source", "text"],
    )
    out = {
        r.doc_id: (r.text, r.n_lines_removed)
        for r in strip_boilerplate_lines(docs).collect()
    }
    # every line boilerplate -> empty doc, not a dropped row
    assert out == {0: ("", 1), 1: ("", 1)}


def test_containment_dominates_jaccard_on_shared_pairs(spark):
    """|A∩B|/min(|A|,|B|) >= |A∩B|/|A∪B| always (min <= union), so for
    every candidate pair emitted by both operators the containment
    value must dominate the Jaccard value — pinning that the two
    verifies read the SAME shingle sets and candidate block."""
    from artis_data_ingest_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " extra tail words here"),
            (3, base.replace("quick", "speedy")),
            (4, "totally unrelated content with no overlap at all"),
            (5, base[:30]),  # short doc contained in the long ones
        ],
        ["doc_id", "text"],
    )
    jac = {
        (r.doc_id_a, r.doc_id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, min_jaccard=0.0).collect()
    }
    con = {
        (r.doc_id_a, r.doc_id_b): r.containment
        for r in ngram_containment_pairs(docs, min_containment=0.0).collect()
    }
    assert set(jac) == set(con)  # same candidate block
    assert jac, "candidate block unexpectedly empty"
    for pair, j in jac.items():
        assert con[pair] >= j - 1e-12, (pair, con[pair], j)
    # near-identical docs collide and containment tops jaccard
    key = (1, 2)
    assert con[key] > jac[key] > 0.5
    # the documented recall caveat, pinned: the short PREFIX doc (high
    # containment, LOW jaccard to doc 1) does NOT band-collide — LSH
    # bands block by jaccard, so extreme length-ratio containment needs
    # the n-gram equi-join block (q_contamination_ngram shape) instead
    assert (1, 5) not in con and (5, 1) not in con


def test_ngram_block_finds_prefix_quote_band_block_misses(spark):
    """The pair pinned ABSENT from the band block (short prefix doc,
    high containment / low jaccard) MUST be found by the word-n-gram
    block — the two blocking strategies cover complementary regimes."""
    from artis_data_ingest_spark.operators.dedup import (
        ngram_blocked_containment_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, base),
            (4, "totally unrelated content with no overlap at all"),
            (5, base[:30]),  # 6-word verbatim prefix quote of doc 1
        ],
        ["doc_id", "text"],
    )
    got = {
        (r.doc_id_a, r.doc_id_b): r.containment
        for r in ngram_blocked_containment_pairs(
            docs, min_containment=0.8
        ).collect()
    }
    assert (1, 5) in got and got[(1, 5)] > 0.9
    assert all(4 not in pair for pair in got)


def test_lm_perplexity_tail_catches_gibberish(spark):
    """The CCNet-style filter's point: fluent docs (tokens the trained
    LM has seen often) land in head, repetitive gibberish built from
    tokens the LM never saw lands in tail.  Train slice = doc_id%10==0;
    doc 11 repeats an OOV token (the repetition fixture shape), so its
    per-token log-prob is the OOV floor — the worst possible score."""
    from artis_data_ingest_spark.operators.lm import lm_perplexity_buckets

    common = "the quick brown fox jumps over the lazy dog"
    rows = [(i, common) for i in (0, 10, 20, 30)]  # training slice
    rows += [
        (1, common),
        (2, common + " quick brown"),
        (3, "the quick brown fox somewhatrare jumps"),
        (11, "zzqx zzqx zzqx zzqx zzqx zzqx zzqx zzqx"),  # OOV repetition
        (12, "the the the quick quick fox"),
        (13, common),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: r for r in lm_perplexity_buckets(docs).collect()}
    assert set(out) == {1, 2, 3, 11, 12, 13}  # train slice not scored
    assert out[11].bucket == "tail"
    assert out[1].bucket == "head"
    # keys are exact ints; identical docs get identical keys
    assert out[1].ppl_key == out[13].ppl_key
    # gibberish scores strictly worse than every fluent doc
    assert out[11].ppl_key > max(
        out[d].ppl_key for d in (1, 2, 3, 12, 13)
    )


def test_semantic_dedup_collapses_paraphrase_families(spark):
    """SemDeDup semantics: two tight near-parallel vector families
    each collapse to their centroid-closest member; the isolated
    cross-family vectors all survive (they are never compared —
    different clusters)."""
    from artis_data_ingest_spark.operators.similarity import (
        semantic_dedup,
    )

    fam_a = [
        (0, [1.0, 0.0, 0.0, 0.05]),
        (1, [1.0, 0.01, 0.0, 0.0]),   # ~parallel to 0
        (2, [0.99, 0.0, 0.02, 0.0]),  # ~parallel to 0
    ]
    fam_b = [
        (10, [0.0, 1.0, 0.0, 0.0]),
        (11, [0.0, 1.0, 0.03, 0.0]),  # ~parallel to 10
    ]
    loners = [
        (20, [0.0, 0.0, 1.0, 0.0]),
        (21, [0.0, 0.0, 0.0, 1.0]),
    ]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in fam_a + fam_b + loners],
        "vec_id bigint, embedding array<float>",
    )
    out = {r.vec_id: r for r in semantic_dedup(
        emb, k=4, n_iter=2, threshold=0.95
    ).collect()}
    kept = {v for v, r in out.items() if r.kept}
    # each family keeps exactly one member; all loners survive
    assert len(kept & {0, 1, 2}) == 1
    assert len(kept & {10, 11}) == 1
    assert {20, 21} <= kept
    # dropped members share their survivor's cluster
    for fam in ({0, 1, 2}, {10, 11}):
        cids = {out[v].cid for v in fam}
        assert len(cids) == 1

    # a vector equally close to two given centroids joins the lower
    # cid; an empty codebook assigns nothing
    cent = spark.createDataFrame(
        [(7, [1.0, 0.0, 0.0, 0.0]), (3, [0.0, 1.0, 0.0, 0.0])],
        "cid bigint, cemb array<double>",
    )
    tied = spark.createDataFrame(
        [(30, [1.0, 1.0, 0.0, 0.0])], "vec_id bigint, embedding array<float>"
    )
    got = semantic_dedup(tied, centroids=cent).collect()
    assert [(r.vec_id, r.cid, r.kept) for r in got] == [(30, 3, True)]
    assert semantic_dedup(tied, centroids=cent.limit(0)).count() == 0


def test_ppjoin_complete_recall_vs_bruteforce(spark):
    """PPJoin's selling point over LSH blocking: EXACT recall.  On a
    small corpus, the prefix-filtered result must equal the brute-force
    all-pairs word-set Jaccard >= 0.9 result, pair for pair."""
    from artis_data_ingest_spark.operators.dedup import ppjoin_pairs

    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
        (3, "alpha beta gamma delta epsilon zeta eta theta mu nu"),
        (4, "totally different words here nothing shared at all ok"),
        (5, "alpha beta gamma delta epsilon zeta eta theta iota kappa extra"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        (r.doc_id_a, r.doc_id_b): r.jaccard
        for r in ppjoin_pairs(
            docs, threshold_num=9, threshold_den=10
        ).collect()
    }
    # brute force in python
    sets = {i: set(t.split()) for i, t in rows}
    want = {}
    ids = sorted(sets)
    for i in ids:
        for j in ids:
            if i < j:
                inter = len(sets[i] & sets[j])
                uni = len(sets[i] | sets[j])
                if 10 * inter >= 9 * uni:
                    want[(i, j)] = round(inter / uni, 6)
    assert got == want
    assert (0, 1) in got and got[(0, 1)] == 1.0
    assert (0, 5) in got  # 10/11 = 0.909... >= 0.9
    assert (0, 2) not in got  # 9/11 < 0.9
    # default threshold (0.95): only the exact-duplicate pair survives
    strict = {
        (r.doc_id_a, r.doc_id_b) for r in ppjoin_pairs(docs).collect()
    }
    assert strict == {(0, 1)}


def test_triangle_counts_known_graph(spark):
    """K4 (4 triangles, each node in 3) plus a pendant edge and a
    disjoint triangle — degree orientation must count each triangle
    exactly once and credit all three corners."""
    from artis_data_ingest_spark.operators.graphs import triangle_counts

    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    extra = [(4, 5)]           # pendant: no new triangle
    tri = [(10, 11), (10, 12), (11, 12)]
    edges = spark.createDataFrame(
        k4 + extra + tri, "x bigint, y bigint"
    )
    out = {r.node: r.n_triangles for r in triangle_counts(edges).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3, 10: 1, 11: 1, 12: 1}


def test_lm_perplexity_partitioning_independent(spark):
    """The exact-integer design's point: identical keys and buckets
    under any input partitioning (float-sum implementations fail
    this)."""
    from artis_data_ingest_spark.operators.lm import lm_perplexity_buckets

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(60)
    a = {
        (r.doc_id, r.ppl_key, r.bucket)
        for r in lm_perplexity_buckets(docs).collect()
    }
    b = {
        (r.doc_id, r.ppl_key, r.bucket)
        for r in lm_perplexity_buckets(docs.repartition(7)).collect()
    }
    assert a == b and a


def test_html_main_content_drops_chrome_keeps_prose(spark):
    """Nav bars, ad units, script/style payloads and link-farm
    footers drop; prose paragraphs survive with exact text."""
    from artis_data_ingest_spark.sources.html import extract_main_content

    html = (
        '<html><head><script>tracking("evil")</script>'
        "<style>.a{}</style></head><body>"
        '<nav><a href="/">Home</a> <a href="/x">Docs</a></nav>'
        "<p>This is the first real paragraph of the article body text.</p>"
        '<div>Short ad <a href="/b">click here for deals</a></div>'
        "<p>The second paragraph also carries genuine prose content.</p>"
        '<footer><a href="/c">contact</a> <a href="/t">terms</a></footer>'
        "</body></html>"
    )
    df = spark.createDataFrame([(1, html)], "doc_id bigint, html string")
    rows = extract_main_content(df).orderBy("block_idx").collect()
    texts = [r.btext for r in rows]
    assert texts == [
        "This is the first real paragraph of the article body text.",
        "The second paragraph also carries genuine prose content.",
    ]
    # script payload must never leak into any block's text
    assert not any("tracking" in t for t in texts)


def test_kcore_cascade_and_fixpoint(spark):
    """A triangle with a pendant path: under k=2 the path peels ONE
    node per round from the free end inward (each interior node only
    drops below k after its outer neighbor is removed — a genuine
    multi-round cascade), and the triangle is the exact 2-core.  Also
    pins that the fixed-rounds variant used for oracle parity reaches
    the same answer as peel-to-fixpoint within the query's round
    budget."""
    from artis_data_ingest_spark.operators.graphs import kcore

    tri = [("t0", "t1"), ("t1", "t2"), ("t0", "t2")]
    # path t0 - p1 - p2 - p3 - p4: p4 peels first, then p3, p2, p1
    path = [("t0", "p1"), ("p1", "p2"), ("p2", "p3"), ("p3", "p4")]
    edges = spark.createDataFrame(tri + path, "x string, y string")
    got = {(r["node"], r["deg"]) for r in kcore(edges, 2).collect()}
    assert got == {("t0", 2), ("t1", 2), ("t2", 2)}
    fixed = {
        (r["node"], r["deg"]) for r in kcore(edges, 2, rounds=8).collect()
    }
    assert fixed == got


def test_kcore_local_distributed_parity(spark):
    """r16: the size-adaptive single-task peel must match the
    distributed rounds EXACTLY — at fixpoint, under a rounds cap that
    converges, and under a cap that does NOT converge (the partial
    per-round survivor sets and degrees are part of the contract; the
    oracle unrolls exactly that many CTE peels)."""
    from artis_data_ingest_spark.operators.graphs import kcore

    tri = [("t0", "t1"), ("t1", "t2"), ("t0", "t2")]
    path = [("t0", "p1"), ("p1", "p2"), ("p2", "p3"), ("p3", "p4")]
    edges = spark.createDataFrame(tri + path, "x string, y string")
    # bigint variant exercises the numeric factorize path
    iedges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (1, 4), (4, 5), (5, 6)], ["x", "y"]
    )
    # repeated (x, y) rows: the local kernel dedups in numpy, the
    # distributed rounds with a distinct; neither may count them twice
    dups = spark.createDataFrame(
        tri + path + tri[:2] + path[-1:], "x string, y string"
    )
    for e in (edges, iedges, dups):
        for rounds in (None, 1, 2, 8):
            loc = kcore(e, 2, rounds=rounds)
            dist = kcore(e, 2, rounds=rounds, local_edge_limit=0)
            # compare names+types; nullability is writer metadata
            # (mapInPandas defaults nullable, count() does not)
            assert [(f.name, f.dataType) for f in loc.schema] == [
                (f.name, f.dataType) for f in dist.schema
            ]
            assert {(r["node"], r["deg"]) for r in loc.collect()} == {
                (r["node"], r["deg"]) for r in dist.collect()
            }, f"mismatch at rounds={rounds}"
