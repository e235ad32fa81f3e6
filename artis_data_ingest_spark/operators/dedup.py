"""Deduplication operators for the documents table (SURVEY.md §2.11).

Four tiers, each a named query in the registry:

  * exact            — hash-groupBy on a normalized fingerprint
  * n-gram Jaccard   — shingle-set overlap for candidate pairs
  * MinHash + LSH    — banded min-hash signatures → bucket self-join
  * SimHash          — 64-bit bit-vote signature → hamming candidates

Scale design: every variant is generate-candidates-then-verify. The
candidate generators are equi-joins on derived keys (fingerprint, LSH
band bucket, simhash prefix), so they shuffle-partition by key and never
materialize the O(N²) pair space. Verification (exact Jaccard) runs only
on candidate pairs. Murmur3 (`F.hash`) / xxhash64 are seed-stable inside
Spark, so results are deterministic run-to-run (not across engines —
hence rows-only oracle checks for the hash-based tiers).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.textstats import fingerprint
from .scale import LOCAL_EDGE_LIMIT, checkpoint_gate, spread_cpu_bound


def char_shingles(col: str | Column, k: int = 3) -> Column:
    """Distinct character k-grams of the lowercased text.

    Texts shorter than ``k`` (including empty/null) yield an EMPTY array:
    without the guard, ``sequence(1, length-k+1)`` evaluates
    ``sequence(1, 0)`` which Spark renders as the *descending* ``[1, 0]``
    — producing phantom shingles for short texts and diverging from the
    DuckDB oracle's empty list (its ``range(1, n)`` is empty for n ≤ 1).
    """
    c = F.lower(col if isinstance(col, Column) else F.col(col))
    shingled = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.length(c) - (k - 1)),
            lambda i: c.substr(i, F.lit(k)),
        )
    )
    return F.when(F.length(c) >= k, shingled).otherwise(
        F.array().cast("array<string>")
    )


def encoded_shingles(col: str | Column, k: int = 3) -> Column:
    """Distinct character k-grams packed injectively into BIGINTs:
    codepoint_1·2^42 + codepoint_2·2^21 + codepoint_3 (codepoints are
    < 2^21, so k=3 fits 63 bits losslessly).  Set operations over the
    encoded arrays are exactly equivalent to the string form — used by
    the Jaccard verify, where hashing long elements beats hashing
    strings severalfold.  Requires k <= 3."""
    if k > 3:
        raise ValueError("encoded_shingles supports k <= 3 only")
    c = F.lower(col if isinstance(col, Column) else F.col(col))
    def gram(i: Column) -> Column:
        enc = F.ascii(c.substr(i, F.lit(1))).cast("bigint")
        for off in range(1, k):
            enc = enc * (2 ** 21) + F.ascii(
                c.substr(i + off, F.lit(1))
            ).cast("bigint")
        return enc
    shingled = F.array_distinct(
        F.transform(F.sequence(F.lit(1), F.length(c) - (k - 1)), gram)
    )
    return F.when(F.length(c) >= k, shingled).otherwise(
        F.array().cast("array<bigint>")
    )


def exact_dedup(
    docs: DataFrame, text_col: str = "text", unicode_norm: bool = False
) -> DataFrame:
    """Exact dedup via normalized-fingerprint groupBy: one row per
    distinct fingerprint with the canonical (min) doc_id and copy count.
    Equivalent semantics to ``dropDuplicates`` but keeps provenance.

    ``unicode_norm=True`` canonicalizes Unicode first (zero-width strip
    → NFC → lowercase, see ``unicode_canon``) and fingerprints the
    letter/digit skeleton with ``\\p{L}\\p{N}`` classes so accented
    letters survive into the key: the default ASCII skeleton deletes
    non-ASCII outright, so precomposed ``é`` (deleted) and decomposed
    ``e``+U+0301 (keeps the ``e``) yield DIFFERENT fingerprints for
    canonically-equal text — exactly the near-miss this mode closes."""
    if unicode_norm:
        from ..functions.strings import unicode_canon

        key = F.md5(
            F.regexp_replace(
                unicode_canon(text_col), r"[^\p{L}\p{N}]", ""
            )
        )
        return (
            docs.select(F.col("doc_id"), key.alias("fp"))
            .groupBy("fp")
            .agg(
                F.min("doc_id").alias("keep_doc_id"),
                F.count(F.lit(1)).alias("n_copies"),
            )
        )
    return (
        docs.select(F.col("doc_id"), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def jaccard(a: Column, b: Column) -> Column:
    """Jaccard similarity of two distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b))
    return inter / (F.size(a) + F.size(b) - inter)


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 3,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """N-gram Jaccard near-dup pairs with *content-based* blocking.

    Candidates come from the portable-MinHash LSH band buckets (docs
    sharing any band of the 8-hash signature) — a real similarity block
    that finds near-dup pairs at arbitrary doc_id distance, unlike the
    earlier doc_id-adjacency stand-in which only ever compared
    consecutively-loaded rows.  Verification is exact Jaccard on the
    character-shingle sets, keeping pairs with ``jaccard >=
    min_jaccard``.  Candidate generation is one explode + one equi
    self-join on the band key (linear, no O(N²) pair space); the wide
    shingle arrays join back only for the verify step.

    Recall is probabilistic, bounded by the LSH stage: only pairs
    sharing at least one of the 4 bands (8 hashes) are candidates, so
    a borderline true pair can be missed (~68% band-collision
    probability at jaccard=0.5; rises steeply above it).  Callers
    needing exhaustive ``>= min_jaccard`` output must widen the
    signature/bands, not treat this as exact.
    """
    docs = spread_cpu_bound(
        docs.filter(F.length(F.lower(F.col(text_col))) >= k)
    )
    # verify on ENCODED shingle sets: for k <= 3 each k-gram packs
    # injectively into a bigint (21 bits per codepoint), and
    # array_intersect over longs is several times cheaper than over
    # strings (the verify hashes ~300 elements per candidate pair —
    # the dominant cost at 7.7M pairs).  The encoding is bijective, so
    # every jaccard value is identical to the string-set form (pinned
    # by test); k > 3 falls back to string shingles.
    if k <= 3:
        sh = docs.select(
            F.col("doc_id"), encoded_shingles(text_col, k).alias("shingles")
        )
    else:
        sh = docs.select(
            F.col("doc_id"), char_shingles(text_col, k).alias("shingles")
        )
    # explicit repartition: candidate pairs are byte-small and AQE
    # would coalesce them to ~1 partition, serializing the CPU-heavy
    # Jaccard verify (see minhash_lsh_candidates)
    cands = (
        portable_minhash_candidates(docs, text_col, k)
        .select("doc_id_a", "doc_id_b")
        .repartition(docs.sparkSession.sparkContext.defaultParallelism)
    )
    return (
        cands.join(
            sh.select(
                F.col("doc_id").alias("doc_id_a"),
                F.col("shingles").alias("sh_a"),
            ),
            on="doc_id_a",
        )
        .join(
            sh.select(
                F.col("doc_id").alias("doc_id_b"),
                F.col("shingles").alias("sh_b"),
            ),
            on="doc_id_b",
        )
        .withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= min_jaccard)
        .select("doc_id_a", "doc_id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

# Mersenne-ish prime for the universal-hash family h_i(x) = (a_i*x + b_i) mod P.
_P = 2_147_483_647


def _perm_params(n: int) -> list[tuple[int, int]]:
    # Fixed (seeded) parameters so signatures are reproducible run-to-run.
    rnd = []
    a, b = 1_103_515_245, 12_345
    x = 42
    for _ in range(n):
        x = (a * x + b) % _P
        pa = x | 1  # odd, nonzero
        x = (a * x + b) % _P
        rnd.append((pa, x))
    return rnd


def minhash_signature(
    shingles: Column, n_hashes: int = 32
) -> Column:
    """MinHash signature: for each universal hash h_i, the min over the
    shingle set of h_i(murmur3(shingle)).

    Single-pass construction: one fold over the shingle array carrying
    all ``n_hashes`` running minimums as an array accumulator. The naive
    form — ``n_hashes`` separate ``array_min(transform(base, ...))``
    expressions — re-evaluates the murmur3 base array once *per hash*
    (Catalyst does not CSE across higher-order-function lambdas), which
    made the signature ~30x more expensive than necessary. Min is
    commutative/associative, so the fold yields bit-identical values.
    Empty shingle sets produce an all-null signature, matching the
    naive form's ``array_min([]) = NULL``.
    """
    params = _perm_params(n_hashes)

    # per shingle: murmur3 → the n_hashes permuted values, computed once
    def _perms(s: Column) -> Column:
        x = (F.abs(F.hash(s)) % _P).cast("bigint")
        return F.array(
            *[(x * F.lit(pa).cast("bigint") + pb) % _P for pa, pb in params]
        )

    init = F.array(*[F.lit(_P).cast("bigint")] * n_hashes)
    folded = F.aggregate(
        F.transform(shingles, _perms),
        init,
        lambda acc, arr: F.zip_with(acc, arr, lambda a, b: F.least(a, b)),
    )
    null_sig = F.array(
        *[F.lit(None).cast("bigint")] * n_hashes
    )
    return F.when(F.size(shingles) > 0, folded).otherwise(null_sig)


def murmur_minhash_sig_table(
    t: DataFrame, k: int = 3, n_hashes: int = 32
) -> DataFrame:
    """Murmur3 MinHash signature as COLUMNS (doc_id, m0..m{n-1}) — the
    codegen hot path (same shape as ``portable_minhash_sig_table``):
    explode k-gram start positions, murmur3 the substring in place,
    grouped-min per permutation.  No shingle array, no interpreted
    lambda; map-side combine collapses to one row per doc per partition
    before the exchange.  ``t`` must have (doc_id, t) with ``t``
    lowercased and at least ``k`` chars (duplicate k-grams are fine —
    MIN ignores them).  Bit-identical to the ``minhash_signature``
    array-fold reference form (pinned by test)."""
    params = _perm_params(n_hashes)
    x = (
        F.abs(F.hash(F.col("t").substr(F.col("i"), F.lit(k)))) % _P
    ).cast("bigint")
    return (
        t.select(
            "doc_id",
            "t",
            F.explode(
                F.sequence(F.lit(1), F.length("t") - (k - 1))
            ).alias("i"),
        )
        .select("doc_id", x.alias("x"))
        .groupBy("doc_id")
        .agg(
            *[
                F.min(
                    (F.col("x") * F.lit(pa).cast("bigint") + pb) % _P
                ).alias(f"m{i}")
                for i, (pa, pb) in enumerate(params)
            ]
        )
    )


def minhash_lsh_candidates(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 3,
    n_hashes: int = 32,
    bands: int = 8,
    min_jaccard: float = 0.7,
    salt_buckets: int | None = 8,
) -> DataFrame:
    """MinHash+LSH near-dup pipeline: shingle → signature → band buckets
    → bucket self-join → exact-Jaccard verify ≥ ``min_jaccard``.

    With 32 hashes in 8 bands of 4 rows, pairs with Jaccard j collide in
    some band with p = 1-(1-j^4)^8 (j=0.5 → ~41%, j=0.8 → ~98%).
    The band bucket join shuffles by (band, bucket-hash) — linear in
    corpus size; only colliding candidates reach the verify join.

    Skew hardening (``salt_buckets``, default 8): a viral duplicate
    family at 100 TB lands thousands of docs in ONE (band, bucket) key,
    and a plain self-join serializes that bucket's O(B²) pair
    generation into one reducer.  With salting, the probe side carries
    ``pmod(hash(doc_id), S)`` and the build side is replicated once per
    salt value, the join key becoming (band, bucket, salt) — each pair
    still generated exactly once (by the build replica matching the
    probe row's salt), but the hot bucket's work spreads across S
    reducers.  Cost: the build side of the CANDIDATE join (3 small int
    columns, pre-verify) is duplicated S×, the classic skewed-self-join
    trade.  ``None`` disables salting (the portable oracle twin stays
    unsalted so the DuckDB SQL needs no replication logic).
    """
    rows = n_hashes // bands
    t = spread_cpu_bound(
        docs.filter(F.length(F.lower(F.col(text_col))) >= k)
    ).select("doc_id", F.lower(F.col(text_col)).alias("t"))
    sig = murmur_minhash_sig_table(t, k, n_hashes)
    # candidate generation moves only (doc_id, band, bucket) — the big
    # shingle arrays would otherwise ride through the pair-explosion
    # shuffle and its dedup exchange, dominating the job's IO; shingles
    # are computed afterwards, once, for the verify step
    banded = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.hash(
                            F.array(
                                *[
                                    F.col(f"m{i * rows + j}")
                                    for j in range(rows)
                                ]
                            )
                        ).alias("bucket"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    if salt_buckets:
        a = banded.withColumn(
            "salt", F.pmod(F.hash("doc_id"), F.lit(salt_buckets))
        ).alias("a")
        b = banded.withColumn(
            "salt",
            F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1))),
        ).alias("b")
        cond = (
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.salt") == F.col("b.salt"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
        )
    else:
        a, b = banded.alias("a"), banded.alias("b")
        cond = (
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
        )
    cands = (
        a.join(b, cond)
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
        .distinct()
    )
    # pin the verify parallelism: candidate pairs are byte-small, so
    # AQE coalesces the distinct's output to ~1 partition, serializing
    # the CPU-heavy array_intersect verify (290s single-core at sf0.1).
    # An explicit repartition is exempt from AQE coalescing; the extra
    # shuffle moves only (id, id) pairs.
    cands = cands.repartition(
        docs.sparkSession.sparkContext.defaultParallelism
    )
    shingle_tbl = t.select(
        "doc_id",
        (
            encoded_shingles("t", k) if k <= 3 else char_shingles("t", k)
        ).alias("shingles"),
    )
    return (
        cands.join(
            shingle_tbl.select(
                F.col("doc_id").alias("doc_id_a"),
                F.col("shingles").alias("sh_a"),
            ),
            on="doc_id_a",
        )
        .join(
            shingle_tbl.select(
                F.col("doc_id").alias("doc_id_b"),
                F.col("shingles").alias("sh_b"),
            ),
            on="doc_id_b",
        )
        .withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= min_jaccard)
        .select("doc_id_a", "doc_id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash64(col: str | Column, n_bits: int = 64) -> Column:
    """64-bit SimHash over whitespace tokens: per bit, sum +1/-1 votes
    from each token's xxhash64; bit set where the vote is positive.

    Built as a single expression: for each bit position, count tokens
    whose hash has that bit set vs total — JVM-side, no UDF."""
    c = col if isinstance(col, Column) else F.col(col)
    toks = F.split(F.trim(F.lower(c)), r"[ \t\n\r\f\x0B]+")
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    n = F.size(hashes)

    def _bit_test(i: int):
        return lambda h: F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1

    bit_terms = []
    for i in range(n_bits):
        ones = F.size(F.filter(hashes, _bit_test(i)))
        # bit i set iff more ones than zeros among token hashes; bit 63
        # contributes the (negative) sign bit of the long
        weight = F.lit(2**i if i < 63 else -(2**63)).cast("long")
        bit_terms.append(
            F.when(ones * 2 > n, weight).otherwise(F.lit(0).cast("long"))
        )
    out = bit_terms[0]
    for t in bit_terms[1:]:
        out = out + t
    return out


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_sig_table(
    docs: DataFrame, text_col: str = "text", n_bits: int = 64
) -> DataFrame:
    """SimHash signatures as a (doc_id, sig) table — the codegen hot
    path.  ``simhash64`` re-scans the token-hash array once per bit
    through 64 interpreted higher-order filters; here tokens explode
    once and the 64 bit votes become grouped ±1 sums (one map-side-
    combined aggregation), after which the bits assemble in a single
    projection.  Votes are integer sums, so results equal the
    column-form exactly (pinned by test).  Docs with NULL text are
    dropped (the column form gave them signature 0)."""
    t = spread_cpu_bound(docs).select(
        "doc_id", F.trim(F.lower(F.col(text_col))).alias("t")
    )
    tok = t.select(
        "doc_id", F.explode(F.split("t", r"[ \t\n\r\f\x0B]+")).alias("tk")
    ).select("doc_id", F.xxhash64("tk").alias("h"))
    votes = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
            ).alias(f"v{i}")
            for i in range(n_bits)
        ]
    )
    sig = None
    for i in range(n_bits):
        weight = F.lit(2**i if i < 63 else -(2**63)).cast("long")
        term = F.when(F.col(f"v{i}") > 0, weight).otherwise(
            F.lit(0).cast("long")
        )
        sig = term if sig is None else sig + term
    return votes.select("doc_id", sig.alias("sig"))


def simhash_candidates(
    docs: DataFrame,
    text_col: str = "text",
    max_hamming: int = 12,
    prefix_bits: int = 8,
) -> DataFrame:
    """SimHash near-dup candidates: block on the top ``prefix_bits`` of
    the signature (near-dups usually agree on high bits), then verify
    hamming distance ≤ ``max_hamming`` within blocks."""
    sig = simhash_sig_table(docs, text_col).withColumn(
        "blk", F.shiftrightunsigned("sig", 64 - prefix_bits)
    )
    a, b = sig.alias("a"), sig.alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .withColumn("hamming", hamming64(F.col("a.sig"), F.col("b.sig")))
        .filter(F.col("hamming") <= max_hamming)
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            "hamming",
        )
    )


# ---------------------------------------------------------------------------
# Portable MinHash — cross-engine-deterministic variant
# ---------------------------------------------------------------------------

# Small prime so every intermediate of the rolling hash and the affine
# permutations stays far below 2^63 in both engines.
_PORTABLE_P = 1_000_003
_PORTABLE_PERMS = [(2 * i + 3, 7 * i + 1) for i in range(8)]
_PORTABLE_BANDS = 4  # 4 bands x 2 rows over the 8-hash signature


def portable_shingle_hash(shingle: Column) -> Column:
    """Engine-portable string hash: a base-31 polynomial rolling hash of
    the character codepoints, mod a small prime — pure arithmetic that
    Spark's `aggregate` and DuckDB's `list_reduce` fold identically
    (unlike murmur3/xxhash64, which differ per engine)."""
    codes = F.transform(
        F.split(shingle, ""), lambda c: F.ascii(c).cast("bigint")
    )
    return F.aggregate(
        codes,
        F.lit(0).cast("bigint"),
        lambda acc, c: (acc * 31 + c) % _PORTABLE_P,
    )


def portable_shingle_hash_fixed(shingle: Column, k: int) -> Column:
    """Unrolled ``portable_shingle_hash`` for fixed-length shingles.

    For a k-char string the base-31 fold is congruent to
    ``(c1·31^(k-1) + … + ck) mod p`` (mod distributes over + and ·, and
    every intermediate stays ≪ 2^63 for small k), so the interpreted
    per-char ``aggregate`` lambda collapses to straight arithmetic —
    ~2× faster on the MinHash hot path, bit-identical results.
    """
    expr = F.ascii(F.substring(shingle, 1, 1)).cast("bigint")
    for i in range(2, k + 1):
        expr = expr * 31 + F.ascii(F.substring(shingle, i, 1)).cast("bigint")
        # Reduce mod p every 8 chars: without this the raw polynomial
        # exceeds 2^63 at k>=10 (codepoints reach ~2^20; 31^9 * 2^20 >
        # bigint) and overflows silently.  Mod distributes over + and *,
        # so interleaved reduction is bit-identical to the rolled
        # per-char fold for every k; between reductions the value is
        # bounded by (p + 0x10FFFF) * 31^8 < 2^61.
        if i % 8 == 0:
            expr = expr % _PORTABLE_P
    return expr % _PORTABLE_P


def portable_minhash_signature(
    shingles: Column, shingle_len: int | None = None
) -> Column:
    """8-hash MinHash signature over ``portable_shingle_hash`` values —
    bit-identical in Spark and DuckDB, which makes the LSH pipeline
    oracle-checkable end-to-end. The murmur3-based
    ``minhash_signature`` remains the scale path (JVM-native hashing,
    32 hashes); this is its cross-engine correctness twin.

    ``shingle_len`` (the k of fixed-length char shingles) switches the
    per-shingle hash to the unrolled arithmetic form — same values,
    no interpreted per-char fold."""
    # single-pass fold (see minhash_signature): the rolling hash per
    # shingle is computed once, not once per permutation
    def _perms(s: Column) -> Column:
        h = (
            portable_shingle_hash_fixed(s, shingle_len)
            if shingle_len
            else portable_shingle_hash(s)
        )
        return F.array(
            *[(F.lit(a) * h + b) % _PORTABLE_P for a, b in _PORTABLE_PERMS]
        )

    n = len(_PORTABLE_PERMS)
    init = F.array(*[F.lit(_PORTABLE_P).cast("bigint")] * n)
    folded = F.aggregate(
        F.transform(shingles, _perms),
        init,
        lambda acc, arr: F.zip_with(acc, arr, lambda a, b: F.least(a, b)),
    )
    return F.when(
        F.size(shingles) > 0, folded
    ).otherwise(F.array(*[F.lit(None).cast("bigint")] * n))


def portable_minhash_sig_table(
    docs: DataFrame, text_col: str = "text", k: int = 3
) -> DataFrame:
    """Per-doc portable MinHash signature as COLUMNS (doc_id, m0..m7),
    computed batch-vectorized in numpy through ``mapInPandas`` (r15).

    The r14 formulation exploded every k-gram start position and took
    ``groupBy(doc_id).agg(min(...))`` — fully codegen'd, but it
    materializes a row per character position through an exchange-
    feeding aggregation.  Per the optimization-guide §4.2 sweet spot,
    handing whole Arrow batches to numpy beats the JVM expression
    chain: each batch's lowered texts concatenate into ONE UTF-32
    codepoint array (``str.encode('utf-32-le')`` is the vectorized
    equivalent of Spark's per-character ``ascii()``), the base-31
    rolling hash evaluates as a vectorized Horner fold with the same
    interleaved mod-every-8-chars reduction as
    ``portable_shingle_hash_fixed`` (bit-identical by the same
    congruence argument), windows crossing document boundaries are
    neutralized to P (> any real residue), and per-doc minima come
    from one ``np.minimum.reduceat`` per permutation.  Measured at
    sf0.1: 1.39 s -> 0.79 s; at the 10x corpus 3.34 s -> 1.00 s
    (noop-sink floors, identical output pinned by the unicode
    property test and the full hash-oracle gate).

    Lowercasing happens IN SPARK (the batch ships the lowered text),
    so JVM/Python case-mapping differences cannot leak in.  The
    no-shingle guard stays the cheap predicate length(lower) >= k so
    it pushes below the spread exchange; it also guarantees every doc
    in a batch owns at least one window, which ``reduceat`` needs.

    Precondition (ADVICE r15 #3): ``doc_id`` must be UNIQUE in
    ``docs``.  This emits one signature row per INPUT row; the r14
    groupBy formulation silently merged duplicate doc_ids, this one
    would emit duplicates that double-count downstream band pairs.
    Every caller feeds a primary-key doc table; dedupe upstream if
    yours does not.
    """
    import numpy as np
    import pandas as pd

    src = spread_cpu_bound(
        docs.filter(F.length(F.lower(F.col(text_col))) >= k)
    ).select("doc_id", F.lower(F.col(text_col)).alias("t"))
    n_perm = len(_PORTABLE_PERMS)
    schema = "doc_id bigint, " + ", ".join(
        f"m{i} bigint" for i in range(n_perm)
    )
    perms = list(_PORTABLE_PERMS)
    p = _PORTABLE_P

    def _sig_batches(it):
        empty = {
            "doc_id": np.array([], dtype=np.int64),
            **{
                f"m{i}": np.array([], dtype=np.int64)
                for i in range(n_perm)
            },
        }
        for pdf in it:
            texts = pdf["t"].tolist()
            if not texts:
                yield pd.DataFrame(empty)
                continue
            lens = np.fromiter(
                (len(t) for t in texts), dtype=np.int64, count=len(texts)
            )
            codes = np.frombuffer(
                "".join(texts).encode("utf-32-le"), dtype="<u4"
            ).astype(np.int64)
            n_win = codes.size - (k - 1)
            # vectorized Horner fold over all window positions, mod p
            # interleaved every 8 chars exactly like
            # portable_shingle_hash_fixed (same congruence, no overflow)
            h = codes[:n_win].copy()
            for j in range(1, k):
                h *= 31
                h += codes[j : n_win + j]
                if (j + 1) % 8 == 0:
                    h %= p
            h %= p
            starts = np.zeros(len(texts), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            # neutralize the k-1 window positions at each internal doc
            # boundary (they mix two docs); the final doc has no
            # positions past n_win, and length >= k means every doc
            # keeps at least one real window
            if len(texts) > 1:
                ends = starts[1:]  # next-doc starts == this doc's end
                bad = np.concatenate(
                    [ends - off for off in range(1, k)]
                )
                bad = bad[(bad >= 0) & (bad < n_win)]
            else:
                bad = np.array([], dtype=np.int64)
            out = {"doc_id": pdf["doc_id"].to_numpy()}
            for i, (a, b) in enumerate(perms):
                v = (a * h + b) % p
                if bad.size:
                    v[bad] = p
                out[f"m{i}"] = np.minimum.reduceat(v, starts)
            yield pd.DataFrame(out)

    return src.mapInPandas(_sig_batches, schema)


def _band_keys_from_cols(prefix: str = "") -> F.Column:
    """Band-key array over the m0..m7 signature columns."""
    return F.array(
        *[
            F.concat_ws(
                "-",
                F.lit(str(j)),
                F.col(f"{prefix}m{2 * j}").cast("string"),
                F.col(f"{prefix}m{2 * j + 1}").cast("string"),
            )
            for j in range(_PORTABLE_BANDS)
        ]
    )


def portable_minhash_candidates(
    docs: DataFrame, text_col: str = "text", k: int = 3
) -> DataFrame:
    """LSH candidate pairs from the portable signature: band keys are
    '<band_idx>-<sig[2j]>-<sig[2j+1]>'; docs sharing any band key pair
    up. Returns (doc_id_a, doc_id_b, n_bands) with the shared-band
    count. One explode + one equi-self-join on the band key — linear
    candidate generation, no corpus cross join."""
    sh = portable_minhash_sig_table(docs, text_col, k)
    b = sh.select("doc_id", F.explode(_band_keys_from_cols()).alias("band"))
    x, y = b.alias("x"), b.alias("y")
    return (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .groupBy(
            F.col("x.doc_id").alias("doc_id_a"),
            F.col("y.doc_id").alias("doc_id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )


def portable_minhash_pair_stats(
    docs: DataFrame, text_col: str = "text", k: int = 3
) -> DataFrame:
    """Corpus-level LSH candidate-pair statistics WITHOUT enumerating
    pairs: one row of (n_pairs, sum_bands, n_docs_in_pairs).

    Near-dup corpora are dominated by exact duplicates, which makes the
    doc-level pair space quadratic in duplicate-class size (sf0.1: 5000
    docs → 7.7M pairs but only 753 distinct signatures).  Docs are
    collapsed to their full signature first; identical-signature pairs
    are counted analytically (C(g,2), all 4 bands shared) and only
    DISTINCT signatures enter the band self-join — the shuffle shrinks
    by the square of the duplication factor.  This is the production
    dedup shape at 100 TB: collapse exact dups before near-dup work.

    ``n_docs_in_pairs`` counts docs appearing in ANY candidate pair
    (either side): its signature class has g ≥ 2, or collides with
    another class in some band.

    r16 — NO pair enumeration at all (guide §2.3/§2.4; previously a
    band self-join emitted C(k,2) rows per band bucket — 8.2M class
    pairs at the 100x corpus, the query's 10x-ratio wall).  Every
    output scalar has a bucket-level closed form:

      * For any band subset S, the classes agreeing on all bands of S
        partition into buckets of the concatenated key, and the
        weighted pair sum over a bucket is ((Σg)² − Σg²)/2 — one hash
        aggregation over the class table, no join.
      * ``inter_bands`` = Σ_j W_{j} (a pair sharing nb bands is
        counted in exactly nb single-band terms).
      * ``inter_pairs`` (each pair ONCE) = inclusion–exclusion over
        non-empty band subsets: Σ_S (−1)^{|S|+1} W_S.  The |S|=4 term
        is identically zero — agreeing on all 4 bands means the full
        signature, and classes are distinct signatures.
      * ``n_docs_in_pairs``: a class is in some pair iff g ≥ 2 or any
        of its band buckets holds ≥ 2 classes — a per-band bucket
        count joined back, never a pair.

    All integer arithmetic ((Σg)² − Σg² is even, so the halving is
    exact); verified value-identical to the pair-enumerating form and
    oracle-hash-checked (the oracle still enumerates doc pairs).
    """
    sh = portable_minhash_sig_table(docs, text_col, k).select(
        "doc_id",
        F.concat_ws(
            "|",
            *[
                F.col(f"m{i}").cast("string")
                for i in range(len(_PORTABLE_PERMS))
            ],
        ).alias("sig_key"),
    )
    # duplication-bounded class table (13.9k rows at the 100x corpus)
    # feeding every aggregate branch — materialize once or the whole
    # signature pipeline re-executes per branch (r15, measured ~4x at
    # 100x)
    parts = F.split(F.col("sig_key"), r"\|")
    band_cols = [
        F.concat_ws(
            "-",
            F.element_at(parts, 2 * j + 1),
            F.element_at(parts, 2 * j + 2),
        ).alias(f"b{j}")
        for j in range(_PORTABLE_BANDS)
    ]
    groups = (
        sh.groupBy("sig_key")
        .agg(F.count(F.lit(1)).alias("g"))
        .select("sig_key", F.col("g").cast("bigint").alias("g"), *band_cols)
        .localCheckpoint()
    )

    from itertools import combinations

    subsets = [
        s
        for size in (1, 2, 3)
        for s in combinations(range(_PORTABLE_BANDS), size)
    ]
    signs = {
        sid: 1 if len(s) % 2 == 1 else -1 for sid, s in enumerate(subsets)
    }
    single_sids = [
        sid for sid, s in enumerate(subsets) if len(s) == 1
    ]
    # ONE exploded proxy table — (subset id, composite key, g) — so
    # every W_S comes out of a single (sid, key) aggregation instead
    # of 13 independent shuffles of pure stage latency (first cut of
    # this rewrite measured 2.6x SLOWER at sf0.1 for exactly that
    # reason; this shape wins at every scale)
    entries = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(sid).alias("sid"),
                    F.concat_ws(
                        "-", *[F.col(f"b{j}") for j in s]
                    ).alias("key"),
                )
                for sid, s in enumerate(subsets)
            ]
        )
    ).alias("e")
    rows = groups.select("sig_key", "g", entries).select(
        "sig_key", "g", "e.sid", "e.key"
    )
    bucket = rows.groupBy("sid", "key").agg(
        F.sum("g").alias("sg"),
        F.sum(F.col("g") * F.col("g")).alias("sg2"),
        F.count(F.lit(1)).alias("nc"),
    ).localCheckpoint()  # consumed by the W sums AND the hot-bucket
    # flag: un-materialized, the explode+shuffle re-executed per
    # branch (measured 6.9 vs 3.8 s at 100x)
    sign_col = F.coalesce(
        *[
            F.when(F.col("sid") == sid, F.lit(sg))
            for sid, sg in signs.items()
        ]
    )
    wagg = bucket.select(
        "sid",
        # (Σg)² − Σg² is even; >> 1 is the EXACT halving (a float /2
        # would silently lose exactness past 2^53 at extreme scale)
        F.shiftright(
            F.col("sg") * F.col("sg") - F.col("sg2"), 1
        ).alias("w"),
    ).agg(
        F.coalesce(
            F.sum(F.when(F.col("sid").isin(single_sids), F.col("w"))),
            F.lit(0),
        ).cast("bigint").alias("inter_bands"),
        F.coalesce(F.sum(sign_col * F.col("w")), F.lit(0))
        .cast("bigint")
        .alias("inter_pairs"),
    )
    intra = groups.agg(
        F.coalesce(
            F.sum((F.col("g") * (F.col("g") - 1) / 2).cast("bigint")),
            F.lit(0).cast("bigint"),
        ).alias("intra_pairs")
    )
    # per-band hot buckets (≥ 2 classes) → "class shares some band"
    # flag via one broadcast semi-join over the single-band rows —
    # still no pair enumeration anywhere
    hot = bucket.filter(
        F.col("sid").isin(single_sids) & (F.col("nc") >= 2)
    ).select("sid", "key")
    shared = (
        rows.filter(F.col("sid").isin(single_sids))
        .join(F.broadcast(hot), on=["sid", "key"], how="left_semi")
        .select("sig_key")
        .distinct()
        .withColumn("ext", F.lit(True))
    )
    docs_in = (
        groups.join(shared, on="sig_key", how="left")
        .filter((F.col("g") >= 2) | F.col("ext").isNotNull())
        .agg(
            F.coalesce(F.sum("g"), F.lit(0).cast("bigint")).alias(
                "n_docs_in_pairs"
            )
        )
    )
    return (
        intra.crossJoin(wagg)
        .crossJoin(docs_in)
        .select(
            (F.col("intra_pairs") + F.col("inter_pairs")).alias("n_pairs"),
            (F.lit(_PORTABLE_BANDS) * F.col("intra_pairs")
             + F.col("inter_bands")).alias("sum_bands"),
            "n_docs_in_pairs",
        )
    )


_PORTABLE_SIMHASH_BITS = 16
_PORTABLE_SIMHASH_MOD = 65536  # low 16 bits of the rolling hash


def portable_simhash(col: str | Column) -> Column:
    """16-bit SimHash over whitespace tokens using the engine-portable
    rolling hash (low 16 bits): per bit, majority vote of token-hash
    bits. Cross-engine-deterministic twin of ``simhash64`` (xxhash64,
    Spark-only) — same majority-vote construction, oracle-checkable."""
    c = col if isinstance(col, Column) else F.col(col)
    toks = F.filter(
        F.split(F.trim(F.lower(c)), r"[ \t\n\r\f\x0B]+"), lambda t: t != ""
    )
    hashes = F.transform(
        toks, lambda t: portable_shingle_hash(t) % _PORTABLE_SIMHASH_MOD
    )
    n = F.size(hashes)

    def _bit_test(i: int):
        return lambda h: F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1

    out = F.lit(0).cast("bigint")
    for i in range(_PORTABLE_SIMHASH_BITS):
        ones = F.size(F.filter(hashes, _bit_test(i)))
        out = out + F.when(
            ones * 2 > n, F.lit(2**i).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
    return out


def portable_simhash_candidates(
    docs: DataFrame, text_col: str = "text", max_hamming: int = 3
) -> DataFrame:
    """Near-dup candidates from the portable SimHash: byte-block the
    16-bit signature (pairs share the high or the low byte — a pair
    within hamming ``b`` of each other always agrees on one block when
    its differing bits fall in the other), then exact hamming ≤
    ``max_hamming`` verify. Returns (doc_id_a, doc_id_b, hamming)."""
    # cheap no-token guard (tokens are empty iff the trimmed text is);
    # a filter on the token array would be pushed below the spread
    # exchange and re-run the tokenization single-threaded at the scan
    sh = spread_cpu_bound(
        docs.filter(F.trim(F.lower(F.col(text_col))) != "")
    ).select("doc_id", portable_simhash(text_col).alias("sig"))
    bands = F.array(
        F.concat_ws("-", F.lit("hi"), F.shiftright("sig", 8).cast("string")),
        F.concat_ws(
            "-", F.lit("lo"), F.col("sig").bitwiseAND(F.lit(255)).cast("string")
        ),
    )
    b = sh.select("doc_id", "sig", F.explode(bands).alias("band"))
    x, y = b.alias("x"), b.alias("y")
    return (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_id_a"),
            F.col("y.doc_id").alias("doc_id_b"),
            F.bit_count(
                F.col("x.sig").bitwiseXOR(F.col("y.sig"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def _cc_union_find(sym0: DataFrame) -> DataFrame:
    """Close a SMALL symmetrized edge list ``(a, b)`` into components in
    one single-task pass: classic union-find with path compression,
    then each node labeled with its component's minimum member.

    Output is identical to the distributed min-label rounds: (node,
    cluster) over every edge endpoint, cluster = component min.  The
    min comparison matches Spark's ordering for the label types in use
    (Python int == bigint order; Python str compares by code point,
    which equals Spark's UTF8 byte order because UTF-8 is
    order-preserving over code points).

    The caller guards size (``operators.scale.checkpoint_gate``): this
    runs only when the whole edge list fits one Python worker, where a
    dict union-find is ~1µs/edge — microseconds-to-seconds versus the
    ~5 sequential AQE stages *per propagation round* the distributed
    path pays (guide §1.2; the r15 driver measured q_dup_clusters'
    rounds nearly core-count-invariant at 100x: pure stage latency).
    """
    node_t = sym0.schema["a"].dataType.simpleString()

    def _uf(batches):
        import pandas as pd

        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for pdf in batches:
            for a, b in zip(pdf["a"], pdf["b"]):
                if a not in parent:
                    parent[a] = a
                if b not in parent:
                    parent[b] = b
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[rb] = ra
        comp_min: dict = {}
        for x in parent:
            r = find(x)
            m = comp_min.get(r)
            if m is None or x < m:
                comp_min[r] = x
        nodes = list(parent)
        chunk = 100_000
        for lo in range(0, len(nodes), chunk):
            part = nodes[lo : lo + chunk]
            yield pd.DataFrame(
                {
                    "node": part,
                    "cluster": [comp_min[find(x)] for x in part],
                }
            )
        if not nodes:
            yield pd.DataFrame({"node": [], "cluster": []})

    # coalesce(1): one task reads the checkpointed blocks — no shuffle.
    # The result is checkpointed because every caller fans it out to
    # multiple consumers (the multi-consumer materialization rule, §5);
    # it is component-labels-sized, i.e. tiny by the caller's guard.
    return (
        sym0.coalesce(1)
        .mapInPandas(_uf, f"node {node_t}, cluster {node_t}")
        .localCheckpoint()
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    strict: bool = True,
    local_edge_limit: int = LOCAL_EDGE_LIMIT,
) -> DataFrame:
    """Connected components over an undirected edge list — the step
    that turns near-dup candidate *pairs* into duplicate *clusters*
    (SURVEY.md §2.11: 'connected components via iterative join').

    Min-label propagation with pointer jumping: every node starts
    labeled with its own id; each round, a node adopts the smallest
    label among itself and its neighbors (one join + one aggregation),
    then labels are composed once — node adopts label(label(node)) —
    so label information travels ~2x the distance per round instead of
    one hop. Convergence is O(log diameter) rounds, not O(diameter):
    a 10k-node path converges in ~15 rounds where plain propagation
    would need 10k. Near-dup graphs are unions of small cliques
    (2-3 rounds); the jump is what makes the adversarial long-chain
    shape safe at scale.

    Lineage is truncated every round with ``localCheckpoint`` — NOT
    merely cached: ``labels`` feeds the next round twice (neighbor
    lookup + keep-own-label), so the *logical plan* doubles per
    iteration and by ~10 rounds the driver OOMs just stringifying the
    plan tree, cache or no cache. Checkpointing makes each round's plan
    O(1). (``localCheckpoint`` stores to executor block managers; on a
    cluster with lossy executors configure a reliable checkpoint dir
    and swap in ``checkpoint`` — same shape, durable storage.)

    Each round is exactly ONE Spark job (r15): propagate, pointer-jump
    and the old-vs-new comparison compose into a single plan whose
    eager checkpoint both materializes the new labels and — via an
    ``observe`` metric folded into the same job — reports how many
    labels changed, so fixpoint detection costs no extra job.  The
    duplicated propagate subtree (the jump's parent lookup) shares its
    exchange through Spark's ReuseExchange/stage reuse, so the
    edges-sized join still executes once per round.  Measured at
    sf0.1: 3 jobs/round → 1 job/round cut q_entity_resolution's CC
    ~30% and the adversarial 10k-path stress ~40%.

    Returns (node, cluster) where cluster is the component's min id.

    Convergence is explicit: if the labels have not reached a fixpoint
    after ``max_iter`` rounds, ``strict=True`` (default) raises
    RuntimeError rather than silently returning partially-propagated
    labels; ``strict=False`` returns the non-converged labels (callers
    that only need *a* canonical representative per round, e.g.
    incremental re-clustering, can opt in).

    A symmetrized edge list of at most ``local_edge_limit`` rows
    (``operators.scale.checkpoint_gate``) is closed by one single-task
    union-find pass instead; ``max_iter``/``strict`` bind only the
    distributed rounds.
    """
    from pyspark.sql import Observation

    # symmetrize in ONE pass over the input: a union of two selects would
    # recompute the (possibly expensive) upstream edge lineage twice —
    # at sf0.1 the MinHash band join feeding q_dup_clusters costs more
    # than all propagation rounds combined, so doubling it dominated.
    # Checkpoint the symmetrized edges BEFORE deriving labels from them
    # (r15): labels' eager checkpoint would otherwise execute the edge
    # lineage once and the sym checkpoint a second time.
    both = F.array(
        F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
        F.struct(F.col(dst).alias("a"), F.col(src).alias("b")),
    )
    sym0, fits = checkpoint_gate(
        edges.select(F.explode(both).alias("e"))
        .select("e.a", "e.b")
        .distinct(),
        local_edge_limit,
        "connected_components",
    )
    if fits:
        return _cc_union_find(sym0)
    labels = (
        sym0.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("cluster", F.col("node"))
    ).localCheckpoint()
    # r7: SELF-edges (a, a) appended once fold the "keep own label" step
    # into the neighbor aggregation — min over {label(b): b~a or b==a}
    # IS least(own, neighbor-min) — removing one labels-join per round.
    # The union is narrow over two checkpointed inputs, so it needs no
    # checkpoint of its own (r15; a third entry materialization gone).
    sym = sym0.unionByName(
        labels.select(F.col("node").alias("a"), F.col("node").alias("b"))
    )
    converged = False
    for round_no in range(max_iter):
        # one join + one map-side-combined aggregation per round: the
        # self-edges make this the complete min-label propagation step
        propagated = (
            sym.join(labels, sym["b"] == labels["node"])
            .groupBy(sym["a"].alias("node"))
            .agg(F.min("cluster").alias("cluster"))
        )
        # pointer jump: compose labels once per round. A label is always
        # a node id in the graph, and labels only decrease, so
        # label(label(node)) <= label(node) — adopting it halves the
        # remaining propagation distance (O(log diameter) total rounds).
        # `propagated` appears twice in this plan (probe + parent
        # lookup); its exchange is deduplicated by ReuseExchange/AQE
        # stage reuse, so the edges-sized join runs once per round —
        # verified in the executed plan (ReusedQueryStage).
        parent = propagated.select(
            F.col("node").alias("cluster"), F.col("cluster").alias("jump")
        )
        jumped = propagated.join(parent, on="cluster", how="left").select(
            "node",
            F.coalesce(F.col("jump"), F.col("cluster")).alias("cluster"),
        )
        # fixpoint detection folded INTO the round's one job: join the
        # previous labels back (inner on node — self-edges guarantee
        # every node survives propagation) and observe the exact count
        # of changed labels as a metric of the same execution.  Works
        # for any label type (numeric or string), unlike the previous
        # decimal label-sum invariant, and costs one broadcast/hash
        # join inside the job instead of a separate probe job.
        obs = Observation(f"cc_changed_r{round_no}")
        new_labels = (
            jumped.alias("n")
            .join(
                labels.select(
                    "node", F.col("cluster").alias("_cc_old")
                ).alias("o"),
                on="node",
            )
            .observe(
                obs,
                F.sum(
                    (F.col("cluster") != F.col("_cc_old")).cast("long")
                ).alias("n_changed"),
            )
            .select("node", "cluster")
        ).localCheckpoint()
        labels = new_labels
        if (obs.get["n_changed"] or 0) == 0:
            converged = True
            break
    if not converged and strict:
        raise RuntimeError(
            f"connected_components: no fixpoint after {max_iter} rounds "
            "(graph diameter exceeds max_iter); raise max_iter or pass "
            "strict=False to accept partially-propagated labels"
        )
    return labels


def containment(a: Column, b: Column) -> Column:
    """Containment of the SMALLER shingle set in the pair:
    |A∩B| / min(|A|,|B|) — the asymmetric near-dup metric that catches
    a short document quoted wholesale inside a long one, where Jaccard
    (normalized by the union) stays far below any dedup threshold."""
    inter = F.size(F.array_intersect(a, b))
    return inter / F.least(F.size(a), F.size(b))


def ngram_containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 3,
    min_containment: float = 0.85,
) -> DataFrame:
    """Containment near-dup pairs over character k-gram sets, using the
    SAME portable-MinHash LSH band blocking as ``ngram_jaccard_pairs``
    (one explode + one equi self-join — linear candidates, shingle
    arrays join back only for the verify).

    Recall caveat beyond Jaccard's: LSH bands collide by JACCARD, so a
    tiny doc fully contained in a huge one (high containment, low
    Jaccard) may not collide in any band.  At the fixture's doc-length
    spread the containment pairs of interest are also Jaccard-blocked
    candidates; a production pipeline targeting extreme length ratios
    blocks on the small side's shingles directly (n-gram equi-join, the
    q_contamination_ngram shape) instead of MinHash bands.
    """
    docs = spread_cpu_bound(
        docs.filter(F.length(F.lower(F.col(text_col))) >= k)
    )
    if k <= 3:
        sh = docs.select(
            F.col("doc_id"), encoded_shingles(text_col, k).alias("shingles")
        )
    else:
        sh = docs.select(
            F.col("doc_id"), char_shingles(text_col, k).alias("shingles")
        )
    cands = (
        portable_minhash_candidates(docs, text_col, k)
        .select("doc_id_a", "doc_id_b")
        .repartition(docs.sparkSession.sparkContext.defaultParallelism)
    )
    return (
        cands.join(
            sh.select(
                F.col("doc_id").alias("doc_id_a"),
                F.col("shingles").alias("sh_a"),
            ),
            on="doc_id_a",
        )
        .join(
            sh.select(
                F.col("doc_id").alias("doc_id_b"),
                F.col("shingles").alias("sh_b"),
            ),
            on="doc_id_b",
        )
        .withColumn(
            "containment", containment(F.col("sh_a"), F.col("sh_b"))
        )
        .filter(F.col("containment") >= min_containment)
        .select("doc_id_a", "doc_id_b", "containment")
    )


def ngram_blocked_containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    block_n: int = 5,
    max_block_df: int = 20,
    k: int = 3,
    min_containment: float = 0.85,
) -> DataFrame:
    """Containment near-dup pairs with WORD-n-GRAM equi-join blocking —
    the block that catches extreme length-ratio pairs (a short doc
    quoted inside a long one) where MinHash bands cannot: bands collide
    by JACCARD, which a 10:1 length ratio caps near 0.1, but any
    verbatim quote of ≥ ``block_n`` words lands both docs on the SAME
    distinct n-gram key (the q_contamination_ngram blocking shape
    turned into a self-join).

    Skew control: n-grams occurring in more than ``max_block_df`` docs
    are dropped from the block (the standard contamination-pipeline
    stopgram cap) — a boilerplate phrase shared by millions of docs
    would otherwise generate a quadratic bucket; dropping it costs
    recall only for pairs whose ONLY shared 5-grams are
    corpus-ubiquitous, which are not meaningful quotes.  Verification
    is exact char-``k``-gram containment on the candidate pairs.
    """
    docs = spread_cpu_bound(docs)  # small parquet arrives as ONE split;
    # the gram explode + shingle verify are CPU-bound and must not
    # serialize on a single task (same guard as the MinHash path)
    d = docs.select(
        "doc_id",
        F.split(F.trim(F.lower(F.col(text_col))), r"[ \t\n\r\f\x0B]+")
        .alias("w"),
    ).filter(F.size("w") >= block_n)
    grams = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, size(w) - {block_n - 1}),"
                    f" i -> concat_ws(' ', slice(w, i, {block_n})))"
                )
            )
        ).alias("ngram"),
    )
    rare = (
        grams.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("gdf"))
        .filter(F.col("gdf") <= max_block_df)
        .select("ngram")
    )
    g = grams.join(rare, "ngram")
    x, y = g.alias("x"), g.alias("y")
    cands = (
        x.join(
            y,
            (F.col("x.ngram") == F.col("y.ngram"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_id_a"),
            F.col("y.doc_id").alias("doc_id_b"),
        )
        .distinct()
        .repartition(docs.sparkSession.sparkContext.defaultParallelism)
    )
    sh = docs.select(
        F.col("doc_id"), encoded_shingles(text_col, k).alias("shingles")
    )
    return (
        cands.join(
            sh.select(
                F.col("doc_id").alias("doc_id_a"),
                F.col("shingles").alias("sh_a"),
            ),
            on="doc_id_a",
        )
        .join(
            sh.select(
                F.col("doc_id").alias("doc_id_b"),
                F.col("shingles").alias("sh_b"),
            ),
            on="doc_id_b",
        )
        .withColumn(
            "containment", containment(F.col("sh_a"), F.col("sh_b"))
        )
        .filter(F.col("containment") >= min_containment)
        .select("doc_id_a", "doc_id_b", "containment")
    )


def ppjoin_pairs(
    docs: DataFrame,
    threshold_num: int = 19,
    threshold_den: int = 20,
    round_digits: int = 6,
) -> DataFrame:
    """Exact set-similarity join with PPJoin-style PREFIX FILTERING
    (Xiao et al. 2011): all document pairs with word-set Jaccard >=
    threshold_num/threshold_den, with GUARANTEED complete recall —
    the deterministic complement to the probabilistic MinHash/SimHash
    blockers in this module.

    Tokens order globally by ascending document frequency (rarest
    first); each doc's candidate prefix is its first
    ``p = s - ceil(t*s) + 1`` tokens in that order.  Pigeonhole: two
    sets with Jaccard >= t overlap in more than ``s - p`` elements,
    so they MUST share a prefix token — an equi-join on prefix tokens
    finds every qualifying pair, and frequent tokens (the skew
    hazard) almost never appear in prefixes because rare tokens sort
    first.  Verification is exact: the threshold test is the pure
    integer comparison ``den*|A∩B| >= num*|A∪B|`` (no float
    boundary), and the reported jaccard is one final division.

    Scale shape: the df-rank assignment is a vocabulary-bounded
    window (never corpus-bounded); candidates come from one
    prefix-token equi-join; the full rank arrays ride a doc-bounded
    join for verification.  Returns (doc_id_a, doc_id_b, jaccard).
    """
    from ..functions.textstats import WS_RE

    toks = (
        docs.select(
            "doc_id",
            F.explode(
                F.split(F.trim(F.lower(F.col("text"))), WS_RE)
            ).alias("term"),
        )
        .filter(F.col("term") != "")
        .distinct()
    )
    dfreq = toks.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    # vocabulary-bounded window: global rarity order
    rank = dfreq.select(
        "term",
        F.row_number().over(Window.orderBy("df", "term")).alias("rk"),
    )
    tr = (
        toks.join(F.broadcast(rank), on="term")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("rk")).alias("arr"))
        .withColumn("s", F.size("arr").cast("bigint"))
    )
    num, den = int(threshold_num), int(threshold_den)
    # p = s - ceil(t*s) + 1, all integer
    p = (
        F.col("s")
        - F.expr(f"({num} * s + {den} - 1) div {den}")
        + F.lit(1)
    )
    pref = tr.select(
        "doc_id", F.explode(F.slice("arr", 1, p.cast("int"))).alias("rk")
    )
    pa, pb = pref.alias("pa"), pref.alias("pb")
    cand = (
        pa.join(
            pb,
            (F.col("pa.rk") == F.col("pb.rk"))
            & (F.col("pa.doc_id") < F.col("pb.doc_id")),
        )
        .select(
            F.col("pa.doc_id").alias("doc_id_a"),
            F.col("pb.doc_id").alias("doc_id_b"),
        )
        .distinct()
    )
    ta = tr.select(
        F.col("doc_id").alias("doc_id_a"),
        F.col("arr").alias("aa"),
        F.col("s").alias("sa"),
    )
    tb = tr.select(
        F.col("doc_id").alias("doc_id_b"),
        F.col("arr").alias("ab"),
        F.col("s").alias("sb"),
    )
    inter = F.size(F.array_intersect("aa", "ab")).cast("bigint")
    uni = F.col("sa") + F.col("sb") - inter
    return (
        cand.join(ta, on="doc_id_a")
        .join(tb, on="doc_id_b")
        .withColumn("inter", inter)
        .withColumn("uni", uni)
        .filter(F.lit(den) * F.col("inter") >= F.lit(num) * F.col("uni"))
        .select(
            "doc_id_a",
            "doc_id_b",
            F.round(
                F.col("inter").cast("double") / F.col("uni").cast("double"),
                round_digits,
            ).alias("jaccard"),
        )
    )


def portable_minhash_band_table(
    docs: DataFrame, text_col: str = "text", k: int = 3
) -> DataFrame:
    """(doc_id, band) exploded band-key table of the portable MinHash
    signature — the PERSISTABLE near-dup index artifact: an incremental
    job writes this once per ingest batch and band-joins new docs
    against it instead of re-sigging the corpus."""
    sh = portable_minhash_sig_table(docs, text_col, k)
    return sh.select(
        "doc_id", F.explode(_band_keys_from_cols()).alias("band")
    )


def minhash_incremental_pairs(
    base_bands: DataFrame, delta_bands: DataFrame
) -> DataFrame:
    """Near-dup candidate pairs of (base ∪ delta) computed WITHOUT
    re-pairing the base against itself: base-internal pairs are the
    prior run's artifact (recomputed here from ``base_bands``; in
    production read back from parquet), and the incremental arm joins
    ONLY delta bands against all bands — the base corpus is touched
    once to read its persisted band table, never re-signatured.

    The union is exactly the full-corpus candidate set (hash-proven by
    q_minhash_incremental's full-recompute oracle): every pair has
    either both sides in base (first arm) or at least one side in
    delta (second arm).  Returns distinct (doc_id_a, doc_id_b)."""
    def pairs(left: DataFrame, right: DataFrame) -> DataFrame:
        x, y = left.alias("x"), right.alias("y")
        return x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.doc_id") != F.col("y.doc_id")),
        ).select(
            F.least("x.doc_id", "y.doc_id").alias("doc_id_a"),
            F.greatest("x.doc_id", "y.doc_id").alias("doc_id_b"),
        )

    all_bands = base_bands.unionByName(delta_bands)
    base_pairs = pairs(base_bands, base_bands)
    delta_pairs = pairs(delta_bands, all_bands)
    return base_pairs.unionByName(delta_pairs).distinct()
