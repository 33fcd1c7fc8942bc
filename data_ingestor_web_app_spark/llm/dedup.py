"""Deduplication operators (north-star LLM-pipeline additions).

Four strategies, each the idiomatic Spark formulation of a published
technique (PAPERS.md):
- exact:    content-hash groupBy — one shuffle on the hash
- near:     n-gram Jaccard via shingle explode + self-join (exact, quadratic
            in the candidate set — the verifier of record)
- minhash:  MinHash + LSH banding — the 100 TB path: candidates via
            band-bucket join, exact Jaccard only on candidates
- simhash:  64-bit sign-sum fingerprint; hamming-close pairs

The fixture corpus (documents) has no byte-identical texts but does contain
word-set duplicates (Jaccard 1.0), so near-dup thresholds are set at 0.9.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "dedup_exact",
    oracle="""
    SELECT SHA256(text) AS content_hash,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY SHA256(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: sha2-256 content hash, keep the lowest doc_id per hash.

    Scale: the shuffle key is the 256-bit hash (uniform — no skew); map-side
    partial aggregation means network volume is #distinct docs. 100 TB of
    text dedups with one shuffle."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.sha2(F.col("text").cast("binary"), 256).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


# Shared doc→distinct-token-set prep (1-gram shingles; 3-grams are all-unique
# on this synthetic corpus — measured max trigram Jaccard 0.03).
_ORACLE_TOKSETS = """
    toksets AS (
        SELECT doc_id, LIST_DISTINCT(STRING_SPLIT(text, ' ')) AS toks
        FROM documents
    )
"""


@query(
    "dedup_near",
    oracle=f"""
    WITH {_ORACLE_TOKSETS},
    exploded AS (
        SELECT doc_id, UNNEST(toks) AS tok FROM toksets
    ),
    pair_inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        FROM exploded a JOIN exploded b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT p.doc_a, p.doc_b,
           ROUND(p.inter * 1.0 / (LEN(ta.toks) + LEN(tb.toks) - p.inter), 6) AS jaccard
    FROM pair_inter p
    JOIN toksets ta ON ta.doc_id = p.doc_a
    JOIN toksets tb ON tb.doc_id = p.doc_b
    WHERE p.inter * 1.0 / (LEN(ta.toks) + LEN(tb.toks) - p.inter) >= 0.9
    """,
)
def dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection: token-set Jaccard >= 0.9, EXACT, via prefix
    filtering (PPJoin-family): order every doc's tokens by global
    (frequency, token) and join only on each doc's PREFIX — the first
    |x| - ceil(tau*|x|) + 1 tokens. Two sets with J >= tau must share a
    prefix token under a common global order, so the filter is lossless;
    candidates are then verified with the exact Jaccard.

    Why it scales where the naive token self-join doesn't: the join keys
    are each doc's RAREST tokens (frequency-ascending order), so hot tokens
    never become join keys and bucket sizes stay tiny. Same oracle as the
    naive formulation — the hash check proves losslessness.

    Measured caveat: the fixture corpus has a 31-token vocabulary and ~1M
    true pairs at sf0.1, so EVERY token is hot and the output itself is
    quadratic-dense — prefix filtering is time-parity with the naive join
    here (both dominated by emitting/verifying the 1M real pairs). On a
    natural-vocabulary corpus the prefix join is orders of magnitude
    smaller (tests/test_llm_ops.py measures the candidate reduction on a
    5000-token synthetic vocabulary); for unverified-candidate speed, use
    dedup_minhash_lsh."""
    d = table(spark, sf_dir, "documents")
    toksets = d.select("doc_id", F.array_distinct(F.split("text", " ")).alias("toks")).cache()
    _candidates, verified = prefix_filtered_pairs(toksets, tau=0.9)
    return verified


def prefix_filtered_pairs(toksets: DataFrame, tau: float) -> tuple[DataFrame, DataFrame]:
    """PPJoin-style prefix-filtered near-dup core over a (doc_id, toks)
    DataFrame. Returns (candidate pairs, verified pairs with Jaccard >=
    tau). Split out from dedup_near so tests can measure the candidate
    count against the naive any-shared-token join on arbitrary corpora."""
    exploded = toksets.select("doc_id", F.size("toks").alias("n_toks"), F.explode("toks").alias("tok"))
    freq = exploded.groupBy("tok").agg(F.count("*").alias("tf"))
    w = Window.partitionBy("doc_id").orderBy("tf", "tok")
    prefix_len = F.col("n_toks") - F.ceil(F.lit(tau) * F.col("n_toks")) + 1
    prefixes = (
        exploded.join(F.broadcast(freq), "tok")
        .withColumn("pos", F.row_number().over(w))
        .where(F.col("pos") <= prefix_len)
        .select("doc_id", "n_toks", "tok")
    )
    a = prefixes.alias("a")
    b = prefixes.alias("b")
    # r11: PPJoin length filter — J >= tau needs (100+tau100)*min(|A|,|B|)
    # >= tau100*(|A|+|B|) since |A∩B| <= min(|A|,|B|); evaluated on the
    # one-int n_toks columns inside the prefix join so size-mismatched
    # pairs never reach the distinct or the array_intersect verify.
    # Lossless: it is a necessary condition of the verify predicate.
    tau100 = int(round(tau * 100))
    candidates = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                (100 + tau100) * F.least(F.col("a.n_toks"), F.col("b.n_toks"))
                >= tau100 * (F.col("a.n_toks") + F.col("b.n_toks"))
            ),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    ta = toksets.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("toks_a"))
    tb = toksets.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b"))
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    jac = inter / (F.size("toks_a") + F.size("toks_b") - inter)
    # r11: single-reference exact integer threshold (see dedup_minhash_lsh)
    # so array_intersect runs once per candidate, not twice; tau is a
    # 2-decimal threshold so 100*tau is exact.
    pass_tau = ((100 + tau100) * inter) >= (
        tau100 * (F.size("toks_a") + F.size("toks_b"))
    )
    verified = (
        candidates.join(ta, "doc_a")
        .join(tb, "doc_b")
        .where(pass_tau)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )
    return candidates, verified


@query(
    "dedup_ngram",
    oracle="""
    WITH t AS (
        SELECT doc_id, STRING_SPLIT(text, ' ') AS toks,
               LEN(STRING_SPLIT(text, ' ')) AS n
        FROM documents WHERE LEN(STRING_SPLIT(text, ' ')) >= 3
    ),
    sh AS (
        SELECT doc_id,
               LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, n - 1),
                   i -> ARRAY_TO_STRING(LIST_SLICE(toks, i, i + 2), ' '))) AS shingles
        FROM t
    ),
    ex AS (SELECT doc_id, UNNEST(shingles) AS s FROM sh),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT p.doc_a, p.doc_b,
           ROUND(p.inter * 1.0 / (LEN(sa.shingles) + LEN(sb.shingles) - p.inter), 6) AS jaccard
    FROM pairs p
    JOIN sh sa ON sa.doc_id = p.doc_a
    JOIN sh sb ON sb.doc_id = p.doc_b
    WHERE p.inter * 1.0 / (LEN(sa.shingles) + LEN(sb.shingles) - p.inter) >= 0.9
    """,
)
def dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram (3-token shingle) Jaccard near-dup — ORDER-SENSITIVE, unlike
    dedup_near's token-set Jaccard: shingles capture word sequences, so only
    documents sharing long contiguous spans pair up (the fixture plants ~25
    such pairs at sf0.01; reordered token salad does not collide). Uses the
    same PPJoin prefix-filter core as dedup_near over the shingle sets —
    shingles are near-unique, so the prefix join's candidate set is tiny and
    the operator scales to corpus sizes where even the token-set variant
    would be too dense."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    base = d.select("doc_id", toks.alias("toks"), F.size(toks).alias("n")).where(F.col("n") >= 3)
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.col("n") - 2),
            lambda i: F.array_join(F.slice("toks", i, 3), " "),
        )
    )
    sh = base.select("doc_id", shingles.alias("toks"))
    _candidates, verified = prefix_filtered_pairs(sh, tau=0.9)
    return verified


# 8 bands x 8 rows: LSH threshold (1/b)^(1/r) ~ 0.77, P(candidate | j=0.9)
# = 1-(1-0.9^8)^8 ~ 0.99. Wider bands matter on dup-dense corpora: 4-row
# bands (threshold 0.59) made ~half this synthetic corpus collide per band.
_N_HASHES = 64
_N_BANDS = 8


def _minhash_signatures(d: DataFrame) -> DataFrame:
    """doc_id → _N_HASHES (64) minhash values: min over tokens of
    xxhash64(token, seed). xxhash64 is a deterministic JVM-side built-in —
    no Python, no UDF.

    Computed as a pure per-row projection with NO shuffle, and as ONE fold
    over the token array: `aggregate` walks the tokens once, each token
    contributes its 64 seeded hashes via a small transform, and `zip_with
    (least)` folds them elementwise into the running minimum vector. The
    earlier 64-separate-`array_min(transform(...))` formulation re-walked
    the token array 64 times (measured 0.86 s vs 0.37 s warm at sf0.1);
    the original explode + 64-column groupBy shuffled the whole tokenized
    corpus (7.3 s) — at 100 TB that shuffle is the difference between a
    projection and a second pass over the corpus."""
    return _minhash_from_tokens(
        d.select("doc_id", F.array_distinct(F.split("text", " ")).alias("toks")),
        key="doc_id",
    )


def _minhash_from_tokens(d: DataFrame, key: str, keep: tuple = ()) -> DataFrame:
    """Same single-pass fold as _minhash_signatures, over a pre-built token
    array column `toks`, keyed by an arbitrary `key` column. `keep` names
    extra (cheap) columns to carry through alongside the signature."""
    fold = f"""
    aggregate(
      toks,
      array_repeat(cast(9223372036854775807 as bigint), {_N_HASHES}),
      (acc, t) -> zip_with(acc,
                           transform(sequence(0, {_N_HASHES - 1}),
                                     s -> xxhash64(t, s)),
                           (a, h) -> least(a, h))
    )
    """
    return d.select(key, *keep, F.expr(fold).alias("__mh")).select(
        key, *keep, *[F.col("__mh")[i].alias(f"mh{i}") for i in range(_N_HASHES)]
    )


@query("dedup_minhash_lsh")  # rows-only: LSH candidate recall is engine-specific
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding — the 100 TB near-dup path.

    Pipeline: token-set → collapse exact-duplicate token sets to one
    representative per 128-bit set key → 64 minhashes (xxhash64, seeds
    0..63) on representatives → 8 bands of 8 (LSH threshold
    (1/b)^(1/r) = (1/8)^(1/8) ≈ 0.77) → band-bucket self-join → exact
    Jaccard verification on representative pairs → expand back through
    group membership (cross pairs inherit the reps' Jaccard; within-group
    pairs are 1.0 by identity). Candidate generation is linear in corpus
    size + bucket collisions; the quadratic explode-join of dedup_near is
    never executed at scale.

    Two pair-explosion guards (this is where dup-dense corpora melt down):
    (1) exact-dup collapse means a k-sized identical cluster is ONE LSH
    node, not k quadratic colliders — on crawl corpora where boilerplate
    clusters run 10^4+ deep this is the difference between linear and
    quadratic band buckets; the final expansion is pure output
    materialization, no re-verification. The 128-bit (two-seed xxhash64)
    set key keeps birthday collisions negligible at 10^10+ docs where a
    single 64-bit key would start merging distinct sets.
    (2) each surviving pair is emitted by exactly ONE band — the first
    band whose hashes agree (both sides carry their 8-long band vector
    into the join; agreement at `band` is implied by the bucket equi-key,
    so the residual predicate is just "every earlier band differs", a
    short-circuit scalar conjunction) — so the old 8x-duplicated candidate
    stream and its `.distinct()` re-shuffle are gone; the join output IS
    the candidate set.

    Output: verified pairs with Jaccard >= 0.9 (a subset of dedup_near's
    exact answer; tests assert recall >= 0.95 against it). Identical to
    the uncollapsed formulation: identical token sets have identical
    signatures, so doc-level LSH finds a cross pair iff rep-level LSH
    finds the rep pair, and finds every within-group pair (all bands
    agree)."""
    # Rebalance after the scan: the fixture is ONE parquet row group, which
    # Spark cannot split, so every per-row stage would run on one task. A
    # round-robin repartition restores scan parallelism; on a real
    # multi-split corpus the scan already has the parallelism and this
    # exchange is the first shuffle the collapse needs anyway. A null text
    # has no token set: its set key would be the hash of a null array, the
    # same for every such document, and would pair them all as duplicates.
    d = (
        table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .repartition(spark.sparkContext.defaultParallelism)
    )
    toks = F.array_distinct(F.split("text", " "))
    skey = F.struct(
        F.xxhash64(F.sort_array(toks)).alias("h1"),
        F.xxhash64(F.sort_array(toks), F.lit("mh-lsh-2")).alias("h2"),
    )
    members = d.select("doc_id", skey.alias("tset")).cache()
    # r12: the 64-hash fold and the 8 band buckets are computed PER DOC in
    # the map-side scan stage, not per rep after the groupBy. A minhash is
    # a min over the token SET (order-independent), and every member of a
    # tset group has the identical set (arrays in a group are permutations
    # of each other), so min_by over the per-doc signatures is
    # bit-identical to folding the representative's array — but the heavy
    # fold now runs at full scan parallelism instead of on the 1-2
    # post-shuffle tasks AQE's bytes-based coalescing left for a ~2 MB
    # shuffle (guide §2.5: shuffled bytes are a bad proxy for CPU-dense
    # stages). min_by pins a deterministic representative as before; the
    # band-bucket xxhash64 over the 8 mh values per band is unchanged.
    rows_per_band = _N_HASHES // _N_BANDS
    fold = f"""
    aggregate(
      toks,
      array_repeat(cast(9223372036854775807 as bigint), {_N_HASHES}),
      (acc, t) -> zip_with(acc,
                           transform(sequence(0, {_N_HASHES - 1}),
                                     s -> xxhash64(t, s)),
                           (a, h) -> least(a, h))
    )
    """
    barr = F.array(
        *[
            F.xxhash64(
                *[
                    F.col("__mh")[b * rows_per_band + r]
                    for r in range(rows_per_band)
                ]
            )
            for b in range(_N_BANDS)
        ]
    )
    per_doc = (
        d.select("doc_id", toks.alias("toks"), skey.alias("tset"))
        .withColumn("__mh", F.expr(fold))
        .select("doc_id", "tset", "toks", barr.alias("barr"))
    )
    rs = (
        per_doc.groupBy("tset")
        .agg(F.min_by(F.struct("toks", "barr"), "doc_id").alias("s"))
        .select(
            "tset",
            F.col("s.toks").alias("toks"),
            F.col("s.barr").alias("barr"),
        )
        .cache()
    )
    # reps (token arrays for the exact-Jaccard verify) and the band rows
    # both read the one cached collapse output.
    reps = rs.select("tset", "toks")
    band_rows = (
        rs.select("tset", F.size("toks").alias("sz"), "barr")
        .select(
            "tset",
            "sz",
            "barr",
            F.posexplode("barr").alias("band", "bucket"),
        )
    )
    a = band_rows.alias("a")
    b = band_rows.alias("b")
    # "first agreeing band" residual predicate: the equi-key (band, bucket)
    # already guarantees the two signatures agree AT `band` (bucket IS
    # barr[band]), so first-band emission only needs "every EARLIER band
    # differs". r11: expressed as N_BANDS-1 short-circuit scalar conjuncts
    # instead of array_position(zip_with(...)) — the zip_with allocated a
    # fresh 8-element array per raw probe (2.6M probes at sf0.1, measured
    # ~1.2 s wall on the candidate join; the scalar chain is ~0.1 s).
    no_earlier_band_agrees = F.lit(True)
    for i in range(_N_BANDS - 1):
        no_earlier_band_agrees = no_earlier_band_agrees & (
            (F.col("a.band") <= i) | (F.col("a.barr")[i] != F.col("b.barr")[i])
        )
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (
                (F.col("a.tset.h1") < F.col("b.tset.h1"))
                | (
                    (F.col("a.tset.h1") == F.col("b.tset.h1"))
                    & (F.col("a.tset.h2") < F.col("b.tset.h2"))
                )
            ),
        )
        .where(no_earlier_band_agrees)
        # r11 size pre-filter (guide §8: decide with small rows before
        # moving big ones): Jaccard >= 0.9 requires
        # 19*min(|A|,|B|) >= 9*(|A|+|B|) because |A∩B| <= min(|A|,|B|) —
        # a pure-int necessary condition of the verify predicate below,
        # evaluated HERE on the one-int `sz` columns so pairs whose sizes
        # differ >~11% never reach the token-array joins or the
        # array_intersect (prunes most of the 1.55M raw candidates at
        # sf0.1; result set provably unchanged).
        .where(
            19 * F.least(F.col("a.sz"), F.col("b.sz"))
            >= 9 * (F.col("a.sz") + F.col("b.sz"))
        )
        .select(F.col("a.tset").alias("set_a"), F.col("b.tset").alias("set_b"))
    )
    # exact verification on representative pairs only. r11: the threshold
    # test is the exact integer-rational form 19*inter >= 9*(la+lb)
    # (⟺ inter/(la+lb-inter) >= 0.9 — token-set sizes are far below the
    # ~1e7 denominator where the double comparison could diverge from the
    # rational one), so `inter` appears ONCE in the filter predicate: the
    # old jac >= 0.9 form referenced it twice and Spark evaluated the
    # array_intersect TWICE per candidate pair (1.55M pairs at sf0.1, the
    # single most expensive block in the query); the rounded jaccard is
    # recomputed only for survivors (~29k).
    ta = reps.select(F.col("tset").alias("set_a"), F.col("toks").alias("toks_a"))
    tb = reps.select(F.col("tset").alias("set_b"), F.col("toks").alias("toks_b"))
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    union = F.size("toks_a") + F.size("toks_b") - inter
    jac = inter / union
    pass_09 = (19 * inter) >= (9 * (F.size("toks_a") + F.size("toks_b")))
    verified = (
        candidates.join(ta, "set_a")
        .join(tb, "set_b")
        .where(pass_09)
        .select("set_a", "set_b", F.round(jac, 6).alias("jaccard"))
    )
    # expand rep pairs to doc pairs through group membership
    ma = members.select(F.col("tset").alias("set_a"), F.col("doc_id").alias("da"))
    mb = members.select(F.col("tset").alias("set_b"), F.col("doc_id").alias("db"))
    cross = (
        verified.join(ma, "set_a")
        .join(mb, "set_b")
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "jaccard",
        )
    )
    m1 = members.alias("m1")
    m2 = members.alias("m2")
    within = (
        m1.join(
            m2,
            (F.col("m1.tset") == F.col("m2.tset"))
            & (F.col("m1.doc_id") < F.col("m2.doc_id")),
        )
        .select(
            F.col("m1.doc_id").alias("doc_a"),
            F.col("m2.doc_id").alias("doc_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return cross.unionAll(within)


_SIMHASH_ORACLE = """
    WITH toks AS (
        SELECT doc_id, UNNEST(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS tok
        FROM documents
    ),
    h AS (
        SELECT doc_id,
               CAST(CONCAT('0x', SUBSTR(MD5(tok), 1, 15)) AS BIGINT) AS h
        FROM toks
    ),
    bits AS (
        SELECT doc_id, b.bit,
               ((h >> b.bit) & 1) * 2 - 1 AS contrib
        FROM h CROSS JOIN (SELECT UNNEST(RANGE(60)) AS bit) b
    ),
    bitsums AS (
        SELECT doc_id, bit, SUM(contrib) AS s FROM bits GROUP BY doc_id, bit
    ),
    fp AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit)
                        ELSE 0 END) AS BIGINT) AS simhash
        FROM bitsums GROUP BY doc_id
    )
    SELECT doc_id, simhash,
           CAST(simhash >> 45 AS BIGINT) AS band15
    FROM fp
    """


@query("dedup_simhash", oracle=_SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash document fingerprints (Charikar 2002, public): per-token
    hash, sign-sum each bit over the token set, fingerprint = the sign
    bits. Near-dups have hamming-close fingerprints; emits (doc_id,
    simhash, band15) where band15 buckets the top bits — banding on
    fingerprint prefixes is the scalable hamming-join strategy.

    Promoted from rows-only to hash-exact in r6: the per-token hash is
    the shared md5-derived 60-bit digest (the wave-159 family; this
    DuckDB build has no xxhash64), so fingerprints are 60-bit and both
    engines compute identical sign-sums — pure integer bit arithmetic
    end to end, no UDF. 60 vs 64 bits costs ~6% hamming resolution and
    buys a bit-for-bit SQL twin."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok"))
    h = toks.select(
        "doc_id",
        F.expr("CAST(conv(substring(md5(tok), 1, 15), 16, 10) AS BIGINT)").alias("h"),
    )
    # one row per (doc, bit): contribution +1 if bit set else -1
    bits = h.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(59))).alias("bit"),
        "h",
    ).select(
        "doc_id",
        "bit",
        (F.expr("shiftright(h, bit) & 1") * 2 - 1).alias("contrib"),
    )
    bitsums = bits.groupBy("doc_id", "bit").agg(F.sum("contrib").alias("s"))
    fp = bitsums.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("s") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), bit)")).otherwise(F.lit(0).cast("long"))
        ).alias("simhash")
    )
    return fp.select(
        "doc_id",
        "simhash",
        F.shiftright(F.col("simhash"), 45).alias("band15"),
    )
