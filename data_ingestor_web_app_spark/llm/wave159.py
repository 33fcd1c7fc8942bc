"""Wave-159: MinHash+LSH with a DuckDB-replayable hash family — promotes
the flagship near-dup pipeline from rows-only to hash-exact verification.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

# Carter-Wegman universal family over the Mersenne prime 2^61-1:
# h_s(x) = (a_s * x + b_s) mod P, with x = the top 60 bits of md5(token).
# md5 exists in BOTH engines (DuckDB has no xxhash64), 60-bit x keeps the
# 128-bit product under DECIMAL(38)/HUGEINT range, and modular integer
# arithmetic is exact — so Spark and DuckDB compute bit-identical
# signatures with no float anywhere.
_P = (1 << 61) - 1
_N_HASHES = 64
_N_BANDS = 8
_rng = np.random.default_rng(20260814)
_A = [int(v) for v in _rng.integers(1, _P, _N_HASHES)]
_B = [int(v) for v in _rng.integers(0, _P, _N_HASHES)]

_SEED_VALUES = ",\n        ".join(
    f"({s}, {a}, {b})" for s, (a, b) in enumerate(zip(_A, _B))
)

_ORACLE = f"""
    WITH d AS (
        SELECT doc_id, LIST_DISTINCT(STRING_SPLIT(text, ' ')) AS toks
        FROM documents
    ),
    k AS (
        SELECT doc_id, toks,
               MD5(ARRAY_TO_STRING(LIST_SORT(toks), CHR(31))) AS tset
        FROM d
    ),
    reps AS (SELECT tset, ARG_MIN(toks, doc_id) AS toks FROM k GROUP BY tset),
    seeds(s, a, b) AS (VALUES {_SEED_VALUES}),
    ex AS (SELECT tset, UNNEST(toks) AS tok FROM reps),
    xh AS (
        SELECT tset, CAST(CONCAT('0x', SUBSTR(MD5(tok), 1, 15)) AS BIGINT) AS x
        FROM ex
    ),
    mh AS (
        SELECT xh.tset, sd.s,
               MIN(CAST((CAST(sd.a AS HUGEINT) * xh.x + sd.b) % {_P}
                   AS BIGINT)) AS mh
        FROM xh CROSS JOIN seeds sd
        GROUP BY xh.tset, sd.s
    ),
    sig AS (
        SELECT tset, s // {_N_HASHES // _N_BANDS} AS band,
               ARRAY_TO_STRING(LIST(mh ORDER BY s), ':') AS bsig
        FROM mh GROUP BY tset, s // {_N_HASHES // _N_BANDS}
    ),
    cand AS (
        SELECT DISTINCT a.tset AS set_a, b.tset AS set_b
        FROM sig a
        JOIN sig b ON a.band = b.band AND a.bsig = b.bsig AND a.tset < b.tset
    ),
    sized AS (
        SELECT c.set_a, c.set_b,
               LEN(LIST_INTERSECT(ra.toks, rb.toks)) AS ix,
               LEN(ra.toks) AS la, LEN(rb.toks) AS lb
        FROM cand c
        JOIN reps ra ON ra.tset = c.set_a
        JOIN reps rb ON rb.tset = c.set_b
    ),
    ver AS (
        SELECT set_a, set_b, ROUND(ix * 1e0 / (la + lb - ix), 6) AS jaccard
        FROM sized WHERE ix * 1e0 / (la + lb - ix) >= 0.9
    ),
    cross_p AS (
        SELECT LEAST(ma.doc_id, mb.doc_id) AS doc_a,
               GREATEST(ma.doc_id, mb.doc_id) AS doc_b, v.jaccard
        FROM ver v
        JOIN k ma ON ma.tset = v.set_a
        JOIN k mb ON mb.tset = v.set_b
    ),
    within AS (
        SELECT m1.doc_id AS doc_a, m2.doc_id AS doc_b, 1e0 AS jaccard
        FROM k m1 JOIN k m2 ON m1.tset = m2.tset AND m1.doc_id < m2.doc_id
    )
    SELECT doc_a, doc_b, jaccard FROM cross_p
    UNION ALL
    SELECT doc_a, doc_b, jaccard FROM within
    """

# r12: the multiply-mod runs in pure 64-bit integer arithmetic instead of
# DECIMAL(38) (Java BigDecimal — it was ~10 s of task CPU at sf0.1, the
# single hottest stage in the bench). P = 2^61-1 is a Mersenne prime, so
# (a*x + b) mod P decomposes exactly into BIGINT ops (guide §4 "per-task
# work"): split a = a1*2^31 + a0 (constants, precomputed below) and
# x = x1*2^31 + x0 (x < 2^60), then
#   a*x = a1*x1*2^62 + (a1*x0 + a0*x1)*2^31 + a0*x0
# and each term reduces with 2^61 ≡ 1 (mod P):
#   a1*x1*2^62        ≡ 2*a1*x1                          (< 2^60)
#   m*2^31, m=u*2^30+v ≡ u + v*2^31                      (< 2^61+2^32)
#   t = a0*x0          ≡ (t & P) + (t >> 61)             (< 2^61+2)
# Every intermediate and the final sum (+ b < 2^61) stays under 2^63 —
# no overflow, bit-identical values to the DECIMAL form (integers are
# exact), so the oracle and every signature are unchanged.
_A1_SQL = "array(" + ",".join(f"{a >> 31}L" for a in _A) + ")"
_A0_SQL = "array(" + ",".join(f"{a & 0x7FFFFFFF}L" for a in _A) + ")"
_B_SQL = "array(" + ",".join(f"{b}L" for b in _B) + ")"

# Single-pass fold (same shape as llm/dedup.py's _minhash_from_tokens): one
# walk over the token array; each token contributes its 64 exact modular
# hashes; zip_with(least) folds them into the running minimum vector. One
# md5 per token (not per token x seed) — the seed family is 64 cheap
# Mersenne multiply-mod probes on the shared 60-bit digest.
_MINHASH_FOLD = f"""
    aggregate(
      transform(toks,
                t -> CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT)),
      array_repeat(cast({_P} as bigint), {_N_HASHES}),
      (acc, x) -> zip_with(
          acc,
          transform(sequence(0, {_N_HASHES - 1}),
                    s -> pmod(
                           2L * element_at({_A1_SQL}, s + 1)
                               * shiftright(x, 31)
                           + shiftright(
                               element_at({_A1_SQL}, s + 1) * (x & 2147483647L)
                               + element_at({_A0_SQL}, s + 1)
                                   * shiftright(x, 31),
                               30)
                           + ((element_at({_A1_SQL}, s + 1) * (x & 2147483647L)
                               + element_at({_A0_SQL}, s + 1)
                                   * shiftright(x, 31))
                              & 1073741823L) * 2147483648L
                           + ((element_at({_A0_SQL}, s + 1) * (x & 2147483647L))
                              & {_P}L)
                           + shiftright(
                               element_at({_A0_SQL}, s + 1) * (x & 2147483647L),
                               61)
                           + element_at({_B_SQL}, s + 1),
                           {_P}L)),
          (a, h) -> least(a, h))
    )
    """


@query("dedup_minhash_lsh_exact", oracle=_ORACLE)
def dedup_minhash_lsh_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship MinHash+LSH near-dup pipeline with a fully
    DuckDB-replayable hash family — every stage hash-exact against the
    oracle (r5 VERDICT item 5; this DuckDB build has no xxhash64, so the
    family is Carter-Wegman mod 2^61-1 over a shared md5-derived 60-bit
    token digest — exact integer arithmetic in both engines).

    Same structure as dedup_minhash_lsh (llm/dedup.py): exact-duplicate
    token sets collapse to one representative per md5 set key; 64
    minhashes per representative via a single-pass fold; 8 bands of 8; the
    band-bucket self-join generates candidates; exact Jaccard >= 0.9
    verification on representative pairs; expansion back through group
    membership (cross pairs inherit the reps' Jaccard, within-group pairs
    are 1.0 by identity). Candidates use the same first-matching-band
    emission as the production variant (r11; it yields the identical pair
    SET the old DISTINCT produced, without re-shuffling the 2.6M raw band
    matches — the oracle mirrors the set semantics, not the dedup
    mechanics); throughput-critical corpora use dedup_minhash_lsh
    (xxhash64, rows-only + recall-gated).

    Scale shape: identical to dedup_minhash_lsh — linear signature pass,
    band-bucketed candidate join, no all-pairs product; the only extra
    cost is one Mersenne multiply-mod per (token, seed), still JVM-side
    codegen."""
    d = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    toks = F.array_distinct(F.split("text", " "))
    tset = F.md5(F.concat_ws("\x1f", F.sort_array(toks)))
    members = d.select("doc_id", tset.alias("tset")).cache()
    # r12: the 64-hash fold and the band strings are computed PER DOC in
    # the map-side scan stage, not per rep after the groupBy. A minhash is
    # a min over the token SET (order-independent), and every member of a
    # tset group has the identical set, so min_by over the per-doc
    # signatures is bit-identical to folding the representative's array —
    # but the heavy compute now runs at full scan parallelism instead of
    # on the 1-2 post-shuffle tasks AQE's bytes-based coalescing left for
    # a ~2 MB shuffle (guide §2.5: bytes are a bad proxy for CPU-dense
    # stages; measured 3.5 s -> 0.4 s for the signature pass at sf0.1).
    # r12: band signatures are 8-long BIGINT array slices of the signature
    # vector instead of ':'-joined strings. The ':' join of bigints is
    # injective, so array equality <=> string equality — the join key, the
    # earlier-band residual check, and therefore the emitted pair SET are
    # exactly the ones the string form produced (the oracle observes only
    # that set) — but an 8-long comparison beats a ~160-char string
    # compare/hash on every one of the ~1M band-bucket probes at sf0.1.
    rows_per_band = _N_HASHES // _N_BANDS
    mh = F.expr(_MINHASH_FOLD)
    barr = F.array(
        *[F.slice("mh", b * rows_per_band + 1, rows_per_band) for b in range(_N_BANDS)]
    )
    per_doc = (
        d.select("doc_id", toks.alias("toks"), tset.alias("tset"))
        .withColumn("mh", mh)
        .select("doc_id", "tset", "toks", barr.alias("barr"))
    )
    sig = (
        per_doc.groupBy("tset")
        .agg(F.min_by(F.struct("toks", "barr"), "doc_id").alias("s"))
        .select("tset", F.col("s.toks").alias("toks"), F.col("s.barr").alias("barr"))
        .cache()
    )
    band_rows = sig.select(
        "tset", F.size("toks").alias("sz"), "barr"
    ).select("tset", "sz", "barr", F.posexplode("barr").alias("band", "bsig"))
    a, b = band_rows.alias("a"), band_rows.alias("b")
    # r11: first-agreeing-band emission (same device as dedup_minhash_lsh —
    # the (band, bsig) equi-key implies agreement AT `band`, the residual
    # scalar conjuncts require every earlier band to differ) replaces the
    # 2.6M-row DISTINCT re-shuffle; the emitted pair SET is identical (a
    # pair agreeing anywhere has exactly one first agreement), which is
    # all the set-semantics oracle observes.
    no_earlier_band_agrees = F.lit(True)
    for i in range(_N_BANDS - 1):
        no_earlier_band_agrees = no_earlier_band_agrees & (
            (F.col("a.band") <= i) | (F.col("a.barr")[i] != F.col("b.barr")[i])
        )
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bsig") == F.col("b.bsig"))
            & (F.col("a.tset") < F.col("b.tset")),
        )
        .where(no_earlier_band_agrees)
        # r11 size pre-filter (see dedup_minhash_lsh): |A∩B| <= min(|A|,|B|)
        # makes 19*min(sz) >= 9*(sz_a+sz_b) a necessary condition of the
        # Jaccard >= 0.9 verify below — one-int comparison here spares the
        # token-array joins + array_intersect for size-mismatched pairs;
        # survivor set provably unchanged.
        .where(
            19 * F.least(F.col("a.sz"), F.col("b.sz"))
            >= 9 * (F.col("a.sz") + F.col("b.sz"))
        )
        .select(F.col("a.tset").alias("set_a"), F.col("b.tset").alias("set_b"))
    )
    ra = sig.select(F.col("tset").alias("set_a"), F.col("toks").alias("toks_a"))
    rb = sig.select(F.col("tset").alias("set_b"), F.col("toks").alias("toks_b"))
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    union = F.size("toks_a") + F.size("toks_b") - inter
    jac = inter / union
    # single-reference exact integer threshold: array_intersect once per
    # candidate (see dedup_minhash_lsh), rounded jaccard only for survivors
    pass_09 = (19 * inter) >= (9 * (F.size("toks_a") + F.size("toks_b")))
    ver = (
        cand.join(ra, "set_a")
        .join(rb, "set_b")
        .where(pass_09)
        .select("set_a", "set_b", F.round(jac, 6).alias("jaccard"))
    )
    ma = members.select(F.col("tset").alias("set_a"), F.col("doc_id").alias("da"))
    mb = members.select(F.col("tset").alias("set_b"), F.col("doc_id").alias("db"))
    cross = (
        ver.join(ma, "set_a")
        .join(mb, "set_b")
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "jaccard",
        )
    )
    m1, m2 = members.alias("m1"), members.alias("m2")
    within = m1.join(
        m2,
        (F.col("m1.tset") == F.col("m2.tset"))
        & (F.col("m1.doc_id") < F.col("m2.doc_id")),
    ).select(
        F.col("m1.doc_id").alias("doc_a"),
        F.col("m2.doc_id").alias("doc_b"),
        F.lit(1.0).alias("jaccard"),
    )
    return cross.unionAll(within)
