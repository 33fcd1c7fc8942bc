"""Wave-251: forensic/data-quality audits — a phonetic-key collision
audit that cross-checks Spark's soundex BUILTIN against a from-spec SQL
replay (American Soundex with the NARA H/W-transparency rule), and the
second-digit Benford test (the digit forensic auditors actually use,
because invented numbers fail it even when first digits are padded).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

# American Soundex letter -> digit map ('-' = H/W, transparent; '0' =
# vowels + Y, which RESET adjacency). Verified against Spark's builtin
# on the NARA edge cases (PFISTER=P236, ASHCRAFT=A261, TYMCZAK=T522,
# HT=H300 — leading H/W contributes no head code).
_SOUNDEX_CODE_SQL = """
    CASE
      WHEN c IN ('B','F','P','V') THEN '1'
      WHEN c IN ('C','G','J','K','Q','S','X','Z') THEN '2'
      WHEN c IN ('D','T') THEN '3'
      WHEN c = 'L' THEN '4'
      WHEN c IN ('M','N') THEN '5'
      WHEN c = 'R' THEN '6'
      WHEN c IN ('H','W') THEN '-'
      ELSE '0'
    END
"""


@query(
    "fn_soundex_collisions",
    oracle=f"""
    WITH toks AS (
        SELECT DISTINCT UNNEST(STRING_SPLIT(p_name, ' ')) AS tok
        FROM part
    ),
    coded AS (
        SELECT tok,
               LIST_TRANSFORM(STRING_SPLIT(UPPER(tok), ''),
                              c -> {_SOUNDEX_CODE_SQL}) AS codes,
               UPPER(tok[1:1]) AS first_letter
        FROM toks WHERE LENGTH(tok) > 0
    ),
    nohw AS (
        SELECT tok, first_letter,
               LIST_FILTER(codes, c -> c <> '-') AS cs
        FROM coded
    ),
    dedup AS (
        SELECT tok, first_letter,
               LIST_FILTER(cs, (x, i) -> i = 1 OR x <> cs[i - 1]) AS ds
        FROM nohw
    ),
    beheaded AS (
        SELECT tok, first_letter,
               CASE WHEN first_letter IN ('H', 'W') THEN ds
                    ELSE LIST_SLICE(ds, 2, 100000) END AS rest
        FROM dedup
    ),
    keys AS (
        SELECT tok,
               first_letter ||
               RPAD(ARRAY_TO_STRING(
                   LIST_SLICE(LIST_FILTER(rest, x -> x <> '0'), 1, 3),
                   ''), 3, '0') AS sx
        FROM beheaded
    )
    SELECT sx, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           MIN(tok) AS example_a, MAX(tok) AS example_b
    FROM keys GROUP BY sx
    HAVING COUNT(*) >= 2
    ORDER BY n_tokens DESC, sx
    LIMIT 20
    """,
)
def fn_soundex_collisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phonetic-key blocking audit over part-name vocabulary: Spark's
    soundex() BUILTIN keys every distinct token; collision groups
    (>= 2 tokens sharing a key) are the blocks a fuzzy-matcher
    (dedup_fuzzy_names) would compare within. The DuckDB oracle is a
    FROM-SPEC reimplementation of American Soundex (Knuth TAOCP vol. 3;
    the NARA standard, public) as list-lambda algebra — map letters to
    digit classes, drop transparent H/W, collapse adjacent equal codes,
    drop the first letter's own code unless it was H/W, strip
    vowel-resets, pad to 3 digits — so the check certifies Spark's
    builtin IMPLEMENTS the published algorithm (the edge cases that
    distinguish variants: PFISTER=P236, ASHCRAFT=A261, HT=H300).

    Determinism: pure string/integer algebra; top-20 with a total
    order (count desc, key).

    Scale shape: explode + distinct + one groupBy on the key — the
    standard blocking-key build, linear in vocabulary."""
    toks = (
        table(spark, sf_dir, "part")
        .select(F.explode(F.split("p_name", " ")).alias("tok"))
        .where(F.length("tok") > 0)
        .distinct()
    )
    keys = toks.select("tok", F.soundex("tok").alias("sx"))
    return (
        keys.groupBy("sx")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.min("tok").alias("example_a"),
            F.max("tok").alias("example_b"),
        )
        .where(F.col("n_tokens") >= 2)
        .orderBy(F.col("n_tokens").desc(), "sx")
        .limit(20)
    )


# Benford second-digit expected probabilities: P(d2 = d) =
# sum_{d1=1..9} log10(1 + 1/(10*d1 + d)) — computed once, shipped as
# literals to both engines (never log-sums in SQL).
import math as _math

_BENFORD2 = [
    sum(_math.log10(1 + 1.0 / (10 * d1 + d)) for d1 in range(1, 10))
    for d in range(10)
]
_B2_SQL = "[" + ",".join(repr(p) for p in _BENFORD2) + "]"
_B2_SPARK = "array(" + ",".join(f"{p!r}D" for p in _BENFORD2) + ")"


@query(
    "agg_benford_second_digit",
    oracle=f"""
    WITH digits AS (
        SELECT CAST(SUBSTR(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                                AS VARCHAR), 2, 1) AS BIGINT) AS d2
        FROM orders
        WHERE o_totalprice * 100 >= 10
    ),
    obs AS (
        SELECT d2, CAST(COUNT(*) AS BIGINT) AS n
        FROM digits GROUP BY d2
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM obs),
    full_d AS (
        SELECT d.d AS d2, COALESCE(o.n, 0) AS n, t.t,
               ({_B2_SQL})[d.d + 1] AS p_exp
        FROM (SELECT UNNEST(RANGE(10)) AS d) d
        LEFT JOIN obs o ON o.d2 = d.d
        CROSS JOIN tot t
    )
    SELECT d2, n,
           ROUND(n / CAST(t AS DOUBLE), 6) AS p_obs,
           ROUND(p_exp, 6) AS p_exp,
           ROUND((n / CAST(t AS DOUBLE) - p_exp)
                 / SQRT(p_exp * (1 - p_exp) / t), 6) AS z
    FROM full_d
    ORDER BY d2
    """,
)
def agg_benford_second_digit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Second-digit Benford test (Benford 1938; Nigrini, J. of
    Accounting Research framing, public) on order totals in cents:
    P(d2) = sum over first digits of log10(1 + 1/(10*d1 + d2)) — a much
    flatter curve (12% for 0 down to 8.5% for 9) that fabricated or
    rounded amounts violate even when the FIRST digit passes
    (agg_benford), which is why audit practice tests digit 2. Emits
    per-digit observed/expected proportions and the binomial z.

    Exactness device: the ten expected probabilities are computed once
    driver-side and shipped as literals (the wave-233 discipline);
    digits come from exact integer-cents string extraction; counts stay
    BIGINT.

    Scale shape: one map-side-combined 10-group rollup over the scan."""
    digits = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") * 100 >= 10)
        .select(
            F.substring(
                F.round(F.col("o_totalprice") * 100)
                .cast("long")
                .cast("string"),
                2,
                1,
            )
            .cast("long")
            .alias("d2")
        )
    )
    obs = digits.groupBy("d2").agg(F.count("*").cast("long").alias("n"))
    tot = obs.agg(F.sum("n").cast("long").alias("t"))
    dom = spark.range(0, 10).select(F.col("id").alias("d"))
    full_d = (
        dom.join(obs, dom.d == obs.d2, "left_outer")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("d").alias("d2"),
            F.coalesce("n", F.lit(0)).cast("long").alias("n"),
            "t",
            F.element_at(
                F.expr(_B2_SPARK), (F.col("d") + 1).cast("int")
            ).alias("p_exp"),
        )
    )
    return full_d.select(
        "d2",
        "n",
        F.round(F.col("n") / F.col("t").cast("double"), 6).alias("p_obs"),
        F.round("p_exp", 6).alias("p_exp"),
        F.round(
            (F.col("n") / F.col("t").cast("double") - F.col("p_exp"))
            / F.sqrt(F.col("p_exp") * (1 - F.col("p_exp")) / F.col("t")),
            6,
        ).alias("z"),
    ).orderBy("d2")
