"""Wave-244: two more hash-replayable randomized primitives — the Linear
Counting distinct sketch (the low-cardinality regime where HLL is biased)
and the differentially-private exponential mechanism selected via the
Gumbel-max trick, both on the md5-uniform device of
privacy_dp_laplace_hashnoise (wave60.py:106).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_LC_M = 1024


@query(
    "agg_linear_counting",
    oracle=f"""
    WITH hashed AS (
        SELECT DISTINCT
               CAST('0x' || SUBSTR(MD5('lc:' || CAST(user_id AS VARCHAR)),
                            1, 8) AS BIGINT) % {_LC_M} AS bucket
        FROM events
    ),
    occ AS (SELECT CAST(COUNT(*) AS BIGINT) AS occupied FROM hashed),
    ex AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
           FROM events)
    SELECT {_LC_M} AS m, ex.n_exact, occ.occupied,
           ROUND(CASE WHEN occ.occupied >= {_LC_M}
                      THEN {_LC_M} * LN({_LC_M})
                      ELSE -{_LC_M} * LN(({_LC_M} - occ.occupied)
                                         / {_LC_M}.0) END, 4) AS estimate,
           ROUND(100.0 * (CASE WHEN occ.occupied >= {_LC_M}
                               THEN {_LC_M} * LN({_LC_M})
                               ELSE -{_LC_M} * LN(({_LC_M} - occ.occupied)
                                                  / {_LC_M}.0) END
                          - ex.n_exact) / ex.n_exact, 4) AS rel_err_pct
    FROM occ CROSS JOIN ex
    """,
)
def agg_linear_counting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear (probabilistic) counting (Whang, Vander-Zanden & Taylor,
    TODS 1990, public): hash each user into an m=1024-bit bitmap and
    estimate the distinct count as -m * ln(empty_fraction) — the
    maximum-likelihood inversion of the occupancy process. In the
    load-factor regime here it is LESS biased than HyperLogLog
    (agg_hll_sketch), which is why HLL implementations fall back to
    exactly this formula at low cardinality; rel_err_pct measures the
    sketch against the exact count in-band.

    Exactness device: buckets come from the md5-uniform device (exact
    integer substring-parse mod m, identical in both engines);
    occupancy is a distinct-count of buckets; one LN of an exact ratio.
    The saturated bitmap (occupied = m) caps at m*ln(m), same CASE both
    sides.

    Scale shape: the sketch is a groupBy-bucket distinct — 1024 cells
    regardless of fact size, mergeable across partitions exactly like
    production HLL registers."""
    m = _LC_M
    hashed = (
        table(spark, sf_dir, "events")
        .select(
            (
                F.expr(
                    "conv(substring(md5(concat('lc:', cast(user_id as string))),"
                    " 1, 8), 16, 10)"
                ).cast("long")
                % m
            ).alias("bucket")
        )
        .distinct()
    )
    occ = hashed.agg(F.count("*").cast("long").alias("occupied"))
    ex = table(spark, sf_dir, "events").agg(
        F.count_distinct("user_id").cast("long").alias("n_exact")
    )
    est = F.when(
        F.col("occupied") >= m, F.lit(float(m)) * F.log(F.lit(float(m)))
    ).otherwise(-m * F.log((m - F.col("occupied")) / float(m)))
    return occ.crossJoin(F.broadcast(ex)).select(
        F.lit(m).cast("int").alias("m"),
        "n_exact",
        "occupied",
        F.round(est, 4).alias("estimate"),
        F.round(100.0 * (est - F.col("n_exact")) / F.col("n_exact"), 4).alias(
            "rel_err_pct"
        ),
    )


_EM_EPS = 0.1


@query(
    "privacy_exponential_mechanism",
    oracle=f"""
    WITH util AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS utility
        FROM events GROUP BY event_type
    ),
    noised AS (
        SELECT event_type, utility,
               -LN(-LN((CAST('0x' || SUBSTR(MD5('em:' || event_type), 1, 8)
                             AS BIGINT) + 0.5) / 4294967296.0)) AS gumbel
        FROM util
    ),
    scored AS (
        SELECT event_type, utility, gumbel,
               {_EM_EPS!r} * utility / 2.0 + gumbel AS score
        FROM noised
    )
    SELECT event_type, utility,
           ROUND(gumbel, 6) AS gumbel,
           ROUND(score, 6) AS score,
           score = (SELECT MAX(score) FROM scored) AS selected
    FROM scored
    """,
)
def privacy_exponential_mechanism(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exponential mechanism (McSherry & Talwar, FOCS 2007, public)
    selecting the most common event type under eps=0.1 differential
    privacy, realized by the Gumbel-max trick (Gumbel 1954): adding
    independent Gumbel(0,1) noise to eps*u/(2*sensitivity) and taking
    the argmax samples EXACTLY the exponential mechanism's softmax
    distribution — the standard production implementation because it
    needs one noise draw per candidate and no normalizing constant.
    Sensitivity of a count utility is 1.

    Determinism: the Gumbel draw is -ln(-ln(u)) of the md5-uniform
    (the wave60 Laplace device with a second inverse-CDF composition —
    reproducibility is a harness property, not a DP property); the
    selected flag compares identical unrounded score chains.

    Scale shape: one map-side-combinable utility rollup; the candidate
    frame is as small as the domain; the argmax is a broadcast max."""
    util = (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").cast("long").alias("utility"))
    )
    u = (
        F.expr(
            "conv(substring(md5(concat('em:', event_type)), 1, 8), 16, 10)"
        ).cast("long")
        + 0.5
    ) / 4294967296.0
    scored = util.select(
        "event_type",
        "utility",
        (-F.log(-F.log(u))).alias("gumbel"),
    ).withColumn(
        "score", _EM_EPS * F.col("utility") / 2.0 + F.col("gumbel")
    )
    mx = scored.agg(F.max("score").alias("mx"))
    return scored.crossJoin(F.broadcast(mx)).select(
        "event_type",
        "utility",
        F.round("gumbel", 6).alias("gumbel"),
        F.round("score", 6).alias("score"),
        (F.col("score") == F.col("mx")).alias("selected"),
    )
