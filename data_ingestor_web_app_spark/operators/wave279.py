"""Wave-279: the cohort revenue-retention triangle (the SaaS reporting
classic, in weekly cohorts) and a 4-round Feistel format-preserving
pseudonymization with an in-band bijectivity audit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "warehouse_cohort_revenue_triangle",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               MIN(epoch_us(ts) // 604800000000) AS cohort_w
        FROM events GROUP BY user_id
    ),
    rev AS (
        SELECT e.user_id,
               f.cohort_w,
               epoch_us(e.ts) // 604800000000 - f.cohort_w AS age_w,
               e.value AS v
        FROM events e JOIN firsts f ON f.user_id = e.user_id
        WHERE e.event_type = 'purchase'
    ),
    cells AS (
        SELECT cohort_w, age_w,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
               SUM(v) AS revenue
        FROM rev GROUP BY cohort_w, age_w
    ),
    base AS (
        SELECT cohort_w, revenue AS rev0 FROM cells WHERE age_w = 0
    )
    SELECT CAST(c.cohort_w - (SELECT MIN(cohort_w) FROM firsts)
                AS BIGINT) AS cohort,
           CAST(c.age_w AS BIGINT) AS age_weeks,
           c.n_users,
           ROUND(c.revenue, 2) AS revenue,
           ROUND(c.revenue / b.rev0, 6) AS revenue_retention
    FROM cells c JOIN base b ON b.cohort_w = c.cohort_w
    ORDER BY cohort, age_weeks
    """,
)
def warehouse_cohort_revenue_triangle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The cohort revenue-retention triangle (the standard SaaS /
    subscription analytics artifact, e.g. Skok's SaaS metrics canon,
    public): users cohorted by FIRST-ACTIVITY week, purchase revenue
    rolled up by cohort x age-in-weeks, each cell normalized by its
    cohort's week-0 revenue. Reading down a column compares cohort
    quality at equal age; reading along a row is a cohort's decay
    curve — the dollar-weighted upgrade of events_cohort_retention
    (which counts users; money retains differently than logins).

    Exactness device: week indices are exact integer division of epoch
    micros (604800000000 = 7 days); revenue rounds to cents; the
    normalization divides the identical unrounded sums.

    Scale shape: one per-user min, one user-keyed join back, one
    (cohort, age) rollup — the canonical two-shuffle cohort plan."""
    e = table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.min(F.expr("unix_micros(ts) div 604800000000")).alias("cohort_w")
    )
    rev = (
        e.where(F.col("event_type") == "purchase")
        .join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_w",
            (
                F.expr("unix_micros(ts) div 604800000000") - F.col("cohort_w")
            ).alias("age_w"),
            F.col("value").alias("v"),
        )
    )
    cells = rev.groupBy("cohort_w", "age_w").agg(
        F.count_distinct("user_id").cast("long").alias("n_users"),
        F.sum("v").alias("revenue"),
    )
    base = cells.where(F.col("age_w") == 0).select(
        F.col("cohort_w").alias("bc"), F.col("revenue").alias("rev0")
    )
    min_c = firsts.agg(F.min("cohort_w").alias("mc"))
    return (
        cells.join(base, F.col("bc") == F.col("cohort_w"))
        .crossJoin(F.broadcast(min_c))
        .select(
            (F.col("cohort_w") - F.col("mc")).cast("long").alias("cohort"),
            F.col("age_w").cast("long").alias("age_weeks"),
            "n_users",
            F.round("revenue", 2).alias("revenue"),
            F.round(F.col("revenue") / F.col("rev0"), 6).alias(
                "revenue_retention"
            ),
        )
        .orderBy("cohort", "age_weeks")
    )


@query(
    "privacy_feistel_pseudonym",
    oracle=f"""
    WITH ids AS (SELECT DISTINCT user_id AS uid FROM events),
    r0 AS (
        SELECT uid,
               CAST(uid // 1024 AS BIGINT) AS l,
               CAST(uid % 1024 AS BIGINT) AS r
        FROM ids
    ),
    r1 AS (SELECT uid, r AS l,
                  CAST((l + CAST('0x' || SUBSTR(MD5('f1:' || r), 1, 8)
                                 AS BIGINT)) % 1024 AS BIGINT) AS r
           FROM r0),
    r2 AS (SELECT uid, r AS l,
                  CAST((l + CAST('0x' || SUBSTR(MD5('f2:' || r), 1, 8)
                                 AS BIGINT)) % 1024 AS BIGINT) AS r
           FROM r1),
    r3 AS (SELECT uid, r AS l,
                  CAST((l + CAST('0x' || SUBSTR(MD5('f3:' || r), 1, 8)
                                 AS BIGINT)) % 1024 AS BIGINT) AS r
           FROM r2),
    r4 AS (SELECT uid, r AS l,
                  CAST((l + CAST('0x' || SUBSTR(MD5('f4:' || r), 1, 8)
                                 AS BIGINT)) % 1024 AS BIGINT) AS r
           FROM r3),
    mapped AS (SELECT uid, l * 1024 + r AS pseudo FROM r4)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_ids,
           CAST(COUNT(DISTINCT pseudo) AS BIGINT) AS n_pseudonyms,
           COUNT(*) = COUNT(DISTINCT pseudo) AS bijective,
           CAST(MIN(pseudo) AS BIGINT) AS min_pseudo,
           CAST(MAX(pseudo) AS BIGINT) AS max_pseudo,
           CAST(SUM(CASE WHEN pseudo = uid THEN 1 ELSE 0 END) AS BIGINT)
               AS n_fixed_points
    FROM mapped
    """,
)
def privacy_feistel_pseudonym(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Format-preserving pseudonymization by a 4-round Feistel network
    (Luby & Rackoff, SIAM J. Computing 1988 for the construction; the
    FFX/FF1 idea behind NIST SP 800-38G, public): user ids in
    [0, 2^20) split into 10-bit halves, four rounds of L,R -> R,
    (L + F_k(R)) mod 1024 with md5-derived round functions. A Feistel
    network is a PERMUTATION by construction — the audit counts
    distinct outputs (must equal inputs — asserted in-band as the
    `bijective` column and in this wave's test) and fixed points
    (pseudonyms that leak the original, expected ~n/2^20). This is how
    you pseudonymize WITHOUT a lookup table — stateless, invertible
    with the key, collision-free (contrast privacy_pseudonym_audit's
    hash approach, which must argue about collisions).

    Determinism: md5-derived round values are exact integer substring
    parses; all arithmetic is BIGINT mod 1024.

    Scale shape: four per-row hash rounds, one distinct rollup — pure
    map work plus one aggregate."""
    e = table(spark, sf_dir, "events")
    ids = e.select(F.col("user_id").alias("uid")).distinct()
    cur = ids.select(
        "uid",
        F.expr("uid div 1024").cast("long").alias("l"),
        (F.col("uid") % 1024).cast("long").alias("r"),
    )
    for rnd in range(1, 5):
        f_val = (
            F.expr(
                f"conv(substring(md5(concat('f{rnd}:', cast(r as string))),"
                " 1, 8), 16, 10)"
            ).cast("long")
        )
        cur = cur.select(
            "uid",
            F.col("r").alias("l"),
            ((F.col("l") + f_val) % 1024).cast("long").alias("r"),
        )
    mapped = cur.select(
        "uid", (F.col("l") * 1024 + F.col("r")).alias("pseudo")
    )
    return mapped.agg(
        F.count("*").cast("long").alias("n_ids"),
        F.count_distinct("pseudo").cast("long").alias("n_pseudonyms"),
        (F.count("*") == F.count_distinct("pseudo")).alias("bijective"),
        F.min("pseudo").cast("long").alias("min_pseudo"),
        F.max("pseudo").cast("long").alias("max_pseudo"),
        F.sum(F.when(F.col("pseudo") == F.col("uid"), 1).otherwise(0))
        .cast("long")
        .alias("n_fixed_points"),
    )
