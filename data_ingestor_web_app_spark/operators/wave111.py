"""Wave-111: Bowley quartile skewness, a Kimball junk dimension build,
and the Lorenz asymmetry coefficient.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "agg_bowley_skewness",
    oracle="""
    WITH ranked AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
               ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
               COUNT(*) OVER () AS n
        FROM orders
    ),
    qs AS (
        SELECT
          (SELECT cents FROM ranked WHERE rn = (n + 3) // 4 LIMIT 1) AS q1,
          (SELECT cents FROM ranked WHERE rn = (n + 1) // 2 LIMIT 1) AS q2,
          (SELECT cents FROM ranked WHERE rn = (3 * n + 1) // 4 LIMIT 1) AS q3,
          MAX(n) AS n
        FROM ranked
    )
    SELECT n,
           ROUND(q1 / 100.0, 2) AS q1_value,
           ROUND(q2 / 100.0, 2) AS median_value,
           ROUND(q3 / 100.0, 2) AS q3_value,
           ROUND((q1 + q3 - 2.0 * q2) / (q3 - q1), 6) AS bowley_skewness
    FROM qs
    """,
)
def agg_bowley_skewness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bowley's quartile skewness (1901, public):
    (Q1 + Q3 - 2·median)/(Q3 - Q1) — the outlier-immune skewness in
    [-1, 1] that stays meaningful when third moments explode, the
    robust companion to agg_moments_shape's classical skew. Quartiles
    are rank-SELECTED order statistics (attained values), not
    interpolations.

    Determinism: ranks come from a total order; the three selections
    are exact integers; the coefficient is one fixed double formula
    rounded 6dp.

    Scale shape (r8 rework, VERDICT r7 item 4): collapse to distinct
    cents + counts FIRST (one partial-agg shuffle), then the cumulative
    walk runs over the distinct-VALUE frame — the rank-r order statistic
    is the value whose cumulative count range covers r, identical to
    row_number selection but the global window's input is an Aggregate,
    never raw corpus rows."""
    vals = (
        table(spark, sf_dir, "orders")
        .groupBy(F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"))
        .agg(F.count("*").cast("long").alias("k"))
    )
    wv = Window.orderBy("cents")
    cum = vals.select(
        "cents",
        (F.sum("k").over(wv) - F.col("k")).alias("below"),
        F.sum("k").over(wv).alias("upto"),
        F.sum("k").over(Window.partitionBy()).alias("n"),
    )
    # value at rank r: the unique cents with below < r <= upto
    q1 = cum.where(
        (F.col("below") < F.expr("(n + 3) div 4"))
        & (F.expr("(n + 3) div 4") <= F.col("upto"))
    ).select(F.col("cents").alias("q1"))
    q2 = cum.where(
        (F.col("below") < F.expr("(n + 1) div 2"))
        & (F.expr("(n + 1) div 2") <= F.col("upto"))
    ).select(F.col("cents").alias("q2"))
    q3 = cum.where(
        (F.col("below") < F.expr("(3 * n + 1) div 4"))
        & (F.expr("(3 * n + 1) div 4") <= F.col("upto"))
    ).select(F.col("cents").alias("q3"))
    n = vals.agg(F.sum("k").cast("long").alias("n"))
    return (
        n.crossJoin(F.broadcast(q1))
        .crossJoin(F.broadcast(q2))
        .crossJoin(F.broadcast(q3))
        .select(
            "n",
            F.round(F.col("q1") / 100.0, 2).alias("q1_value"),
            F.round(F.col("q2") / 100.0, 2).alias("median_value"),
            F.round(F.col("q3") / 100.0, 2).alias("q3_value"),
            F.round(
                (F.col("q1") + F.col("q3") - 2.0 * F.col("q2")) / (F.col("q3") - F.col("q1")),
                6,
            ).alias("bowley_skewness"),
        )
    )


@query(
    "warehouse_junk_dimension",
    oracle="""
    WITH combos AS (
        SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
    ),
    junk AS (
        SELECT o_orderstatus, o_orderpriority,
               ROW_NUMBER() OVER (ORDER BY o_orderstatus, o_orderpriority)
                   AS junk_key
        FROM combos
    ),
    rekeyed AS (
        SELECT j.junk_key FROM orders o
        JOIN junk j ON j.o_orderstatus = o.o_orderstatus
                   AND j.o_orderpriority = o.o_orderpriority
    )
    SELECT j.junk_key, j.o_orderstatus, j.o_orderpriority,
           CAST(COUNT(r.junk_key) AS BIGINT) AS n_facts
    FROM junk j LEFT JOIN rekeyed r ON r.junk_key = j.junk_key
    GROUP BY j.junk_key, j.o_orderstatus, j.o_orderpriority
    ORDER BY j.junk_key
    """,
)
def warehouse_junk_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Junk-dimension build (Kimball dimensional modeling, public):
    collapse the low-cardinality flag columns (status x priority) into
    one surrogate-keyed dimension and re-key the fact table against it
    — the modeling step that keeps 'miscellaneous flags' from bloating
    a fact table with N separate tiny dims. Surrogate keys come from a
    deterministic ordering, and the audit counts facts per junk row
    (including zero-fact combinations via the outer join).

    Determinism: the combo set and its ordering are exact; counts are
    integers.

    Scale shape: one DISTINCT over two low-card columns (tiny), a
    broadcast join to re-key the fact table, one rollup. The junk dim
    is broadcast-sized BY CONSTRUCTION — that is its point."""
    combos = (
        table(spark, sf_dir, "orders")
        .select("o_orderstatus", "o_orderpriority")
        .distinct()
    )
    junk = combos.withColumn(
        "junk_key",
        F.row_number().over(Window.orderBy("o_orderstatus", "o_orderpriority")),
    )
    rekeyed = table(spark, sf_dir, "orders").join(
        F.broadcast(junk), ["o_orderstatus", "o_orderpriority"]
    )
    counts = rekeyed.groupBy("junk_key").agg(F.count("*").cast("long").alias("n_facts"))
    return (
        junk.join(counts, "junk_key", "left")
        .select(
            "junk_key",
            "o_orderstatus",
            "o_orderpriority",
            F.coalesce("n_facts", F.lit(0).cast("long")).alias("n_facts"),
        )
        .orderBy("junk_key")
    )


@query(
    "agg_lorenz_asymmetry",
    oracle="""
    WITH x AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v FROM orders
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS s
            FROM x),
    below AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m,
               CAST(COALESCE(SUM(v), 0) AS BIGINT) AS sb
        FROM x, tot WHERE v * n < s
    )
    SELECT t.n,
           ROUND(CAST(b.m AS DOUBLE) / t.n, 6) AS f_mu,
           ROUND(CAST(b.sb AS DOUBLE) / t.s, 6) AS l_mu,
           ROUND(CAST(b.m AS DOUBLE) / t.n + CAST(b.sb AS DOUBLE) / t.s, 6)
               AS lorenz_asymmetry,
           CAST(b.m AS DOUBLE) / t.n + CAST(b.sb AS DOUBLE) / t.s > 1
               AS inequality_from_large_values
    FROM tot t, below b
    """,
)
def agg_lorenz_asymmetry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz asymmetry coefficient (Damgaard & Weiner 1998, public):
    S = F(mu) + L(mu), the population share below the mean plus their
    revenue share — S > 1 means inequality is driven by a few LARGE
    values, S < 1 by many SMALL ones, the directional reading the Gini
    coefficient (agg_gini) cannot give. The below-mean cut uses the
    exact integer cross-comparison v·n < s, so no float mean is ever
    materialized.

    Determinism: counts and sums are exact integers; two display
    divisions round 6dp; the verdict is a double comparison of exact
    ratios (identical in both engines).

    Scale shape: two scalar aggregates over one projection — a single
    pass plus a broadcast of the totals row."""
    x = table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v")
    )
    tot = x.agg(
        F.count("*").cast("long").alias("n"), F.sum("v").cast("long").alias("s")
    )
    below = (
        x.crossJoin(F.broadcast(tot))
        .where(F.col("v") * F.col("n") < F.col("s"))
        .agg(
            F.count("*").cast("long").alias("m"),
            F.coalesce(F.sum("v"), F.lit(0)).cast("long").alias("sb"),
        )
    )
    f_mu = F.col("m").cast("double") / F.col("n")
    l_mu = F.col("sb").cast("double") / F.col("s")
    return tot.crossJoin(F.broadcast(below)).select(
        "n",
        F.round(f_mu, 6).alias("f_mu"),
        F.round(l_mu, 6).alias("l_mu"),
        F.round(f_mu + l_mu, 6).alias("lorenz_asymmetry"),
        (f_mu + l_mu > 1).alias("inequality_from_large_values"),
    )
