"""Wave-335: Bühlmann-Straub credibility (Bühlmann 1967; Bühlmann &
Straub 1970) over nation-level order severities, and the
Bornhuetter-Ferguson reserve (Bornhuetter & Ferguson, PCAS 1972) on
the same development triangle as warehouse_chain_ladder.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "model_buhlmann_credibility",
    oracle="""
    WITH u AS (
        SELECT c.c_nationkey AS risk,
               CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS y
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    grp AS (
        SELECT risk, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS s,
               SUM(CAST(y AS HUGEINT) * y) AS s2
        FROM u GROUP BY risk
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(n) AS BIGINT) AS nn,
               CAST(SUM(s) AS BIGINT) AS ss,
               SUM(CAST(n AS HUGEINT) * n) AS sn2,
               SUM(CAST(s2 AS DOUBLE)
                   - CAST(s AS DOUBLE) * s / n) AS within_ss,
               SUM(CAST(n AS DOUBLE)
                   * (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
                   AS wmean2
        FROM grp
    ),
    params AS (
        SELECT k, nn, ss,
               within_ss / (nn - k) AS s2w,
               (wmean2 - (CAST(ss AS DOUBLE) * ss / nn)
                - (k - 1) * within_ss / (nn - k))
               / (nn - CAST(sn2 AS DOUBLE) / nn) AS a
        FROM tot
    )
    SELECT CAST(g.risk AS BIGINT) AS nation, g.n AS n_orders,
           ROUND(CAST(g.s AS DOUBLE) / g.n / 100.0, 2) AS risk_mean,
           ROUND(CAST(p.ss AS DOUBLE) / p.nn / 100.0, 2) AS grand_mean,
           ROUND(g.n / (g.n + p.s2w / p.a), 6) AS credibility_z,
           ROUND((g.n / (g.n + p.s2w / p.a)
                  * (CAST(g.s AS DOUBLE) / g.n)
                  + (1 - g.n / (g.n + p.s2w / p.a))
                  * (CAST(p.ss AS DOUBLE) / p.nn)) / 100.0, 2)
               AS credibility_premium
    FROM grp g CROSS JOIN params p
    ORDER BY nation
    """,
)
def model_buhlmann_credibility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bühlmann-Straub empirical credibility (Bühlmann 1967; Bühlmann
    & Straub 1970 — THE actuarial shrinkage estimator): each nation's
    order-severity mean is blended with the grand mean by Z_i =
    n_i/(n_i + s²/a), where s² is the pooled within-risk variance and
    a the between-risk variance of hypothetical means (its standard
    unbiased moment estimator with the Σn²/n exposure correction).
    Exactly the shrinkage a fleet-wide metric system applies to
    low-volume segments — credibility IS empirical Bayes (Efron's
    parallel), fifteen years early.

    Determinism: per-risk moments are exact integer cent sums; the two
    variance components and Z are fixed chains; money rounded to
    cents, Z to 6dp.

    Scale shape: one join + one groupBy(risk) with map-side partials;
    the credibility math runs on the k=25 risk frame."""
    u = (
        table(spark, sf_dir, "orders")
        .join(
            table(spark, sf_dir, "customer").select(
                "c_custkey", "c_nationkey"
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            F.col("c_nationkey").alias("risk"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("y"),
        )
    )
    grp = u.groupBy("risk").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("s2"),
    )
    tot = grp.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n").cast("long").alias("nn"),
        F.sum("s").cast("long").alias("ss"),
        F.sum(F.col("n").cast("decimal(38,0)") * F.col("n")).alias("sn2"),
        F.sum(
            F.col("s2").cast("double")
            - F.col("s").cast("double") * F.col("s") / F.col("n")
        ).alias("within_ss"),
        F.sum(
            F.col("n").cast("double")
            * (F.col("s").cast("double") / F.col("n"))
            * (F.col("s").cast("double") / F.col("n"))
        ).alias("wmean2"),
    )
    params = tot.select(
        "k",
        "nn",
        "ss",
        (F.col("within_ss") / (F.col("nn") - F.col("k"))).alias("s2w"),
        (
            (
                F.col("wmean2")
                - F.col("ss").cast("double") * F.col("ss") / F.col("nn")
                - (F.col("k") - 1)
                * F.col("within_ss")
                / (F.col("nn") - F.col("k"))
            )
            / (F.col("nn") - F.col("sn2").cast("double") / F.col("nn"))
        ).alias("a"),
    )
    out = grp.crossJoin(F.broadcast(params))
    z = F.col("n") / (F.col("n") + F.col("s2w") / F.col("a"))
    rmean = F.col("s").cast("double") / F.col("n")
    gmean = F.col("ss").cast("double") / F.col("nn")
    return out.select(
        F.col("risk").cast("long").alias("nation"),
        F.col("n").alias("n_orders"),
        F.round(rmean / 100.0, 2).alias("risk_mean"),
        F.round(gmean / 100.0, 2).alias("grand_mean"),
        F.round(z, 6).alias("credibility_z"),
        F.round((z * rmean + (1 - z) * gmean) / 100.0, 2).alias(
            "credibility_premium"
        ),
    ).orderBy("nation")


@query(
    "model_bornhuetter_ferguson",
    oracle="""
    WITH cells AS (
        SELECT EXTRACT(year FROM o.o_orderdate) AS origin,
               EXTRACT(year FROM l.l_shipdate)
                 - EXTRACT(year FROM o.o_orderdate) AS lag,
               CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS inc
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE EXTRACT(year FROM l.l_shipdate)
              >= EXTRACT(year FROM o.o_orderdate)
        GROUP BY 1, 2
    ),
    t AS (SELECT MAX(origin + lag) AS tmax FROM cells),
    cum AS (
        SELECT origin, lag,
               SUM(inc) OVER (PARTITION BY origin ORDER BY lag) AS c
        FROM cells
    ),
    known AS (
        SELECT cum.origin, cum.lag, cum.c FROM cum CROSS JOIN t
        WHERE cum.origin + cum.lag <= t.tmax
    ),
    fac AS (
        SELECT a.lag AS k, CAST(SUM(b.c) AS DOUBLE) / SUM(a.c) AS f
        FROM known a JOIN known b
          ON b.origin = a.origin AND b.lag = a.lag + 1
        GROUP BY a.lag
    ),
    latest AS (
        SELECT origin, MAX(lag) AS dev, MAX_BY(c, lag) AS c_latest
        FROM known GROUP BY origin
    ),
    cdf AS (
        SELECT l.origin, l.dev, l.c_latest,
               EXP(COALESCE(SUM(LN(f.f)), 0)) AS tail
        FROM latest l LEFT JOIN fac f ON f.k >= l.dev
        GROUP BY l.origin, l.dev, l.c_latest
    ),
    prem AS (
        SELECT EXTRACT(year FROM o_orderdate) AS origin,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS premium
        FROM orders GROUP BY 1
    ),
    elr AS (
        SELECT SUM(CAST(c.c_latest AS DOUBLE) * c.tail) / SUM(p.premium)
                   AS elr
        FROM cdf c JOIN prem p ON p.origin = c.origin
    )
    SELECT CAST(c.origin AS BIGINT) AS origin_year,
           ROUND(c.c_latest / 100.0, 2) AS paid_to_date,
           ROUND(p.premium / 100.0, 2) AS premium,
           ROUND(e.elr, 6) AS elr,
           ROUND(1.0 - 1.0 / c.tail, 6) AS pct_unreported,
           ROUND((c.c_latest + p.premium * e.elr * (1.0 - 1.0 / c.tail))
                 / 100.0, 2) AS bf_ultimate,
           ROUND(c.c_latest * c.tail / 100.0, 2) AS cl_ultimate
    FROM cdf c JOIN prem p ON p.origin = c.origin CROSS JOIN elr e
    ORDER BY origin_year
    """,
)
def model_bornhuetter_ferguson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bornhuetter-Ferguson reserving (PCAS 1972): ultimate_i =
    paid_i + premium_i · ELR · (1 − 1/CDF_i) — the credibility-style
    compromise between the chain ladder (which multiplies the paid
    diagonal, unstable for green origin years) and a pure a-priori
    loss ratio. The development CDF comes from the SAME volume-weighted
    age-to-age factors as warehouse_chain_ladder; premium is the origin
    year's order volume; the a-priori ELR is the all-years CL ultimate
    over premium (the standard bootstrap of the prior when no external
    plan exists). cl_ultimate is reported alongside so the stabilizing
    effect is visible per origin year.

    Determinism: the triangle, factors, and tails reuse chain-ladder's
    exact-cent construction; premium is an exact cent sum; fixed
    chains rounded (cents / 6dp).

    Scale shape: the same join + (origin, lag) collapse as the chain
    ladder; premiums are one more partial-agg groupBy; all BF math
    runs on the years-sized frame."""
    cells = (
        table(spark, sf_dir, "lineitem")
        .join(
            table(spark, sf_dir, "orders").select(
                "o_orderkey", "o_orderdate"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .where(F.year("l_shipdate") >= F.year("o_orderdate"))
        .groupBy(
            F.year("o_orderdate").alias("origin"),
            (F.year("l_shipdate") - F.year("o_orderdate")).alias("lag"),
        )
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("inc")
        )
    )
    from pyspark.sql.window import Window

    tmax = cells.agg(F.max(F.col("origin") + F.col("lag")).alias("tmax"))
    cum = cells.select(
        "origin",
        "lag",
        F.sum("inc").over(Window.partitionBy("origin").orderBy("lag")).alias(
            "c"
        ),
    )
    known = cum.crossJoin(F.broadcast(tmax)).where(
        F.col("origin") + F.col("lag") <= F.col("tmax")
    )
    a = known.select(
        F.col("origin").alias("ao"),
        F.col("lag").alias("k"),
        F.col("c").alias("ca"),
    )
    b = known.select(
        F.col("origin").alias("bo"),
        F.col("lag").alias("bl"),
        F.col("c").alias("cb"),
    )
    fac = (
        a.join(b, (F.col("bo") == F.col("ao")) & (F.col("bl") == F.col("k") + 1))
        .groupBy("k")
        .agg((F.sum("cb").cast("double") / F.sum("ca")).alias("f"))
    )
    latest = known.groupBy("origin").agg(
        F.max("lag").alias("dev"),
        F.expr("max_by(c, lag)").alias("c_latest"),
    )
    cdf = (
        latest.join(F.broadcast(fac), fac.k >= latest.dev, "left")
        .groupBy("origin", "dev", "c_latest")
        .agg(
            F.exp(F.coalesce(F.sum(F.log("f")), F.lit(0.0))).alias("tail")
        )
    )
    prem = (
        table(spark, sf_dir, "orders")
        .groupBy(F.year("o_orderdate").alias("porigin"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("premium")
        )
    )
    joined = cdf.join(prem, cdf.origin == prem.porigin)
    elr = joined.agg(
        (
            F.sum(F.col("c_latest").cast("double") * F.col("tail"))
            / F.sum("premium")
        ).alias("elr")
    )
    out = joined.crossJoin(F.broadcast(elr))
    unrep = 1.0 - 1.0 / F.col("tail")
    return out.select(
        F.col("origin").cast("long").alias("origin_year"),
        F.round(F.col("c_latest") / 100.0, 2).alias("paid_to_date"),
        F.round(F.col("premium") / 100.0, 2).alias("premium"),
        F.round(F.col("elr"), 6).alias("elr"),
        F.round(unrep, 6).alias("pct_unreported"),
        F.round(
            (F.col("c_latest") + F.col("premium") * F.col("elr") * unrep)
            / 100.0,
            2,
        ).alias("bf_ultimate"),
        F.round(F.col("c_latest") * F.col("tail") / 100.0, 2).alias(
            "cl_ultimate"
        ),
    ).orderBy("origin_year")
