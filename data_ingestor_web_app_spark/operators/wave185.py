"""Wave-185: Shapiro-Francia normality, Wilson lower-bound ranking, and
factless coverage audit.

Shapiro-Francia needs the expected normal order statistics (Blom scores)
Phi^{-1}((i - 3/8)/(n + 1/4)); there is no inverse-normal in either SQL
engine, so the scores are computed once here in pure Python (Acklam's
rational approximation — public domain, relative error < 1.15e-9) and
injected as identical literals into both plans — the same
literal-injection pattern as the periodogram's trig tables.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


def _inv_norm(p: float) -> float:
    """Acklam's inverse normal CDF approximation (public domain)."""
    a = [-3.969683028665376e+01, 2.209460984245205e+02, -2.759285104469687e+02,
         1.383577518672690e+02, -3.066479806614716e+01, 2.506628277459239e+00]
    b = [-5.447609879822406e+01, 1.615858368580409e+02, -1.556989798598866e+02,
         6.680131188771972e+01, -1.328068155288572e+01]
    c = [-7.784894002430293e-03, -3.223964580411365e-01, -2.400758277161838e+00,
         -2.549732539343734e+00, 4.374664141464968e+00, 2.938163982698783e+00]
    d = [7.784695709041462e-03, 3.224671290700398e-01, 2.445134137142996e+00,
         3.754408661907416e+00]
    plow, phigh = 0.02425, 1 - 0.02425
    if p < plow:
        q = math.sqrt(-2 * math.log(p))
        return (((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q + c[4]) * q + c[5]) / (
            (((d[0] * q + d[1]) * q + d[2]) * q + d[3]) * q + 1
        )
    if p > phigh:
        return -_inv_norm(1 - p)
    q = p - 0.5
    r = q * q
    return (((((a[0] * r + a[1]) * r + a[2]) * r + a[3]) * r + a[4]) * r + a[5]) * q / (
        ((((b[0] * r + b[1]) * r + b[2]) * r + b[3]) * r + b[4]) * r + 1
    )


_N_DAYS = 30  # events span 2024-01-01..30 at every SF (pytest pins this)
_BLOM = [_inv_norm((i - 0.375) / (_N_DAYS + 0.25)) for i in range(1, _N_DAYS + 1)]
_SM2 = sum(m * m for m in _BLOM)
_BLOM_SQL = "[" + ", ".join(repr(m) for m in _BLOM) + "]::DOUBLE[]"
_BLOM_SPARK = "array(" + ", ".join(f"{m!r}d" for m in _BLOM) + ")"


@query(
    "agg_shapiro_francia",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY CAST(ts AS DATE)
    ),
    arr AS (SELECT LIST(x ORDER BY x) AS xs FROM daily),
    stats AS (
        SELECT xs, CAST(LEN(xs) AS BIGINT) AS n,
               CAST(LIST_SUM(xs) AS BIGINT) AS s
        FROM arr
    ),
    folds AS (
        SELECT n, s,
               LIST_REDUCE(
                   LIST_TRANSFORM(RANGE(1, CAST(n + 1 AS INT)),
                       i -> ({_BLOM_SQL})[i] * CAST(xs[i] AS DOUBLE)),
                   (a, b) -> a + b) AS mx,
               CAST(LIST_SUM(LIST_TRANSFORM(xs,
                       x -> (n * x - s) * (n * x - s))) AS BIGINT) AS sxx
        FROM stats
    )
    SELECT n AS n_days,
           ROUND(mx, 6) AS sum_mx,
           ROUND(mx * mx * n * n / (CAST({_SM2!r} AS DOUBLE) * sxx), 6)
               AS w_prime
    FROM folds
    """,
)
def agg_shapiro_francia(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shapiro-Francia normality statistic for the daily event-count
    series: W' = (Σ m_i x_(i))² / (Σm² · Σ(x - x̄)²), where m are the
    Blom expected normal order statistics — the rank-based normality
    check that complements agg_jarque_bera's moment-based one (W' near 1
    = consistent with normal; small = not).

    Determinism: the Blom scores and Σm² are Python-computed literals
    identical in both plans; Σ m_i x_(i) is an ORDERED left fold over the
    sorted counts (Spark zip_with+aggregate vs DuckDB
    LIST_TRANSFORM+LIST_REDUCE — same association order, and the 0-init
    difference is exact since 0 + x == x in IEEE); the centered sum of
    squares is exact integers via the n·x − S trick.

    Scale shape: one groupBy(day) with map-side partials, then a single
    30-element array fold — the statistic's cost is the daily rollup,
    independent of corpus size."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count("*").cast("long").alias("x")
    )
    arr = daily.agg(F.sort_array(F.collect_list("x")).alias("xs"))
    stats = arr.select(
        "xs",
        F.size("xs").cast("long").alias("n"),
        F.expr("aggregate(xs, cast(0 as bigint), (a, x) -> a + x)").alias("s"),
    )
    folds = stats.select(
        "n",
        "s",
        F.expr(
            f"aggregate(zip_with(xs, {_BLOM_SPARK},"
            " (x, m) -> m * cast(x as double)), 0d, (a, b) -> a + b)"
        ).alias("mx"),
        F.expr(
            "aggregate(transform(xs, x -> (n * x - s) * (n * x - s)),"
            " cast(0 as bigint), (a, b) -> a + b)"
        ).alias("sxx"),
    )
    return folds.select(
        F.col("n").alias("n_days"),
        F.round("mx", 6).alias("sum_mx"),
        F.round(
            F.col("mx") * F.col("mx") * F.col("n") * F.col("n")
            / (F.lit(_SM2) * F.col("sxx")),
            6,
        ).alias("w_prime"),
    )


@query(
    "model_wilson_score_ranking",
    oracle="""
    WITH src AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN LEN(STRING_SPLIT(text, ' ')) >= 60
                             THEN 1 ELSE 0 END) AS BIGINT) AS k
        FROM documents GROUP BY source
    ),
    scored AS (
        SELECT source, n, k,
               CAST(k AS DOUBLE) / n AS p_hat,
               (CAST(k AS DOUBLE) / n + 1.96e0 * 1.96e0 / (2 * n)
                - 1.96e0 * SQRT((CAST(k AS DOUBLE) / n)
                                * (1 - CAST(k AS DOUBLE) / n) / n
                                + 1.96e0 * 1.96e0 / (4 * n * n)))
               / (1 + 1.96e0 * 1.96e0 / n) AS lb
        FROM src
    )
    SELECT source, n AS n_docs, k AS k_pos, p_hat,
           ROUND(lb, 6) AS wilson_lb,
           CAST(ROW_NUMBER() OVER (ORDER BY lb DESC, source) AS BIGINT) AS rk
    FROM scored
    """,
)
def model_wilson_score_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson-score lower-bound ranking of document sources by their
    long-document rate (>= 60 tokens): the standard "sort by rating"
    fix — a source with 3/3 long docs must NOT outrank one with 95/100,
    and the 95% Wilson lower confidence bound encodes exactly that
    shrinkage. The primitive behind every review/quality leaderboard.

    Determinism: n and k are exact counts; the Wilson formula is written
    with the identical token-for-token expression shape in both engines
    (same multiply/divide association, z = 1.96 literal), so both compute
    the same IEEE double before the 6dp display rounding; ranking orders
    the UNROUNDED bound with the source name as tie-break.

    Scale shape: one groupBy(source) with map-side partials; the ranking
    window runs over the per-source frame (tiny by construction)."""
    docs = table(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n"),
        F.sum((F.size(F.split("text", " ")) >= 60).cast("long"))
        .cast("long")
        .alias("k"),
    )
    p = F.col("k").cast("double") / F.col("n")
    z = F.lit(1.96)
    lb = (
        p
        + z * z / (2 * F.col("n"))
        - z * F.sqrt(p * (1 - p) / F.col("n") + z * z / (4 * F.col("n") * F.col("n")))
    ) / (1 + z * z / F.col("n"))
    scored = src.select(
        "source", F.col("n").alias("n_docs"), F.col("k").alias("k_pos"),
        p.alias("p_hat"), lb.alias("lb"),
    )
    w = Window.orderBy(F.col("lb").desc(), "source")
    return scored.select(
        "source",
        "n_docs",
        "k_pos",
        "p_hat",
        F.round("lb", 6).alias("wilson_lb"),
        F.row_number().over(w).cast("long").alias("rk"),
    )


@query(
    "warehouse_factless_coverage",
    oracle="""
    WITH brands AS (SELECT DISTINCT p_brand FROM part),
    nations AS (SELECT n_nationkey, n_name FROM nation),
    observed AS (
        SELECT DISTINCT p.p_brand, n.n_name
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
    )
    SELECT b.p_brand,
           CAST(COUNT(o.n_name) AS BIGINT) AS n_nations_covered,
           CAST(COUNT(*) - COUNT(o.n_name) AS BIGINT) AS n_nations_missing,
           MIN(CASE WHEN o.n_name IS NULL THEN nt.n_name END)
               AS first_missing_nation
    FROM brands b
    CROSS JOIN nations nt
    LEFT JOIN observed o
      ON o.p_brand = b.p_brand AND o.n_name = nt.n_name
    GROUP BY b.p_brand
    """,
)
def warehouse_factless_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Factless coverage audit — the warehouse question a fact table
    cannot answer alone: which (brand, customer-nation) combinations have
    NO sales at all? The dimension cross product is the "factless fact
    table" of possible combinations; a left join against observed sales
    yields per-brand market coverage and the first uncovered nation.

    Determinism: exact counts over an exact set difference; the sample
    missing nation is MIN by name.

    Scale shape: the coverage grid is dims-only (|brands| x |nations| =
    hundreds of rows — broadcast); the observed set is ONE distinct over
    the star join, which at 100 TB is the dominant (and unavoidable)
    aggregation, done with map-side partials on the (brand, nation)
    pair."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    observed = (
        li.join(F.broadcast(part.select("p_partkey", "p_brand")), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders.select("o_orderkey", "o_custkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust.select("c_custkey", "c_nationkey"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_name")), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("p_brand", "n_name")
        .distinct()
    )
    grid = (
        part.select(F.col("p_brand").alias("g_brand")).distinct()
        .crossJoin(nation.select(F.col("n_name").alias("nt_name")))
    )
    joined = grid.join(
        observed,
        (observed.p_brand == grid.g_brand) & (observed.n_name == grid.nt_name),
        "left",
    ).select(F.col("g_brand").alias("brand"), "nt_name", "n_name")
    return (
        joined.groupBy("brand")
        .agg(
            F.count("n_name").cast("long").alias("n_nations_covered"),
            (F.count("*") - F.count("n_name")).cast("long").alias("n_nations_missing"),
            F.min(F.when(F.col("n_name").isNull(), F.col("nt_name"))).alias(
                "first_missing_nation"
            ),
        )
        .withColumnRenamed("brand", "p_brand")
    )
