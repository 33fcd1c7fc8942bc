"""Wave-43: vocab coverage audit, SLO burn rate, FILTER-clause
aggregates, delta-method ratio CI.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "text_vocab_coverage",
    oracle="""
    WITH flat AS (
        SELECT doc_id, source, UNNEST(STRING_SPLIT(text, ' ')) AS tok
        FROM documents
    ),
    vocab AS (
        SELECT tok FROM (
            SELECT tok, COUNT(*) AS n,
                   ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok) AS rk
            FROM flat GROUP BY tok
        ) t WHERE rk <= 20
    )
    SELECT source,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS covered,
           ROUND(SUM(CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS coverage,
           ROUND(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS oov_rate
    FROM flat f LEFT JOIN vocab v ON v.tok = f.tok
    GROUP BY source
    """,
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage audit: build the top-20 corpus vocabulary, then
    measure per-source token coverage and OOV rate against it — the check
    that tells you whether a fixed tokenizer vocabulary (or stopword
    list) transfers to a new source before you pay for retraining.

    Scale shape: vocab selection is one map-side-combined count +
    TakeOrdered (k rows, broadcast); coverage is a broadcast left join on
    the token — the corpus never shuffles."""
    d = table(spark, sf_dir, "documents")
    flat = d.select("source", F.explode(F.split("text", " ")).alias("tok"))
    vocab = (
        flat.groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "tok")
        .limit(20)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    joined = flat.join(F.broadcast(vocab), "tok", "left")
    covered = F.sum(F.when(F.col("in_vocab").isNotNull(), 1).otherwise(0))
    return joined.groupBy("source").agg(
        F.count("*").alias("n_tokens"),
        covered.cast("long").alias("covered"),
        F.round(covered * 1.0 / F.count("*"), 6).alias("coverage"),
        F.round(
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)) * 1.0 / F.count("*"),
            6,
        ).alias("oov_rate"),
    )


@query(
    "events_slo_burn_rate",
    oracle="""
    WITH hourly AS (
        SELECT DATE_TRUNC('hour', ts) AS h,
               COUNT(*) AS n,
               CAST(SUM((value > 450)::INT) AS BIGINT) AS n_bad
        FROM events GROUP BY 1
    )
    SELECT STRFTIME(h, '%Y-%m-%d %H:%M:%S') AS hour,
           n, n_bad,
           ROUND(n_bad * 1.0 / n, 6) AS error_rate,
           ROUND((n_bad * 1.0 / n) / 0.01, 4) AS burn_rate,
           CAST((n_bad * 1.0 / n) / 0.01 > 2.0 AS BOOLEAN) AS page_alert
    FROM hourly
    """,
)
def events_slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLO burn-rate monitor (the SRE error-budget pattern, public via the
    Google SRE workbook): per hour, the error rate (value > 450 standing
    in for failed requests) over the 1% budget gives the burn multiplier;
    burn > 2× pages. The observability readout the reference's ops team
    would bolt onto its ingest stream first.

    Scale shape: one map-side-combined groupBy(hour) — alerting math is a
    projection on the |hours| frame."""
    e = table(spark, sf_dir, "events")
    hourly = e.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count("*").alias("n"),
        F.sum((F.col("value") > 450).cast("int")).cast("long").alias("n_bad"),
    )
    rate = F.col("n_bad") * 1.0 / F.col("n")
    burn = rate / 0.01
    return hourly.select(
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "n",
        "n_bad",
        F.round(rate, 6).alias("error_rate"),
        F.round(burn, 4).alias("burn_rate"),
        (burn > 2.0).alias("page_alert"),
    )


@query(
    "agg_filter_clause",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n_all,
           COUNT(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT)
               AS urgent_cents,
           ROUND(AVG(o_totalprice) FILTER (WHERE o_orderkey % 2 = 0), 4)
               AS avg_even_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-standard FILTER clause on aggregates — several
    differently-conditioned aggregates in ONE pass over the data (the
    readable alternative to stacked CASE WHENs, and the pattern that
    keeps multi-metric rollups at one scan instead of N).

    Scale shape: one map-side-combined aggregation; every FILTER rides
    the same partials."""
    o = table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    return o.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_all"),
        F.count_if(F.col("o_totalprice") > 200000).alias("n_big"),
        F.sum(F.when(F.col("o_orderpriority") == "1-URGENT", cents))
        .cast("bigint")
        .alias("urgent_cents"),
        F.round(
            F.avg(F.when(F.col("o_orderkey") % 2 == 0, F.col("o_totalprice"))), 4
        ).alias("avg_even_price"),
    )


@query(
    "agg_ratio_ci_delta",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d,
               CAST(SUM((event_type = 'click')::INT) AS BIGINT) AS x,
               CAST(SUM((event_type = 'view')::INT) AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    m AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy,
               CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM daily
    )
    SELECT n,
           ROUND(sx * 1.0 / sy, 6) AS ratio,
           ROUND(SQRT(GREATEST(0.0,
                 (sxx * 1.0 / n - (sx * 1.0 / n) * (sx * 1.0 / n))
                 - 2.0 * (sx * 1.0 / sy)
                       * (sxy * 1.0 / n - (sx * 1.0 / n) * (sy * 1.0 / n))
                 + (sx * 1.0 / sy) * (sx * 1.0 / sy)
                       * (syy * 1.0 / n - (sy * 1.0 / n) * (sy * 1.0 / n))))
                 / ((sy * 1.0 / n) * SQRT(CAST(n AS DOUBLE))), 6) AS se_delta,
           ROUND(sx * 1.0 / sy - 1.96 * SQRT(GREATEST(0.0,
                 (sxx * 1.0 / n - (sx * 1.0 / n) * (sx * 1.0 / n))
                 - 2.0 * (sx * 1.0 / sy)
                       * (sxy * 1.0 / n - (sx * 1.0 / n) * (sy * 1.0 / n))
                 + (sx * 1.0 / sy) * (sx * 1.0 / sy)
                       * (syy * 1.0 / n - (sy * 1.0 / n) * (sy * 1.0 / n))))
                 / ((sy * 1.0 / n) * SQRT(CAST(n AS DOUBLE))), 6) AS ci_lo,
           ROUND(sx * 1.0 / sy + 1.96 * SQRT(GREATEST(0.0,
                 (sxx * 1.0 / n - (sx * 1.0 / n) * (sx * 1.0 / n))
                 - 2.0 * (sx * 1.0 / sy)
                       * (sxy * 1.0 / n - (sx * 1.0 / n) * (sy * 1.0 / n))
                 + (sx * 1.0 / sy) * (sx * 1.0 / sy)
                       * (syy * 1.0 / n - (sy * 1.0 / n) * (sy * 1.0 / n))))
                 / ((sy * 1.0 / n) * SQRT(CAST(n AS DOUBLE))), 6) AS ci_hi
    FROM m
    """,
)
def agg_ratio_ci_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method confidence interval for a RATIO metric (clicks/views
    — the CTR-style metric whose days are the i.i.d. units): variance of
    x̄/ȳ ≈ (σ²x − 2r·σxy + r²σ²y) / (n·ȳ²), 95% normal CI. The honest
    way to put error bars on ratio KPIs (naive per-event binomial CIs are
    wrong under day-level correlation).

    Determinism: daily x/y are exact integers; all five moments are exact
    BIGINTs; the CI is one fixed double formula on them.

    Scale shape: collapse to |days| rows, then one 6-scalar aggregate."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.sum((F.col("event_type") == "click").cast("int")).cast("long").alias("x"),
        F.sum((F.col("event_type") == "view").cast("int")).cast("long").alias("y"),
    )
    m = daily.agg(
        F.count("*").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    n = F.col("n")
    r = F.col("sx") * 1.0 / F.col("sy")
    vx = F.col("sxx") * 1.0 / n - (F.col("sx") * 1.0 / n) * (F.col("sx") * 1.0 / n)
    vy = F.col("syy") * 1.0 / n - (F.col("sy") * 1.0 / n) * (F.col("sy") * 1.0 / n)
    cxy = F.col("sxy") * 1.0 / n - (F.col("sx") * 1.0 / n) * (F.col("sy") * 1.0 / n)
    se = F.sqrt(F.greatest(F.lit(0.0), vx - 2.0 * r * cxy + r * r * vy)) / (
        (F.col("sy") * 1.0 / n) * F.sqrt(n.cast("double"))
    )
    return m.select(
        "n",
        F.round(r, 6).alias("ratio"),
        F.round(se, 6).alias("se_delta"),
        F.round(r - 1.96 * se, 6).alias("ci_lo"),
        F.round(r + 1.96 * se, 6).alias("ci_hi"),
    )
