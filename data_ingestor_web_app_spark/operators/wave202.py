"""Wave-202: per-dimension embedding health statistics (the dead/dominant
dimension audit) and the WAPE / sMAPE / MASE forecast-evaluation suite
against a seasonal-naive baseline.

Dimension stats are the standard pre-flight check before
whitening/quantizing an embedding corpus: a dimension with ~zero
variance wastes PQ codebook bits, one with huge kurtosis breaks int8
scaling. All four moments come from exact integer power sums (1e5
quantization keeps the quartic sums inside 128 bits at sf0.1 x 100).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_DEC = "decimal(38,0)"
_OBS_END = 23  # forecast eval: predict days [7, 23) with lag-7 naive


@query(
    "sim_dimension_stats",
    oracle="""
    WITH qd AS (
        SELECT i,
               CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 100000.0)
                    AS BIGINT) AS q
        FROM embeddings,
             UNNEST(GENERATE_SERIES(1, LEN(embedding))) AS t(i)
    ),
    mom AS (
        SELECT i, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(q) AS BIGINT) AS s1,
               CAST(SUM(CAST(q AS HUGEINT) * q) AS HUGEINT) AS s2,
               CAST(SUM(CAST(q AS HUGEINT) * q * q) AS HUGEINT) AS s3,
               CAST(SUM(CAST(q AS HUGEINT) * q * q * q) AS HUGEINT)
                   AS s4,
               CAST(MIN(q) AS BIGINT) AS mn,
               CAST(MAX(q) AS BIGINT) AS mx
        FROM qd GROUP BY i
    ),
    cent AS (
        SELECT i, n, mn, mx, s1,
               n * s2 - CAST(s1 AS HUGEINT) * s1 AS m2,
               CAST(n AS HUGEINT) * n * s3
                 - 3 * CAST(n AS HUGEINT) * s2 * s1
                 + 2 * CAST(s1 AS HUGEINT) * s1 * s1 AS m3,
               CAST(n AS HUGEINT) * n * n * s4
                 - 4 * CAST(n AS HUGEINT) * n * s3 * s1
                 + 6 * CAST(n AS HUGEINT) * s2 * s1 * s1
                 - 3 * CAST(s1 AS HUGEINT) * s1 * s1 * s1 AS m4
        FROM mom
    )
    SELECT i - 1 AS dim,
           ROUND(s1 / (1e5 * n), 6) AS mean,
           ROUND(SQRT(CAST(m2 AS DOUBLE)) / (1e5 * n), 6) AS std,
           ROUND(CAST(m3 AS DOUBLE)
                 / (CAST(m2 AS DOUBLE) * SQRT(CAST(m2 AS DOUBLE))), 6)
               AS skewness,
           ROUND(CAST(m4 AS DOUBLE)
                 / (CAST(m2 AS DOUBLE) * CAST(m2 AS DOUBLE)) - 3, 6)
               AS kurtosis_excess,
           ROUND(mn / 1e5, 6) AS min_val,
           ROUND(mx / 1e5, 6) AS max_val
    FROM cent ORDER BY dim
    """,
)
def sim_dimension_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding health audit: mean, std, skewness g1,
    excess kurtosis g2, min, max for each of the 64 dimensions. The
    pre-flight report before whitening / int8 / PQ: near-zero-std
    dimensions waste codebook capacity, high-|skew| or high-kurtosis
    dimensions blow up symmetric-range quantizers (vq_int8_quantize).

    Determinism: all four moments come from exact integer power sums of
    1e5-quantized components; the central-moment identities (n*S2-S1^2,
    n^2*S3-3n*S2*S1+2S1^3, ...) stay in 128-bit integers, with three
    double expressions at the end. POW(x, 1.5) is exact-input-identical
    in both engines (single call on the same double).

    Scale shape: one explode + groupBy(dimension) — 64 groups, perfectly
    map-side combinable; output is dim-count rows regardless of corpus
    size."""
    emb = table(spark, sf_dir, "embeddings")
    qd = emb.select(
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.floor(x.cast("double") * F.lit(1e5)).cast(
                    "long"
                ),
            )
        ).alias("dim", "q")
    )
    mom = qd.groupBy("dim").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("q").cast("long").alias("s1"),
        F.sum(F.col("q").cast(_DEC) * F.col("q")).alias("s2"),
        F.sum(F.col("q").cast(_DEC) * F.col("q") * F.col("q")).alias("s3"),
        F.sum(
            F.col("q").cast(_DEC) * F.col("q") * F.col("q") * F.col("q")
        ).alias("s4"),
        F.min("q").cast("long").alias("mn"),
        F.max("q").cast("long").alias("mx"),
    )
    n, s1, s2, s3, s4 = (F.col(c) for c in ["n", "s1", "s2", "s3", "s4"])
    m2 = n * s2 - s1.cast(_DEC) * s1
    m3 = (
        n.cast(_DEC) * n * s3
        - 3 * n.cast(_DEC) * s2 * s1
        + 2 * s1.cast(_DEC) * s1 * s1
    )
    m4 = (
        n.cast(_DEC) * n * n * s4
        - 4 * n.cast(_DEC) * n * s3 * s1
        + 6 * n.cast(_DEC) * s2 * s1 * s1
        - 3 * s1.cast(_DEC) * s1 * s1 * s1
    )
    return (
        mom.select(
            "dim",
            F.round(s1 / (F.lit(1e5) * n), 6).alias("mean"),
            F.round(F.sqrt(m2.cast("double")) / (F.lit(1e5) * n), 6).alias(
                "std"
            ),
            F.round(
                m3.cast("double")
                / (m2.cast("double") * F.sqrt(m2.cast("double"))),
                6,
            ).alias("skewness"),
            F.round(
                m4.cast("double")
                / (m2.cast("double") * m2.cast("double"))
                - 3,
                6,
            ).alias("kurtosis_excess"),
            F.round(F.col("mn") / 1e5, 6).alias("min_val"),
            F.round(F.col("mx") / 1e5, 6).alias("max_val"),
        )
        .orderBy("dim")
    )


@query(
    "events_forecast_eval_suite",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(DATEDIFF('day', DATE '2024-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS d,
               CAST(SUM(CAST(FLOOR(value + 0.5) AS BIGINT)) AS BIGINT)
                   AS y
        FROM events GROUP BY 1
    ),
    ev AS (
        SELECT a.d, a.y, f.y AS yhat
        FROM daily a JOIN daily f ON f.d = a.d - 7
        WHERE a.d >= 7 AND a.d < {_OBS_END}
    ),
    naive AS (
        SELECT CAST(SUM(ABS(a.y - p.y)) AS BIGINT) AS sad1,
               CAST(COUNT(*) AS BIGINT) AS n1
        FROM daily a JOIN daily p ON p.d = a.d - 1
        WHERE a.d >= 7 AND a.d < {_OBS_END}
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(ABS(y - yhat)) AS BIGINT) AS sae,
               CAST(SUM(ABS(y)) AS BIGINT) AS say,
               CAST(SUM(CAST(FLOOR(2e9 * ABS(y - yhat)
                                   / (ABS(y) + ABS(yhat))) AS BIGINT))
                    AS BIGINT) AS smape_nano
        FROM ev
    )
    SELECT a.n AS n_days_eval,
           ROUND(CAST(a.sae AS DOUBLE) / a.say, 6) AS wape,
           ROUND(a.smape_nano / (1e9 * a.n), 6) AS smape,
           ROUND(CAST(a.sae AS DOUBLE) * nv.n1
                 / (CAST(a.n AS DOUBLE) * nv.sad1), 6) AS mase
    FROM agg a, naive nv
    """,
)
def events_forecast_eval_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-evaluation metric suite for the seasonal-naive (lag-7)
    forecast of daily spend over days [7, {_OBS_END}): WAPE
    (sum|err|/sum|y| — the aggregate-safe MAPE replacement), sMAPE
    (bounded symmetric percentage error), and MASE (MAE scaled by the
    in-window lag-1 naive MAE — Hyndman's scale-free standard; < 1 beats
    the random walk). The metric block every forecast_backtest needs to
    report.

    Determinism: daily totals are exact integer units; WAPE and MASE are
    single divisions of integer sums; each per-day sMAPE term floors to
    a nano-int before the mean.

    Scale shape: the fact table collapses to per-day rows first;
    forecast and naive baselines are day-index self-equi-joins on the
    bounded calendar frame."""
    events = table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("d")
    ).agg(
        F.sum(F.floor(F.col("value") + 0.5).cast("long"))
        .cast("long")
        .alias("y")
    )
    f7 = daily.select((F.col("d") + 7).alias("d"), F.col("y").alias("yhat"))
    ev = (
        daily.join(f7, "d")
        .where((F.col("d") >= 7) & (F.col("d") < _OBS_END))
    )
    f1 = daily.select((F.col("d") + 1).alias("d"), F.col("y").alias("yprev"))
    naive = (
        daily.join(f1, "d")
        .where((F.col("d") >= 7) & (F.col("d") < _OBS_END))
        .agg(
            F.sum(F.abs(F.col("y") - F.col("yprev")))
            .cast("long")
            .alias("sad1"),
            F.count("*").cast("long").alias("n1"),
        )
    )
    agg = ev.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.abs(F.col("y") - F.col("yhat"))).cast("long").alias("sae"),
        F.sum(F.abs(F.col("y"))).cast("long").alias("say"),
        F.sum(
            F.floor(
                F.lit(2e9)
                * F.abs(F.col("y") - F.col("yhat"))
                / (F.abs(F.col("y")) + F.abs(F.col("yhat")))
            ).cast("long")
        )
        .cast("long")
        .alias("smape_nano"),
    )
    return agg.crossJoin(F.broadcast(naive)).select(
        F.col("n").alias("n_days_eval"),
        F.round(F.col("sae").cast("double") / F.col("say"), 6).alias("wape"),
        F.round(F.col("smape_nano") / (F.lit(1e9) * F.col("n")), 6).alias(
            "smape"
        ),
        F.round(
            F.col("sae").cast("double")
            * F.col("n1")
            / (F.col("n").cast("double") * F.col("sad1")),
            6,
        ).alias("mase"),
    )
