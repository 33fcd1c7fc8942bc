"""Wave-211: TwoNN intrinsic-dimension estimator for the embedding
corpus (cell-local, exact-integer distances) and the Chow structural-
break F-test at a fixed breakpoint.

TwoNN (Facco et al. 2017) estimates the manifold dimension from nothing
but each point's two nearest-neighbor distances: mu_i = r2/r1 follows a
Pareto(d) law, so d_hat = n / sum(ln mu_i). If the 64-dim embeddings
live on a ~10-dim manifold, PQ/IVF budgets should target THAT number —
the capacity knob sim_dimension_stats (per-axis) cannot see. Chow is
the hypothesis-test twin of model_segmented_regression: given a KNOWN
candidate break day, is fitting two lines actually better than one?
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_DEC = "decimal(38,0)"
_BP = 15  # Chow: known candidate break day (left = d < 15)


@query(
    "sim_twonn_intrinsic_dim",
    oracle="""
    WITH q AS (
        SELECT vec_id, label,
               LIST_TRANSFORM(embedding, x ->
                   CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))
                   AS qx
        FROM embeddings
    ),
    qd AS (
        SELECT vec_id, label, i, qx[i] AS qv
        FROM q, UNNEST(GENERATE_SERIES(1, LEN(qx))) AS t(i)
    ),
    pairs AS (
        SELECT a.vec_id AS p, b.vec_id AS o,
               CAST(SUM((a.qv - b.qv) * (a.qv - b.qv)) AS BIGINT) AS d2
        FROM qd a JOIN qd b
          ON a.label = b.label AND a.i = b.i AND a.vec_id <> b.vec_id
        GROUP BY a.vec_id, b.vec_id
    ),
    nn AS (
        SELECT p,
               MAX(CASE WHEN rn = 1 THEN d2 END) AS d2_1,
               MAX(CASE WHEN rn = 2 THEN d2 END) AS d2_2
        FROM (SELECT p, d2,
                     ROW_NUMBER() OVER (PARTITION BY p ORDER BY d2, o)
                         AS rn
              FROM pairs)
        WHERE rn <= 2 GROUP BY p
    ),
    mu AS (
        -- ln(mu) = ln(r2/r1) = 0.5 * ln(d2_2 / d2_1), nano-floored
        SELECT p,
               CAST(FLOOR(0.5e0 * LN(CAST(d2_2 AS DOUBLE) / d2_1) * 1e9)
                    AS BIGINT) AS lnmu_nano
        FROM nn WHERE d2_1 > 0
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(lnmu_nano) AS BIGINT) AS sln
        FROM mu
    )
    SELECT n AS n_points,
           ROUND(sln / (1e9 * n), 6) AS mean_ln_mu,
           ROUND(CAST(n AS DOUBLE) * 1e9 / sln, 6) AS intrinsic_dim
    FROM agg
    """,
)
def sim_twonn_intrinsic_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TwoNN intrinsic-dimension estimate of the embedding manifold
    (Facco et al. 2017): with r1, r2 each point's two nearest-neighbor
    distances (computed cell-locally per label, the same bucketing as
    sim_lof_bucketed), mu = r2/r1 is Pareto with shape d, giving the
    MLE d_hat = n / sum(ln mu). An ambient 64-dim corpus whose d_hat is
    ~8 wastes PQ codebook bits and ANN probes on empty directions — this
    is the one-number check before budgeting either.

    Determinism: squared NN distances are exact quantized integers with
    (d2, id)-ordered selection; ln(mu) = 0.5*ln(d2_2/d2_1) floors to a
    nano-int before the sum, so the estimator is a ratio of exact
    integers.

    Scale shape: identical to LOF — label-bucketed pair join (sum of
    cell^2, never corpus^2), per-point 2-row windows."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        "label",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * F.lit(1e6)).cast("long"),
        ).alias("qx"),
    )
    a = q.select(F.col("vec_id").alias("p"), "label", F.col("qx").alias("ax"))
    b = q.select(F.col("vec_id").alias("o"), "label", F.col("qx").alias("bx"))
    d2 = F.aggregate(
        F.zip_with("ax", "bx", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    pairs = (
        a.join(b, "label")
        .where(F.col("p") != F.col("o"))
        .select("p", "o", d2.alias("d2"))
    )
    ranked = pairs.withColumn(
        "rn", F.row_number().over(Window.partitionBy("p").orderBy("d2", "o"))
    ).where(F.col("rn") <= 2)
    nn = ranked.groupBy("p").agg(
        F.max(F.when(F.col("rn") == 1, F.col("d2"))).alias("d2_1"),
        F.max(F.when(F.col("rn") == 2, F.col("d2"))).alias("d2_2"),
    )
    mu = nn.where(F.col("d2_1") > 0).select(
        F.floor(
            F.lit(0.5)
            * F.log(F.col("d2_2").cast("double") / F.col("d2_1"))
            * F.lit(1e9)
        )
        .cast("long")
        .alias("lnmu_nano")
    )
    agg = mu.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("lnmu_nano").cast("long").alias("sln"),
    )
    return agg.select(
        F.col("n").alias("n_points"),
        F.round(F.col("sln") / (F.lit(1e9) * F.col("n")), 6).alias(
            "mean_ln_mu"
        ),
        F.round(
            F.col("n").cast("double") * F.lit(1e9) / F.col("sln"), 6
        ).alias("intrinsic_dim"),
    )


_SEG_SQL = f"""daily AS (
        SELECT CAST(DATEDIFF('day', DATE '2024-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS d,
               CAST(SUM(CAST(FLOOR(value + 0.5) AS BIGINT)) AS BIGINT)
                   AS y
        FROM events GROUP BY 1
    ),
    seg AS (
        SELECT CASE WHEN d < {_BP} THEN 1 ELSE 2 END AS grp, d, y
        FROM daily
    ),
    moms AS (
        SELECT grp,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(d) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(CAST(d AS HUGEINT) * d) AS HUGEINT) AS sxx,
               CAST(SUM(CAST(d AS HUGEINT) * y) AS HUGEINT) AS sxy,
               CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
        FROM seg GROUP BY grp
        UNION ALL
        SELECT 0 AS grp,
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(d) AS BIGINT),
               CAST(SUM(y) AS BIGINT),
               CAST(SUM(CAST(d AS HUGEINT) * d) AS HUGEINT),
               CAST(SUM(CAST(d AS HUGEINT) * y) AS HUGEINT),
               CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT)
        FROM daily
    ),
    sses AS (
        SELECT grp, n,
               (CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE)
                - CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                  * CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                  / CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE))
               / n AS sse
        FROM moms
    )"""


@query(
    "model_chow_test",
    oracle=f"""
    WITH {_SEG_SQL}
    SELECT MAX(CASE WHEN grp = 0 THEN n END) AS n_days,
           {_BP} AS breakpoint,
           ROUND(MAX(CASE WHEN grp = 0 THEN sse END), 4) AS sse_pooled,
           ROUND(MAX(CASE WHEN grp = 1 THEN sse END)
                 + MAX(CASE WHEN grp = 2 THEN sse END), 4) AS sse_split,
           ROUND(((MAX(CASE WHEN grp = 0 THEN sse END)
                   - MAX(CASE WHEN grp = 1 THEN sse END)
                   - MAX(CASE WHEN grp = 2 THEN sse END)) / 2)
                 / ((MAX(CASE WHEN grp = 1 THEN sse END)
                     + MAX(CASE WHEN grp = 2 THEN sse END))
                    / (MAX(CASE WHEN grp = 0 THEN n END) - 4)), 6)
               AS chow_f
    FROM sses
    """,
)
def model_chow_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow structural-break test at the fixed candidate day {_BP}:
    F = [(SSE_pooled - SSE_1 - SSE_2)/k] / [(SSE_1 + SSE_2)/(n - 2k)]
    with k = 2 (slope + intercept). model_segmented_regression SEARCHES
    for the kink; Chow answers whether a kink hypothesized in advance
    (a deploy date, a pricing change) is statistically real — the
    correct tool when the break date is known, where the search's
    post-hoc SSE gain is biased.

    Determinism: all three SSEs come from exact integer moments via the
    same n-scaled centered identity as the segmented fit; the F ratio is
    one double expression.

    Scale shape: one per-day collapse and one grouped moment pass
    (pooled + both segments in a single shuffle); constant-size after."""
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
    seg = daily.withColumn(
        "grp", F.when(F.col("d") < _BP, 1).otherwise(2)
    )
    pooled = daily.withColumn("grp", F.lit(0))
    both = seg.unionByName(pooled)
    moms = both.groupBy("grp").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("d").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("d").cast(_DEC) * F.col("d")).alias("sxx"),
        F.sum(F.col("d").cast(_DEC) * F.col("y")).alias("sxy"),
        F.sum(F.col("y").cast(_DEC) * F.col("y")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx_c = (n * F.col("sxx") - sx.cast(_DEC) * sx).cast("double")
    sxy_c = (n * F.col("sxy") - sx.cast(_DEC) * sy).cast("double")
    syy_c = (n * F.col("syy") - sy.cast(_DEC) * sy).cast("double")
    sses = moms.select(
        "grp", "n", ((syy_c - sxy_c * sxy_c / sxx_c) / n).alias("sse")
    )
    agg = sses.agg(
        F.max(F.when(F.col("grp") == 0, F.col("n"))).alias("n_days"),
        F.max(F.when(F.col("grp") == 0, F.col("sse"))).alias("sse0"),
        F.max(F.when(F.col("grp") == 1, F.col("sse"))).alias("sse1"),
        F.max(F.when(F.col("grp") == 2, F.col("sse"))).alias("sse2"),
    )
    split = F.col("sse1") + F.col("sse2")
    return agg.select(
        F.col("n_days"),
        F.lit(_BP).cast("int").alias("breakpoint"),
        F.round("sse0", 4).alias("sse_pooled"),
        F.round(split, 4).alias("sse_split"),
        F.round(
            ((F.col("sse0") - F.col("sse1") - F.col("sse2")) / 2)
            / (split / (F.col("n_days") - 4)),
            6,
        ).alias("chow_f"),
    )
