"""Wave-210: Engle-Granger two-step cointegration test between the
daily count and spend series, and an anisotropy audit of the embedding
cloud.

Cointegration answers what correlation can't: two trending series can
correlate spuriously, but only a cointegrated pair has a stationary
long-run spread worth alerting on (the Granger-F and cross-correlation
queries assume this check). The anisotropy audit measures the known
embedding pathology — a dominant mean direction inflates every cosine —
via the mean resultant length and the exact average pairwise cosine
identity (||sum u||^2 - sum ||u||^2) / (n(n-1)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_DEC = "decimal(38,0)"


@query(
    "events_cointegration_eg",
    oracle="""
    WITH daily AS (
        SELECT CAST(DATEDIFF('day', DATE '2024-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS d,
               CAST(COUNT(*) AS BIGINT) AS x,
               CAST(SUM(CAST(FLOOR(value + 0.5) AS BIGINT)) AS BIGINT)
                   AS y
        FROM events GROUP BY 1
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
               CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
        FROM daily
    ),
    beta AS (
        SELECT n, sx, sy,
               CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                 / CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                   AS b
        FROM mom
    ),
    resid AS (
        -- nano-int residuals of the cointegrating regression
        SELECT d.d,
               CAST(FLOOR(1e6 * (d.y - (b.sy - b.b * b.sx) / b.n
                                 - b.b * d.x)) AS BIGINT) AS r
        FROM daily d, beta b
    ),
    df AS (
        -- Dickey-Fuller (no constant): delta r_t on r_{t-1}
        SELECT CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(CAST(p.r AS HUGEINT) * (c.r - p.r)) AS HUGEINT)
                   AS srd,
               CAST(SUM(CAST(p.r AS HUGEINT) * p.r) AS HUGEINT) AS srr,
               CAST(SUM(CAST(c.r - p.r AS HUGEINT) * (c.r - p.r))
                    AS HUGEINT) AS sdd
        FROM resid c JOIN resid p ON p.d = c.d - 1
    )
    SELECT b.n AS n_days, ROUND(b.b, 6) AS coint_beta,
           ROUND(CAST(df.srd AS DOUBLE) / CAST(df.srr AS DOUBLE), 6)
               AS phi,
           ROUND((CAST(df.srd AS DOUBLE) / CAST(df.srr AS DOUBLE))
                 / SQRT((CAST(df.sdd AS DOUBLE)
                         - CAST(df.srd AS DOUBLE) * df.srd / df.srr)
                        / ((df.m - 1) * CAST(df.srr AS DOUBLE))), 6)
               AS df_tstat,
           (CAST(df.srd AS DOUBLE) / CAST(df.srr AS DOUBLE))
               / SQRT((CAST(df.sdd AS DOUBLE)
                       - CAST(df.srd AS DOUBLE) * df.srd / df.srr)
                      / ((df.m - 1) * CAST(df.srr AS DOUBLE)))
               < -3.34 AS cointegrated_5pct
    FROM beta b, df
    """,
)
def events_cointegration_eg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engle-Granger two-step cointegration test: (1) OLS of daily spend
    on daily count gives the candidate long-run relation; (2) a
    Dickey-Fuller regression (delta r on lagged r, no constant) on the
    residual spread tests it for a unit root. t below the Engle-Granger
    5% critical value (-3.34 for two variables) means the spread is
    stationary — the pair co-moves and spread alerts are meaningful.

    Determinism: step-1 beta comes from exact integer moments; residuals
    floor to nano-ints, so the DF regression's moments are exact 128-bit
    integers with two double expressions at the end; the decision flag
    compares the identical double to a shared literal.

    Scale shape: per-day collapse, two moment passes, one lag equi-join
    on the bounded calendar frame — constant work after the scan."""
    events = table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("d")
    ).agg(
        F.count("*").cast("long").alias("x"),
        F.sum(F.floor(F.col("value") + 0.5).cast("long"))
        .cast("long")
        .alias("y"),
    )
    mom = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x").cast(_DEC) * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast(_DEC) * F.col("y")).alias("sxy"),
    )
    beta = mom.select(
        "n",
        "sx",
        "sy",
        (
            (F.col("n") * F.col("sxy") - F.col("sx").cast(_DEC) * F.col("sy")).cast(
                "double"
            )
            / (F.col("n") * F.col("sxx") - F.col("sx").cast(_DEC) * F.col("sx")).cast(
                "double"
            )
        ).alias("b"),
    )
    resid = daily.crossJoin(F.broadcast(beta)).select(
        "d",
        F.floor(
            F.lit(1e6)
            * (
                F.col("y")
                - (F.col("sy") - F.col("b") * F.col("sx")) / F.col("n")
                - F.col("b") * F.col("x")
            )
        )
        .cast("long")
        .alias("r"),
    )
    prev = resid.select((F.col("d") + 1).alias("d"), F.col("r").alias("rp"))
    df = (
        resid.join(prev, "d")
        .agg(
            F.count("*").cast("long").alias("m"),
            F.sum(F.col("rp").cast(_DEC) * (F.col("r") - F.col("rp"))).alias(
                "srd"
            ),
            F.sum(F.col("rp").cast(_DEC) * F.col("rp")).alias("srr"),
            F.sum(
                (F.col("r") - F.col("rp")).cast(_DEC)
                * (F.col("r") - F.col("rp"))
            ).alias("sdd"),
        )
    )
    phi = F.col("srd").cast("double") / F.col("srr").cast("double")
    se = F.sqrt(
        (
            F.col("sdd").cast("double")
            - F.col("srd").cast("double") * F.col("srd") / F.col("srr")
        )
        / ((F.col("m") - 1) * F.col("srr").cast("double"))
    )
    t = phi / se
    return beta.crossJoin(F.broadcast(df)).select(
        F.col("n").alias("n_days"),
        F.round("b", 6).alias("coint_beta"),
        F.round(phi, 6).alias("phi"),
        F.round(t, 6).alias("df_tstat"),
        (t < -3.34).alias("cointegrated_5pct"),
    )


@query(
    "sim_anisotropy_audit",
    oracle="""
    WITH qr AS (
        SELECT vec_id,
               LIST_TRANSFORM(embedding, x ->
                   CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))
                   AS qx
        FROM embeddings
    ),
    qrd AS (
        SELECT vec_id, i, qx[i] AS qv
        FROM qr, UNNEST(GENERATE_SERIES(1, LEN(qx))) AS t(i)
    ),
    nrm2 AS (
        -- exact integer squared norm: no unordered float SUM anywhere
        SELECT vec_id, CAST(SUM(qv * qv) AS BIGINT) AS n2
        FROM qrd GROUP BY vec_id
    ),
    qd AS (
        SELECT q.vec_id, q.i,
               CAST(FLOOR(q.qv * 1000000.0
                          / SQRT(CAST(n.n2 AS DOUBLE))) AS BIGINT) AS uv
        FROM qrd q JOIN nrm2 n ON n.vec_id = q.vec_id
    ),
    dims AS (
        SELECT i, CAST(SUM(uv) AS BIGINT) AS s FROM qd GROUP BY i
    ),
    uu AS (
        SELECT CAST(SUM(CAST(uv AS HUGEINT) * uv) AS HUGEINT) AS suu,
               CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n
        FROM qd
    ),
    ss AS (
        SELECT CAST(SUM(CAST(s AS HUGEINT) * s) AS HUGEINT) AS s2
        FROM dims
    )
    SELECT u.n AS n_vectors,
           ROUND(SQRT(CAST(ss.s2 AS DOUBLE)) / (1e6 * u.n), 6)
               AS mean_resultant_length,
           ROUND(CAST(ss.s2 - u.suu AS DOUBLE)
                 / (CAST(u.n AS DOUBLE) * (u.n - 1) * 1e12), 6)
               AS mean_pairwise_cosine,
           CAST(ss.s2 - u.suu AS DOUBLE)
               / (CAST(u.n AS DOUBLE) * (u.n - 1) * 1e12) > 0.5
               AS anisotropic
    FROM uu u, ss
    """,
)
def sim_anisotropy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anisotropy audit of the embedding cloud on the unit sphere: the
    mean resultant length R = ||sum u|| / n (1 = all vectors point one
    way, ~0 = isotropic) and the EXACT mean pairwise cosine via the
    identity sum_{i != j} <u_i, u_j> = ||sum u||^2 - sum ||u||^2. The
    known contextual-embedding pathology — average cosine far above 0 —
    silently inflates every cosine-similarity threshold in the sim_*
    family; this is the one-row check that the thresholds mean what
    they say.

    Determinism: unit components quantize to micro-ints after one
    correctly-rounded normalization, so both statistics reduce to exact
    128-bit integer sums with one double expression each.

    Scale shape: one linear pass for norms + one groupBy(dimension) —
    the identity avoids the n^2 pairwise sum entirely."""
    emb = table(spark, sf_dir, "embeddings")
    qr = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * F.lit(1e6)).cast("long"),
        ).alias("qx"),
    )
    # exact integer squared norm, then one correctly-rounded sqrt — no
    # unordered float SUM can perturb the unit quantization
    nrm2 = qr.select(
        "vec_id",
        F.aggregate(
            F.transform("qx", lambda v: v * v),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("n2"),
    )
    qd = (
        qr.select("vec_id", F.posexplode("qx").alias("i", "qv"))
        .join(nrm2, "vec_id")
        .select(
            "vec_id",
            "i",
            F.floor(
                F.col("qv") * F.lit(1e6) / F.sqrt(F.col("n2").cast("double"))
            )
            .cast("long")
            .alias("uv"),
        )
    )
    dims = qd.groupBy("i").agg(F.sum("uv").cast("long").alias("s"))
    uu = qd.agg(
        F.sum(F.col("uv").cast(_DEC) * F.col("uv")).alias("suu"),
        F.countDistinct("vec_id").cast("long").alias("n"),
    )
    ss = dims.agg(F.sum(F.col("s").cast(_DEC) * F.col("s")).alias("s2"))
    j = uu.crossJoin(F.broadcast(ss))
    mpc = (F.col("s2") - F.col("suu")).cast("double") / (
        F.col("n").cast("double") * (F.col("n") - 1) * F.lit(1e12)
    )
    return j.select(
        F.col("n").alias("n_vectors"),
        F.round(
            F.sqrt(F.col("s2").cast("double")) / (F.lit(1e6) * F.col("n")), 6
        ).alias("mean_resultant_length"),
        F.round(mpc, 6).alias("mean_pairwise_cosine"),
        (mpc > 0.5).alias("anisotropic"),
    )
