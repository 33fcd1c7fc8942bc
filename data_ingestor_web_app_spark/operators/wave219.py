"""Wave-219: Hu moment invariants over the real PNG decode path, and
IPS / SNIPS off-policy evaluation of a counterfactual action policy.

Hu's invariants (1962) are the classic translation-invariant shape
signature — the multimodal family has histograms/SSIM/pHash/GLCM but no
moment-based descriptor; here the first three invariants come from raw
moments accumulated as exact int64 inside the Arrow decode batch, with
the normalization's fractional powers rewritten as integer powers times
one correctly-rounded sqrt. IPS/SNIPS is the standard counterfactual
"what would the uniform policy have earned" estimator over logged
bandit-style feedback (Horvitz-Thompson with a self-normalized twin).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_DEC = "decimal(38,0)"


@query(
    "mm_image_hu_moments",
    oracle="""
    WITH docs AS (
        SELECT doc_id, 16 + doc_id % 16 AS w, 16 + (doc_id * 3) % 16 AS h
        FROM documents WHERE doc_id < 200
    ),
    ys AS (SELECT doc_id, w, h, UNNEST(RANGE(h)) AS y FROM docs),
    px AS (SELECT doc_id, w, h, y, UNNEST(RANGE(w)) AS x FROM ys),
    vals AS (
        SELECT doc_id, x, y, (x * 7 + y * 13 + doc_id) % 256 AS v
        FROM px
    ),
    raw AS (
        SELECT doc_id,
               CAST(SUM(v) AS HUGEINT) AS m00,
               CAST(SUM(v * x) AS HUGEINT) AS m10,
               CAST(SUM(v * y) AS HUGEINT) AS m01,
               CAST(SUM(CAST(v AS HUGEINT) * x * x) AS HUGEINT) AS m20,
               CAST(SUM(CAST(v AS HUGEINT) * x * y) AS HUGEINT) AS m11,
               CAST(SUM(CAST(v AS HUGEINT) * y * y) AS HUGEINT) AS m02,
               CAST(SUM(CAST(v AS HUGEINT) * x * x * x) AS HUGEINT)
                   AS m30,
               CAST(SUM(CAST(v AS HUGEINT) * x * x * y) AS HUGEINT)
                   AS m21,
               CAST(SUM(CAST(v AS HUGEINT) * x * y * y) AS HUGEINT)
                   AS m12,
               CAST(SUM(CAST(v AS HUGEINT) * y * y * y) AS HUGEINT)
                   AS m03
        FROM vals GROUP BY doc_id
    ),
    cen AS (
        -- n-scaled central moments: MU_pq(order2) x m00, order3 x m00^2
        SELECT doc_id, m00,
               m00 * m20 - m10 * m10 AS u20,
               m00 * m11 - m10 * m01 AS u11,
               m00 * m02 - m01 * m01 AS u02,
               m00 * m00 * m30 - 3 * m00 * m20 * m10
                 + 2 * m10 * m10 * m10 AS u30,
               m00 * m00 * m21 - m00 * m20 * m01
                 - 2 * m00 * m11 * m10 + 2 * m10 * m10 * m01 AS u21,
               m00 * m00 * m12 - m00 * m02 * m10
                 - 2 * m00 * m11 * m01 + 2 * m01 * m01 * m10 AS u12,
               m00 * m00 * m03 - 3 * m00 * m02 * m01
                 + 2 * m01 * m01 * m01 AS u03
        FROM raw
    ),
    eta AS (
        -- eta_pq = mu_pq / m00^(1+(p+q)/2); with the scalings above:
        -- order 2: u / m00^3 ; order 3: u / (m00^4 * sqrt(m00))
        SELECT doc_id, CAST(m00 AS BIGINT) AS mass,
               CAST(u20 AS DOUBLE) / (CAST(m00 AS DOUBLE) * m00 * m00)
                   AS n20,
               CAST(u11 AS DOUBLE) / (CAST(m00 AS DOUBLE) * m00 * m00)
                   AS n11,
               CAST(u02 AS DOUBLE) / (CAST(m00 AS DOUBLE) * m00 * m00)
                   AS n02,
               CAST(u30 AS DOUBLE) / (CAST(m00 AS DOUBLE) * m00 * m00
                   * m00 * SQRT(CAST(m00 AS DOUBLE))) AS n30,
               CAST(u21 AS DOUBLE) / (CAST(m00 AS DOUBLE) * m00 * m00
                   * m00 * SQRT(CAST(m00 AS DOUBLE))) AS n21,
               CAST(u12 AS DOUBLE) / (CAST(m00 AS DOUBLE) * m00 * m00
                   * m00 * SQRT(CAST(m00 AS DOUBLE))) AS n12,
               CAST(u03 AS DOUBLE) / (CAST(m00 AS DOUBLE) * m00 * m00
                   * m00 * SQRT(CAST(m00 AS DOUBLE))) AS n03
        FROM cen
    )
    SELECT doc_id, mass,
           ROUND(1e3 * (n20 + n02), 6) AS hu1_milli,
           ROUND(1e6 * ((n20 - n02) * (n20 - n02) + 4 * n11 * n11), 6)
               AS hu2_micro,
           ROUND(1e9 * ((n30 - 3 * n12) * (n30 - 3 * n12)
                        + (3 * n21 - n03) * (3 * n21 - n03)), 6)
               AS hu3_nano
    FROM eta ORDER BY doc_id
    """,
)
def mm_image_hu_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hu moment invariants I1-I3 per REAL decoded PNG: raw moments
    m_pq = sum v*x^p*y^q accumulate as exact int64 inside the Arrow
    decode batch; central moments use the n-scaled integer identities
    (m00*m20 - m10^2, ...); normalization's fractional powers become
    integer powers times ONE sqrt. Hu invariants are the classic
    translation/scale-invariant shape signature — the moment-based
    descriptor the multimodal family (histogram, SSIM, pHash, GLCM)
    still lacked, and the oracle re-derives every pixel analytically so
    the hash covers PNG decode AND all ten moment sums.

    Determinism: all moment arithmetic is exact 128-bit integers; each
    eta is one double division (sqrt correctly rounded); invariants are
    reported in milli/micro/nano scales to keep 6-decimal rounding
    meaningful at their natural magnitudes.

    Scale shape: mapInPandas decode (the vectorized Python boundary is
    the point), one output row per image, zero shuffle."""
    import numpy as np

    from data_ingestor_web_app_spark.llm.codecs import png_decode_gray
    from data_ingestor_web_app_spark.llm.multimodal import _image_payloads

    payloads = _image_payloads(spark, sf_dir)

    def moment_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, pix = png_decode_gray(bytes(payload))
                img = (
                    np.frombuffer(pix, dtype=np.uint8)
                    .reshape(h, w)
                    .astype(np.int64)
                )
                xs = np.arange(w, dtype=np.int64)
                ys = np.arange(h, dtype=np.int64)
                colsum = img.sum(axis=0)  # over y, per x
                rowsum = img.sum(axis=1)  # over x, per y
                m = {
                    "m00": int(img.sum()),
                    "m10": int((colsum * xs).sum()),
                    "m01": int((rowsum * ys).sum()),
                    "m20": int((colsum * xs * xs).sum()),
                    "m02": int((rowsum * ys * ys).sum()),
                    "m30": int((colsum * xs * xs * xs).sum()),
                    "m03": int((rowsum * ys * ys * ys).sum()),
                    "m11": int((img * np.outer(ys, xs)).sum()),
                    "m21": int((img * np.outer(ys, xs * xs)).sum()),
                    "m12": int((img * np.outer(ys * ys, xs)).sum()),
                }
                rows.append({"doc_id": int(doc_id), **m})
            yield pd.DataFrame(rows)

    schema = (
        "doc_id long, m00 long, m10 long, m01 long, m20 long, m02 long,"
        " m30 long, m03 long, m11 long, m21 long, m12 long"
    )
    raw = payloads.mapInPandas(moment_batches, schema=schema)
    c = lambda name: F.col(name).cast(_DEC)  # noqa: E731
    u20 = c("m00") * c("m20") - c("m10") * c("m10")
    u11 = c("m00") * c("m11") - c("m10") * c("m01")
    u02 = c("m00") * c("m02") - c("m01") * c("m01")
    u30 = (
        c("m00") * c("m00") * c("m30")
        - 3 * c("m00") * c("m20") * c("m10")
        + 2 * c("m10") * c("m10") * c("m10")
    )
    u21 = (
        c("m00") * c("m00") * c("m21")
        - c("m00") * c("m20") * c("m01")
        - 2 * c("m00") * c("m11") * c("m10")
        + 2 * c("m10") * c("m10") * c("m01")
    )
    u12 = (
        c("m00") * c("m00") * c("m12")
        - c("m00") * c("m02") * c("m10")
        - 2 * c("m00") * c("m11") * c("m01")
        + 2 * c("m01") * c("m01") * c("m10")
    )
    u03 = (
        c("m00") * c("m00") * c("m03")
        - 3 * c("m00") * c("m02") * c("m01")
        + 2 * c("m01") * c("m01") * c("m01")
    )
    m00d = F.col("m00").cast("double")
    den2 = m00d * F.col("m00") * F.col("m00")
    den3 = (
        m00d * F.col("m00") * F.col("m00") * F.col("m00") * F.sqrt(m00d)
    )
    n20, n11, n02 = (u20.cast("double") / den2), (
        u11.cast("double") / den2
    ), (u02.cast("double") / den2)
    n30, n21, n12, n03 = (
        u30.cast("double") / den3,
        u21.cast("double") / den3,
        u12.cast("double") / den3,
        u03.cast("double") / den3,
    )
    return raw.select(
        "doc_id",
        F.col("m00").alias("mass"),
        F.round(F.lit(1e3) * (n20 + n02), 6).alias("hu1_milli"),
        F.round(
            F.lit(1e6) * ((n20 - n02) * (n20 - n02) + 4 * n11 * n11), 6
        ).alias("hu2_micro"),
        F.round(
            F.lit(1e9)
            * (
                (n30 - 3 * n12) * (n30 - 3 * n12)
                + (3 * n21 - n03) * (3 * n21 - n03)
            ),
            6,
        ).alias("hu3_nano"),
    ).orderBy("doc_id")


@query(
    "events_offpolicy_ips",
    oracle="""
    WITH logged AS (
        SELECT CAST(DAYOFWEEK(CAST(ts AS DATE)) + 1 AS BIGINT) AS dow,
               event_type AS action,
               CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS r
        FROM events
    ),
    prop AS (
        SELECT dow, action, CAST(COUNT(*) AS BIGINT) AS na
        FROM logged GROUP BY dow, action
    ),
    ctx AS (SELECT dow, CAST(SUM(na) AS BIGINT) AS n FROM prop
            GROUP BY dow),
    best AS (
        -- target policy: per context, play the action with the highest
        -- logged MEAN reward (deterministic argmax, name tie-break)
        SELECT dow, action AS pi FROM (
            SELECT l.dow, l.action,
                   ROW_NUMBER() OVER (PARTITION BY l.dow
                       ORDER BY SUM(l.r) / CAST(COUNT(*) AS DOUBLE) DESC,
                                l.action) AS rn
            FROM logged l GROUP BY l.dow, l.action)
        WHERE rn = 1
    ),
    terms AS (
        SELECT l.dow, l.r,
               CASE WHEN l.action = b.pi THEN 1 ELSE 0 END AS hit,
               CAST(c.n AS DOUBLE) / p.na AS w
        FROM logged l
        JOIN prop p ON p.dow = l.dow AND p.action = l.action
        JOIN ctx c ON c.dow = l.dow
        JOIN best b ON b.dow = l.dow
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(FLOOR(hit * w * r * 1e3) AS BIGINT))
                    AS BIGINT) AS s_ips,
               CAST(SUM(CAST(FLOOR(hit * w * 1e6) AS BIGINT)) AS BIGINT)
                   AS s_w,
               CAST(SUM(r) AS BIGINT) AS s_r
        FROM terms
    )
    SELECT n AS n_logged,
           ROUND(s_r / (100.0e0 * n), 6) AS logged_value,
           ROUND(s_ips / (1e3 * n * 100), 6) AS ips_value,
           ROUND((s_ips / 1e3) / (s_w / 1e6) / 100, 6) AS snips_value
    FROM agg
    """,
)
def events_offpolicy_ips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Off-policy evaluation of a counterfactual policy from logged
    feedback: contexts = day-of-week, logged propensities = empirical
    action shares, target policy = play each context's highest-mean-
    reward action. IPS (inverse-propensity / Horvitz-Thompson) value =
    mean[1{a = pi(x)} * r / p(a|x)]; SNIPS divides by the summed weights
    instead of n, trading a little bias for much lower variance. The
    pair is the standard way to forecast a new policy's reward WITHOUT
    deploying it — and the gap between ips and snips exposes propensity
    skew.

    Determinism: propensities are exact count ratios; each per-row term
    floors to milli/micro scale before the global sums; the target
    policy argmax tie-breaks on action name.

    Scale shape: two groupBys over (context, action) broadcast back
    onto one linear scan — no pairwise stage."""
    events = table(spark, sf_dir, "events")
    logged = events.select(
        F.dayofweek(F.to_date("ts")).cast("long").alias("dow"),
        F.col("event_type").alias("action"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("r"),
    )
    prop = logged.groupBy("dow", "action").agg(
        F.count("*").cast("long").alias("na"),
        F.sum("r").cast("long").alias("sr"),
    )
    ctx = prop.groupBy("dow").agg(F.sum("na").cast("long").alias("n"))
    from pyspark.sql import Window

    best = (
        prop.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("dow").orderBy(
                    (F.col("sr") / F.col("na").cast("double")).desc(),
                    "action",
                )
            ),
        )
        .where("rn = 1")
        .select("dow", F.col("action").alias("pi"))
    )
    terms = (
        logged.join(F.broadcast(prop.select("dow", "action", "na")), ["dow", "action"])
        .join(F.broadcast(ctx), "dow")
        .join(F.broadcast(best), "dow")
        .select(
            F.when(F.col("action") == F.col("pi"), 1).otherwise(0).alias(
                "hit"
            ),
            (F.col("n").cast("double") / F.col("na")).alias("w"),
            "r",
        )
    )
    agg = terms.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(
            F.floor(F.col("hit") * F.col("w") * F.col("r") * F.lit(1e3)).cast(
                "long"
            )
        )
        .cast("long")
        .alias("s_ips"),
        F.sum(F.floor(F.col("hit") * F.col("w") * F.lit(1e6)).cast("long"))
        .cast("long")
        .alias("s_w"),
        F.sum("r").cast("long").alias("s_r"),
    )
    return agg.select(
        F.col("n").alias("n_logged"),
        F.round(F.col("s_r") / (F.lit(100.0) * F.col("n")), 6).alias(
            "logged_value"
        ),
        F.round(
            F.col("s_ips") / (F.lit(1e3) * F.col("n") * 100), 6
        ).alias("ips_value"),
        F.round(
            (F.col("s_ips") / F.lit(1e3))
            / (F.col("s_w") / F.lit(1e6))
            / 100,
            6,
        ).alias("snips_value"),
    )
