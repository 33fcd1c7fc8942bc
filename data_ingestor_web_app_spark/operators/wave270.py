"""Wave-270: diversity and guessability — the Hill-numbers diversity
profile (effective numbers at q = 0, 1, 2, inf) of the user-activity
distribution, and the Massey guesswork / min-entropy audit of a
quasi-identifier fingerprint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "agg_hill_numbers",
    oracle="""
    WITH act AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY user_id
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM act),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS s,
               ANY_VALUE(t.t) AS t,
               SUM((c / CAST(t.t AS DOUBLE))
                   * LN(c / CAST(t.t AS DOUBLE))) AS plogp,
               SUM((c / CAST(t.t AS DOUBLE))
                   * (c / CAST(t.t AS DOUBLE))) AS p2,
               MAX(c / CAST(t.t AS DOUBLE)) AS pmax
        FROM act CROSS JOIN tot t
    )
    SELECT s AS richness_q0,
           ROUND(EXP(-plogp), 6) AS shannon_q1,
           ROUND(1.0 / p2, 6) AS simpson_q2,
           ROUND(1.0 / pmax, 6) AS berger_parker_qinf,
           ROUND((1.0 / p2) / s, 6) AS evenness_q2
    FROM mom
    """,
)
def agg_hill_numbers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Hill-numbers diversity profile (Hill, Ecology 1973; Jost,
    Oikos 2006, public) of user activity shares: the EFFECTIVE number
    of equally-active users at orders q = 0 (richness), q = 1
    (exp(Shannon)), q = 2 (inverse Simpson), q = inf (inverse
    Berger-Parker dominance). The profile's decay from q0 to qinf IS
    the concentration story — a platform where q2/q0 (the emitted
    evenness) is 0.1 has a tenth of its nominal audience doing the
    work, the diversity-theoretic complement of agg_hhi_index and
    events_top1pct_share, in units (users) a PM can read.

    Exactness device: shares are exact ratios of BIGINTs; each Hill
    number is one exp/ln or reciprocal chain, rounded once.

    Scale shape: one user rollup + one 1-row moment aggregate."""
    act = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").cast("long").alias("c"))
    )
    tot = act.agg(F.sum("c").cast("long").alias("t"))
    p = F.col("c") / F.col("t").cast("double")
    mom = act.crossJoin(F.broadcast(tot)).agg(
        F.count("*").cast("long").alias("s"),
        F.sum(p * F.log(p)).alias("plogp"),
        F.sum(p * p).alias("p2"),
        F.max(p).alias("pmax"),
    )
    return mom.select(
        F.col("s").alias("richness_q0"),
        F.round(F.exp(-F.col("plogp")), 6).alias("shannon_q1"),
        F.round(1.0 / F.col("p2"), 6).alias("simpson_q2"),
        F.round(1.0 / F.col("pmax"), 6).alias("berger_parker_qinf"),
        F.round((1.0 / F.col("p2")) / F.col("s"), 6).alias("evenness_q2"),
    )


@query(
    "privacy_guesswork",
    oracle="""
    WITH per_type AS (
        SELECT user_id, event_type, COUNT(*) AS cnt
        FROM events GROUP BY user_id, event_type
    ),
    dom AS (
        SELECT user_id, event_type AS dom FROM (
            SELECT user_id, event_type,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY cnt DESC, event_type) AS rk
            FROM per_type
        ) WHERE rk = 1
    ),
    first_h AS (
        SELECT user_id, hb FROM (
            SELECT user_id,
                   EXTRACT(hour FROM ts) // 6 AS hb,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rk
            FROM events
        ) WHERE rk = 1
    ),
    fp AS (
        SELECT f.user_id, f.hb, d.dom
        FROM first_h f JOIN dom d ON d.user_id = f.user_id
    ),
    cls AS (
        SELECT hb, dom, CAST(COUNT(*) AS BIGINT) AS c
        FROM fp GROUP BY hb, dom
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t,
                   CAST(COUNT(*) AS BIGINT) AS k FROM cls),
    ranked AS (
        SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, hb, dom) AS rk
        FROM cls
    ),
    gw AS (
        SELECT SUM(rk * (c / CAST(t.t AS DOUBLE))) AS guesswork,
               MAX(c / CAST(t.t AS DOUBLE)) AS pmax,
               CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_unique,
               ANY_VALUE(t.t) AS t, ANY_VALUE(t.k) AS k
        FROM ranked CROSS JOIN tot t
    )
    SELECT t AS n_users, k AS n_classes,
           ROUND(guesswork, 6) AS expected_guesses,
           ROUND(-LN(pmax) / 0.6931471805599453, 6) AS min_entropy_bits,
           n_unique AS n_singleton_classes,
           ROUND(n_unique / CAST(t AS DOUBLE), 6) AS unicity
    FROM gw
    """,
)
def privacy_guesswork(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Guesswork / min-entropy audit (Massey, ISIT 1994; min-entropy per
    NIST SP 800-90 usage, public) of the quasi-identifier fingerprint
    (first-activity 6-hour band, dominant event type): an adversary
    guessing a user's equivalence class best-first needs E[G] = sum
    i * p_(i) guesses (classes sorted by probability), the single-guess
    success chance is p_max (min-entropy -log2 p_max bits), and the
    singleton-class fraction is unicity — the three numbers that say
    how identifying this innocuous-looking pair of attributes already
    is. Complements privacy_k_anonymity (worst-class view) with the
    adversary's-expected-effort view.

    Exactness device: class counts are integers; guesswork uses a
    totally ordered rank (count desc, class key); three rounded chains.

    Scale shape: per-user fingerprint via user-keyed windows, one class
    rollup, one bounded ranked aggregate."""
    e = table(spark, sf_dir, "events")
    per_type = e.groupBy("user_id", "event_type").agg(
        F.count("*").alias("cnt")
    )
    dom = (
        per_type.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(
                    F.col("cnt").desc(), "event_type"
                )
            ),
        )
        .where(F.col("rk") == 1)
        .select("user_id", F.col("event_type").alias("dom"))
    )
    first_h = (
        e.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy("ts", "event_id")
            ),
        )
        .where(F.col("rk") == 1)
        .select(
            "user_id",
            F.floor(F.hour("ts") / 6).cast("long").alias("hb"),
        )
    )
    fp = first_h.join(dom, "user_id")
    cls = fp.groupBy("hb", "dom").agg(F.count("*").cast("long").alias("c"))
    tot = cls.agg(
        F.sum("c").cast("long").alias("t"),
        F.count("*").cast("long").alias("k"),
    )
    ranked = cls.withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.col("c").desc(), "hb", "dom")
        ),
    )
    gw = ranked.crossJoin(F.broadcast(tot)).agg(
        F.sum(F.col("rk") * (F.col("c") / F.col("t").cast("double"))).alias(
            "guesswork"
        ),
        F.max(F.col("c") / F.col("t").cast("double")).alias("pmax"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_unique"),
        F.first("t").alias("t"),
        F.first("k").alias("k"),
    )
    return gw.select(
        F.col("t").alias("n_users"),
        F.col("k").alias("n_classes"),
        F.round("guesswork", 6).alias("expected_guesses"),
        F.round(-F.log("pmax") / 0.6931471805599453, 6).alias(
            "min_entropy_bits"
        ),
        F.col("n_unique").alias("n_singleton_classes"),
        F.round(F.col("n_unique") / F.col("t").cast("double"), 6).alias(
            "unicity"
        ),
    )
