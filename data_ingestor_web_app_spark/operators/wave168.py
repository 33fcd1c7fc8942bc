"""Wave-168: gaps-and-islands activity runs, Nelson-Aalen cumulative
hazard, and deterministic stratified k-fold assignment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "events_gaps_islands",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    tagged AS (
        SELECT user_id, d,
               d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
                        AS INTEGER) AS grp
        FROM days
    ),
    islands AS (
        SELECT user_id, grp,
               CAST(COUNT(*) AS BIGINT) AS len,
               MIN(d) AS island_start
        FROM tagged GROUP BY user_id, grp
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(MAX(len) AS BIGINT) AS longest_streak,
           CAST(SUM(len) AS BIGINT) AS active_days,
           CAST(MIN(island_start) AS VARCHAR) AS first_island_start
    FROM islands GROUP BY user_id
    """,
)
def events_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands (the classic SQL idiom, public folklore): per
    user, consecutive-active-day runs found by the date-minus-row_number
    trick — days in one unbroken run share the constant (d − rank), so
    one groupBy materializes every island with zero self-joins. Output:
    islands per user, longest streak, total active days, first island
    start — the engagement-streak summary gamification and churn models
    feed on (sibling of the event-level `streaks` family, which works on
    event sequences rather than calendar days).

    Determinism: pure date/integer arithmetic; the date-as-string cast on
    the readout follows the registry's date parity rule.

    Scale shape: one distinct, one per-user rank window, two grouped
    aggregations — all partition on user_id."""
    e = table(spark, sf_dir, "events")
    days = e.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    tagged = days.select(
        "user_id",
        "d",
        F.date_sub(F.col("d"), F.row_number().over(w)).alias("grp"),
    )
    islands = tagged.groupBy("user_id", "grp").agg(
        F.count("*").cast("long").alias("len"),
        F.min("d").alias("island_start"),
    )
    return islands.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_islands"),
        F.max("len").cast("long").alias("longest_streak"),
        F.sum("len").cast("long").alias("active_days"),
        F.min("island_start").cast("string").alias("first_island_start"),
    )


@query(
    "model_nelson_aalen",
    oracle="""
    WITH life AS (
        SELECT user_id,
               CAST((EPOCH_US(MAX(ts)) - EPOCH_US(MIN(ts)))
                    // 86400000000 AS BIGINT) AS t_days,
               CASE WHEN MAX(ts) < (SELECT MAX(ts) - INTERVAL 12 HOUR FROM events)
                    THEN 1 ELSE 0 END AS observed
        FROM events GROUP BY user_id
    ),
    risk AS (
        SELECT t_days AS t,
               CAST(SUM(observed) AS BIGINT) AS d_t,
               CAST((SELECT COUNT(*) FROM life l2 WHERE l2.t_days >= l.t_days)
                    AS BIGINT) AS n_t
        FROM life l
        GROUP BY t_days
        HAVING SUM(observed) > 0
    )
    SELECT t, d_t, n_t,
           ROUND(SUM(d_t * 1e0 / n_t) OVER (ORDER BY t), 6) AS cum_hazard
    FROM risk
    """,
)
def model_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard estimator (Nelson 1972 / Aalen
    1978, public): H(t) = Σ_{t_i ≤ t} d_i/n_i over event times, with
    users whose last activity touches the final 12 hours right-CENSORED
    (they were still alive when observation ended; the fixture's users cluster their last events within hours of the span end, so the 12-hour horizon yields a real observed/censored mix). The additive-hazard
    companion to the engine's Kaplan-Meier survival curve — preferred
    when hazards are the modeling target (e^{-H(t)} recovers survival).
    Lifetime = active span in whole days.

    Determinism: day counts are exact integer microsecond quotients; the
    risk-set counts are exact; the running sum is an ordered window of
    one-division terms, ROUND 6 at readout.

    Scale shape: lifetimes are one groupBy; the risk set per time is a
    rank computation on the (tiny) distinct-lifetime series — at scale
    the correlated count becomes a descending cumulative sum over the
    lifetime histogram, same algebra."""
    e = table(spark, sf_dir, "events")
    horizon = e.agg(
        (F.max("ts") - F.expr("INTERVAL 12 HOUR")).alias("cut")
    )
    life = (
        e.groupBy("user_id")
        .agg(F.min("ts").alias("t0"), F.max("ts").alias("t1"))
        .crossJoin(F.broadcast(horizon))
        .select(
            (
                (F.unix_micros("t1") - F.unix_micros("t0")) / F.lit(86400000000)
            )
            .cast("long")
            .alias("t_days"),
            (F.col("t1") < F.col("cut")).cast("int").alias("observed"),
        )
    )
    counts = life.groupBy("t_days").agg(
        F.sum("observed").cast("long").alias("d_t"),
        F.count("*").cast("long").alias("all_t"),
    )
    # risk set n_t = users with lifetime >= t: descending cumulative count
    w_desc = Window.orderBy(F.col("t_days").desc())
    risk = counts.select(
        F.col("t_days").alias("t"),
        "d_t",
        F.sum("all_t").over(w_desc).cast("long").alias("n_t"),
    ).where(F.col("d_t") > 0)
    w_asc = Window.orderBy("t")
    return risk.select(
        "t",
        "d_t",
        "n_t",
        F.round(
            F.sum(F.col("d_t") * F.lit(1.0) / F.col("n_t")).over(w_asc), 6
        ).alias("cum_hazard"),
    )


_K_FOLDS = 5


@query(
    "pipeline_stratified_kfold",
    oracle=f"""
    WITH assigned AS (
        SELECT doc_id, lang,
               CAST(CONCAT('0x', SUBSTR(MD5('fold:' || CAST(doc_id AS VARCHAR)),
                                        1, 15)) AS BIGINT) % {_K_FOLDS} AS fold
        FROM documents
    ),
    per AS (
        SELECT fold, lang, CAST(COUNT(*) AS BIGINT) AS n
        FROM assigned GROUP BY fold, lang
    ),
    tot AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_lang FROM assigned GROUP BY lang
    )
    SELECT p.fold, p.lang, p.n,
           ROUND(p.n * 1e0 / t.n_lang, 6) AS fold_share,
           ABS(p.n * 1e0 / t.n_lang - 1e0 / {_K_FOLDS}) < 0.1
               AS balanced_within_10pct
    FROM per p JOIN tot t ON t.lang = p.lang
    """,
)
def pipeline_stratified_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified k-fold assignment for evaluation splits:
    fold = md5-hash(doc_id) mod 5 — coordination-free (any worker, any
    rerun, any engine computes the same fold for a doc), which is how
    split assignment must work at 100 TB (no shuffling a global
    permutation). The checked output is the STRATIFICATION AUDIT: per
    (fold, language) counts, each fold's share of its language, and a
    balance flag asserting every stratum lands within ±10% of the ideal
    1/k — hash assignment is only valid if it actually balances, so the
    proof obligation ships with the operator.

    Determinism: the shared md5 60-bit digest mod k; exact counts; one
    rounded division.

    Scale shape: a per-row projection plus two grouped counts — no
    shuffle of documents at all for the ASSIGNMENT (the audit groupBy
    shuffles only counters)."""
    d = table(spark, sf_dir, "documents")
    fold = (
        F.expr("CAST(conv(substring(md5(concat('fold:', CAST(doc_id AS STRING))), 1, 15), 16, 10) AS BIGINT)")
        % _K_FOLDS
    )
    assigned = d.select("doc_id", "lang", fold.alias("fold"))
    per = assigned.groupBy("fold", "lang").agg(F.count("*").cast("long").alias("n"))
    tot = assigned.groupBy("lang").agg(F.count("*").cast("long").alias("n_lang"))
    share = F.col("n") * F.lit(1.0) / F.col("n_lang")
    return per.join(F.broadcast(tot), "lang").select(
        "fold",
        "lang",
        "n",
        F.round(share, 6).alias("fold_share"),
        (F.abs(share - 1.0 / _K_FOLDS) < 0.1).alias("balanced_within_10pct"),
    )
