"""Wave-205: cohort LTV curves (cumulative revenue per user by signup
cohort and age) and tokenizer fertility profiling (whitespace vs
subword-proxy token counts per language).

LTV-by-cohort is the one retention artifact the events family still
lacked (funnel, retention matrix, churn labels, RFM are registered);
fertility is the tokenizer-planning number — how many subword tokens a
"word" costs per language — that decides context-window budgeting for
multilingual training mixes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"  # BPE-ish boundary regex (RE2/Java-safe)


@query(
    "events_cohort_ltv",
    oracle="""
    WITH ev AS (
        SELECT user_id,
               CAST(DATEDIFF('day', DATE '2024-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS d,
               CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
        FROM events
    ),
    firstd AS (
        SELECT user_id, CAST(MIN(d) AS BIGINT) AS f0 FROM ev
        GROUP BY user_id
    ),
    cohorts AS (
        SELECT f0 // 7 AS cohort_week,
               CAST(COUNT(*) AS BIGINT) AS cohort_users
        FROM firstd GROUP BY 1
    ),
    cells AS (
        SELECT f.f0 // 7 AS cohort_week, (e.d - f.f0) // 7 AS age_week,
               CAST(SUM(e.cents) AS BIGINT) AS rev_cents
        FROM ev e JOIN firstd f ON f.user_id = e.user_id
        GROUP BY 1, 2
    )
    SELECT c.cohort_week, c.age_week, co.cohort_users, c.rev_cents,
           CAST(SUM(c.rev_cents) OVER (PARTITION BY c.cohort_week
                ORDER BY c.age_week
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_rev_cents,
           ROUND(SUM(c.rev_cents) OVER (PARTITION BY c.cohort_week
                 ORDER BY c.age_week
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 / (100.0e0 * co.cohort_users), 6) AS ltv_per_user
    FROM cells c JOIN cohorts co ON co.cohort_week = c.cohort_week
    """,
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curve: users cohorted by first-activity week, revenue
    accumulated by weeks-since-first-activity, normalized to LTV per
    cohort user. The curve every growth team reads ("week-3 LTV of the
    January cohort") and the input to payback-period decisions; the
    events family had retention and churn but not the money curve.

    Determinism: day indices and cents are exact integers; the running
    LTV is an integer window sum divided once.

    Scale shape: one groupBy(user) for cohort assignment (map-side),
    one user-keyed join back, one groupBy(cohort, age); the cumulative
    window partitions BY COHORT over the bounded age axis."""
    events = table(spark, sf_dir, "events")
    ev = events.select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("d"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
    firstd = ev.groupBy("user_id").agg(F.min("d").cast("long").alias("f0"))
    cohorts = firstd.groupBy(
        (F.col("f0") / 7).cast("long").alias("cohort_week")
    ).agg(F.count("*").cast("long").alias("cohort_users"))
    cells = (
        ev.join(firstd, "user_id")
        .groupBy(
            (F.col("f0") / 7).cast("long").alias("cohort_week"),
            ((F.col("d") - F.col("f0")) / 7).cast("long").alias("age_week"),
        )
        .agg(F.sum("cents").cast("long").alias("rev_cents"))
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("age_week")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        cells.join(F.broadcast(cohorts), "cohort_week")
        .select(
            "cohort_week",
            "age_week",
            "cohort_users",
            "rev_cents",
            F.sum("rev_cents").over(w).cast("long").alias("cum_rev_cents"),
            F.round(
                F.sum("rev_cents").over(w)
                / (F.lit(100.0) * F.col("cohort_users")),
                6,
            ).alias("ltv_per_user"),
        )
    )


@query(
    "pipeline_tokenizer_fertility",
    oracle=f"""
    WITH m AS (
        SELECT lang,
               CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS ws_toks,
               CAST(LEN(REGEXP_EXTRACT_ALL(text, '{_RE}')) AS BIGINT)
                   AS re_toks,
               (SELECT CAST(SUM(CAST(CEIL(LEN(t) / 4.0) AS BIGINT))
                            AS BIGINT)
                FROM UNNEST(STRING_SPLIT(text, ' ')) AS u(t)) AS c4_toks
        FROM documents WHERE LEN(text) > 0
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ws_toks) AS BIGINT) AS ws_tokens,
           CAST(SUM(re_toks) AS BIGINT) AS regex_tokens,
           CAST(SUM(c4_toks) AS BIGINT) AS char4_tokens,
           ROUND(SUM(re_toks) / CAST(SUM(ws_toks) AS DOUBLE), 6)
               AS fertility_regex,
           ROUND(SUM(c4_toks) / CAST(SUM(ws_toks) AS DOUBLE), 6)
               AS fertility_char4
    FROM m GROUP BY lang ORDER BY lang
    """,
)
def pipeline_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: whitespace word count vs (a) a
    BPE-ish boundary regex (letter runs / digit runs / punctuation) and
    (b) a 4-chars-per-subword ceiling proxy. Fertility — subword tokens
    per word — is the number that prices a language's context-window
    cost and decides per-language sampling weights in a multilingual
    mix (high-fertility languages consume more of the token budget per
    document than their word counts suggest).

    Determinism: all three counts are exact integers (regex match
    counting uses a dialect-safe pattern identical in Java regex and
    RE2); two rounded ratios per language.

    Scale shape: row-local token counting, one groupBy(lang) with
    map-side partials — a single linear pass."""
    docs = table(spark, sf_dir, "documents").where(F.length("text") > 0)
    m = docs.select(
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("ws_toks"),
        F.size(F.expr(f"regexp_extract_all(text, '{_RE}', 0)"))
        .cast("long")
        .alias("re_toks"),
        F.aggregate(
            F.transform(
                F.split("text", " "),
                lambda t: F.ceil(F.length(t) / 4.0).cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("c4_toks"),
    )
    return (
        m.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("ws_toks").cast("long").alias("ws_tokens"),
            F.sum("re_toks").cast("long").alias("regex_tokens"),
            F.sum("c4_toks").cast("long").alias("char4_tokens"),
            F.round(
                F.sum("re_toks") / F.sum("ws_toks").cast("double"), 6
            ).alias("fertility_regex"),
            F.round(
                F.sum("c4_toks") / F.sum("ws_toks").cast("double"), 6
            ).alias("fertility_char4"),
        )
        .orderBy("lang")
    )
