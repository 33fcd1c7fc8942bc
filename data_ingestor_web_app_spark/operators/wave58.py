"""Wave-58: mixture divergence (KL/JS), CUPED variance-reduced A/B
readout, journey-string sequence CEP via regex.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "pipeline_mixture_divergence",
    oracle="""
    WITH per AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT)) AS BIGINT)
                   AS n_toks
        FROM documents GROUP BY source
    ),
    tot AS (
        SELECT CAST(SUM(n_docs) AS BIGINT) AS td,
               CAST(SUM(n_toks) AS BIGINT) AS tt
        FROM per
    ),
    shares AS (
        SELECT per.source,
               per.n_toks * 1.0 / tot.tt AS p,
               per.n_docs * 1.0 / tot.td AS q
        FROM per, tot
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sources,
           ROUND(SUM(p * LN(p / q)), 6) AS kl_pq,
           ROUND(SUM(q * LN(q / p)), 6) AS kl_qp,
           ROUND(SUM(0.5 * p * LN(p / ((p + q) / 2))
                     + 0.5 * q * LN(q / ((p + q) / 2))), 6) AS js_divergence
    FROM shares
    """,
)
def pipeline_mixture_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture drift between two views of the corpus composition:
    P = per-source TOKEN share (what the model actually trains on) vs
    Q = per-source DOCUMENT share (what the sampling config specifies).
    KL(P||Q), the reverse KL, and the symmetric bounded JS divergence —
    the drift scalar a data-mixture dashboard alarms on when long
    documents silently skew the effective mixture away from the
    declared weights.

    Determinism: shares are exact integer ratios; the divergences sum
    20 bounded double terms under 6dp rounding.

    Scale shape: per-source token counts are one map-side-combined
    groupBy (token counting is size(split) — no explode); everything
    after runs on a 20-row aggregate."""
    d = table(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.size(F.split("text", " ")).cast("long")).cast("long").alias("n_toks"),
    )
    tot = per.agg(
        F.sum("n_docs").cast("long").alias("td"),
        F.sum("n_toks").cast("long").alias("tt"),
    )
    s = per.crossJoin(F.broadcast(tot)).select(
        (F.col("n_toks") * 1.0 / F.col("tt")).alias("p"),
        (F.col("n_docs") * 1.0 / F.col("td")).alias("q"),
    )
    m = (F.col("p") + F.col("q")) / 2
    return s.agg(
        F.count("*").cast("long").alias("n_sources"),
        F.round(F.sum(F.col("p") * F.log(F.col("p") / F.col("q"))), 6).alias("kl_pq"),
        F.round(F.sum(F.col("q") * F.log(F.col("q") / F.col("p"))), 6).alias("kl_qp"),
        F.round(
            F.sum(
                0.5 * F.col("p") * F.log(F.col("p") / m)
                + 0.5 * F.col("q") * F.log(F.col("q") / m)
            ),
            6,
        ).alias("js_divergence"),
    )


@query(
    "events_uplift_cuped",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               CAST('0x' || SUBSTR(MD5(CAST(user_id AS VARCHAR)), 1, 4)
                    AS INTEGER) % 2 AS arm,
               CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-15'
                        THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END)
                    AS BIGINT) AS x,
               CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-15'
                        THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END)
                    AS BIGINT) AS y
        FROM events GROUP BY user_id
    ),
    mom AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(y * y) AS BIGINT) AS syy
        FROM per_user
    ),
    th AS (
        SELECT n, sx * 1.0 / n AS mx,
               (sxy - sx * 1.0 * sy / n) / (sxx - sx * 1.0 * sx / n) AS theta,
               (syy - sy * 1.0 * sy / n) / n AS var_y
        FROM mom
    ),
    adj AS (
        SELECT p.arm, p.y / 100.0 AS y_usd,
               (p.y - th.theta * (p.x - th.mx)) / 100.0 AS y_cuped,
               th.theta AS theta, th.var_y AS var_y,
               th.n AS n_users
        FROM per_user p, th
    ),
    arms AS (
        SELECT arm, AVG(y_usd) AS mean_raw, AVG(y_cuped) AS mean_cuped
        FROM adj GROUP BY arm
    ),
    vm AS (
        SELECT COUNT(*) AS nn, SUM(y_cuped) AS s1,
               SUM(y_cuped * y_cuped) AS s2,
               MAX(var_y) AS var_y, MAX(theta) AS theta,
               MAX(n_users) AS n_users
        FROM adj
    )
    SELECT CAST(vm.n_users AS BIGINT) AS n_users,
           ROUND(vm.theta, 6) AS theta,
           (SELECT ROUND(MAX(CASE WHEN arm = 1 THEN mean_raw END)
                         - MAX(CASE WHEN arm = 0 THEN mean_raw END), 6)
            FROM arms) AS lift_raw,
           (SELECT ROUND(MAX(CASE WHEN arm = 1 THEN mean_cuped END)
                         - MAX(CASE WHEN arm = 0 THEN mean_cuped END), 6)
            FROM arms) AS lift_cuped,
           ROUND(1.0 - ((vm.s2 - vm.s1 * vm.s1 / vm.nn) / vm.nn)
                       / (vm.var_y / 10000.0), 6) AS var_reduction
    FROM vm
    """,
)
def events_uplift_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng, Xu, Kohavi, Walker — WSDM\'13,
    public): per-user post-period revenue adjusted by the pre-period
    covariate (theta = cov(X,Y)/var(X)) — the standard trick that cuts
    A/B variance 30-60% without biasing the treatment effect. Arms are
    a deterministic md5 split of user_id; the readout is raw vs CUPED
    lift plus the realized variance reduction.

    Determinism: per-user cents are exact BIGINTs; theta and both
    variances derive from exact integer moment sums through one fixed
    double formula; the md5 arm assignment is bit-identical in both
    engines.

    Scale shape: one user_id groupBy builds the per-user (x, y) pair;
    the moment rollup is a 6-value global partial aggregate broadcast
    back; the adjusted means and the CUPED variance are one more
    map-side-combined pass over the per-user aggregate."""
    e = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    cutoff = F.lit("2024-01-15").cast("timestamp")
    per_user = (
        e.groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("ts") < cutoff, cents).otherwise(0))
            .cast("long")
            .alias("x"),
            F.sum(F.when(F.col("ts") >= cutoff, cents).otherwise(0))
            .cast("long")
            .alias("y"),
        )
        .select(
            (
                F.conv(
                    F.substring(F.md5(F.col("user_id").cast("string")), 1, 4), 16, 10
                ).cast("int")
                % 2
            ).alias("arm"),
            "x",
            "y",
        )
    )
    mom = per_user.agg(
        F.count("*").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    th = mom.select(
        "n",
        (F.col("sx") * 1.0 / F.col("n")).alias("mx"),
        (
            (F.col("sxy") - F.col("sx") * 1.0 * F.col("sy") / F.col("n"))
            / (F.col("sxx") - F.col("sx") * 1.0 * F.col("sx") / F.col("n"))
        ).alias("theta"),
        (
            (F.col("syy") - F.col("sy") * 1.0 * F.col("sy") / F.col("n")) / F.col("n")
        ).alias("var_y"),
    )
    adj = per_user.crossJoin(F.broadcast(th)).select(
        "arm",
        (F.col("y") / 100.0).alias("y_usd"),
        ((F.col("y") - F.col("theta") * (F.col("x") - F.col("mx"))) / 100.0).alias(
            "y_cuped"
        ),
        "theta",
        "var_y",
        F.col("n").alias("n_users"),
    )
    arms = adj.groupBy("arm").agg(
        F.avg("y_usd").alias("mean_raw"), F.avg("y_cuped").alias("mean_cuped")
    )
    vm = adj.agg(
        F.count("*").alias("nn"),
        F.sum("y_cuped").alias("s1"),
        F.sum(F.col("y_cuped") * F.col("y_cuped")).alias("s2"),
        F.max("var_y").alias("var_y"),
        F.max("theta").alias("theta"),
        F.max("n_users").cast("long").alias("n_users"),
    )
    lifts = (
        arms.agg(
            F.round(
                F.max(F.when(F.col("arm") == 1, F.col("mean_raw")))
                - F.max(F.when(F.col("arm") == 0, F.col("mean_raw"))),
                6,
            ).alias("lift_raw"),
            F.round(
                F.max(F.when(F.col("arm") == 1, F.col("mean_cuped")))
                - F.max(F.when(F.col("arm") == 0, F.col("mean_cuped"))),
                6,
            ).alias("lift_cuped"),
        )
    )
    return vm.crossJoin(lifts).select(
        "n_users",
        F.round("theta", 6).alias("theta"),
        "lift_raw",
        "lift_cuped",
        F.round(
            1.0
            - ((F.col("s2") - F.col("s1") * F.col("s1") / F.col("nn")) / F.col("nn"))
            / (F.col("var_y") / 10000.0),
            6,
        ).alias("var_reduction"),
    )


@query(
    "events_sequence_regex",
    oracle="""
    WITH j AS (
        SELECT user_id,
               STRING_AGG(SUBSTR(event_type, 1, 1), '' ORDER BY ts, event_id)
                   AS journey
        FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(LEN(journey) AS INT) AS journey_len,
           CAST(LEN(REGEXP_EXTRACT_ALL(journey, 'vc*p')) AS INT)
               AS n_conversions,
           CAST(LEN(REGEXP_EXTRACT_ALL(journey, 'e')) AS INT) AS n_errors,
           CAST(LEN(REGEXP_EXTRACT_ALL(journey, 'vc*p')) > 0 AS BOOLEAN)
               AS converted
    FROM j WHERE LEN(journey) >= 5
    """,
)
def events_sequence_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence CEP without a CEP engine: each
    user's event history collapses to a journey string (one char per
    event, time-ordered), and the pattern `view (click)* purchase`
    becomes the regex 'vc*p' counted per user — arbitrary ordered
    patterns (with quantifiers, alternation, negation) for the price of
    one groupBy, where events_pattern_detect hand-rolls a single fixed
    3-step window.

    Determinism: the journey is an ORDER BY (ts, event_id) aggregation
    — totally ordered; non-overlapping leftmost regex counting agrees
    between Java regex and RE2 for this backtrack-free pattern.

    Scale shape: one user_id shuffle; per-user state is the journey
    string (bounded by a user's event count), regex runs data-local.
    The pattern language is the win — new sequences are a literal
    change, not a new operator."""
    e = table(spark, sf_dir, "events")
    j = e.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "ts", "event_id", F.substring("event_type", 1, 1).alias("ch")
                        )
                    )
                ),
                lambda s: s["ch"],
            ),
            "",
        ).alias("journey")
    )
    conv = F.regexp_count("journey", F.lit("vc*p"))
    return j.where(F.length("journey") >= 5).select(
        "user_id",
        F.length("journey").cast("int").alias("journey_len"),
        conv.cast("int").alias("n_conversions"),
        F.regexp_count("journey", F.lit("e")).cast("int").alias("n_errors"),
        (conv > 0).alias("converted"),
    )
