"""Wave-90: Erlang-C staffing curve, Youden-J optimal threshold, and
Lincoln-Petersen / Chapman capture-recapture estimation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_MAX_C = 10  # agents considered
_MU = 30.0  # literal service rate per agent per hour


def _erlang_oracle() -> str:
    # unrolled fixed-order Horner-style recurrence: t_k = t_{k-1}*a/k,
    # s_k = s_{k-1} + t_k — identical literal chain in both engines.
    lines = ["1.0 AS t0", "1.0 AS s0"]
    for k in range(1, _MAX_C):
        lines.append(f"t{k - 1} * a / {k} AS t{k}")
    chain = ",\n               ".join(lines)
    s_defs = ",\n               ".join(
        f"s{k - 1} + t{k} AS s{k}" for k in range(1, _MAX_C)
    )
    # per-c rows via UNION ALL of literal selects (c = 1.._MAX_C)
    selects = []
    for c in range(1, _MAX_C + 1):
        tc = f"(t{c - 1} * a / {c})"  # a^c / c!
        s_before = f"s{c - 1}"
        selects.append(
            f"SELECT {c} AS c, a, CASE WHEN a >= {c} THEN 1.0 ELSE "
            f"({tc} * {c} / ({c} - a)) / ({s_before} + {tc} * {c} / ({c} - a)) END"
            f" AS p_wait FROM chain"
        )
    union = "\n        UNION ALL\n        ".join(selects)
    return f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, DATE_PART('hour', ts) AS hr,
               COUNT(*) AS x
        FROM events WHERE event_type = 'error'
        GROUP BY day, hr
    ),
    rate AS (
        SELECT CAST(SUM(x) AS BIGINT) AS n_events,
               CAST(COUNT(*) AS BIGINT) AS n_hours,
               SUM(x) * 1.0 / COUNT(*) / {_MU} AS a
        FROM daily
    ),
    chain AS (
        SELECT a, {chain},
               {s_defs}
        FROM (SELECT a FROM rate)
    ),
    curve AS (
        {union}
    )
    SELECT c, ROUND(a, 6) AS offered_load, ROUND(p_wait, 6) AS p_wait,
           p_wait < 0.2 AS meets_sla
    FROM curve
    ORDER BY c
    """


@query("events_erlang_c_staffing", oracle=_erlang_oracle())
def events_erlang_c_staffing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erlang-C staffing curve (Erlang 1917, public): from the observed
    error-event arrival rate and a literal 30/hour service rate, the
    probability an incoming incident must WAIT for an on-call agent, as
    a function of pool size c = 1..10 — queueing theory's answer to
    'how many agents until the pager SLA holds', the capacity-planning
    number on top of the interarrival/outage family already here.

    Determinism: the offered load a = lambda/mu is one division from
    exact counts; every a^k/k! term comes from the SAME unrolled
    fixed-order recurrence t_k = t_{k-1}*a/k in both engines (no
    factorial function, no unordered sums); saturated pools (a >= c)
    clamp to 1.0; display rounds 6dp.

    Scale shape: one map-side groupBy to (day, hour) cells and a
    scalar rate row; the staffing curve is constant-size arithmetic
    fan-out — the data never moves again."""
    daily = (
        table(spark, sf_dir, "events")
        .where(F.col("event_type") == "error")
        .groupBy(F.col("ts").cast("date").alias("day"), F.hour("ts").alias("hr"))
        .agg(F.count("*").alias("x"))
    )
    rate = daily.agg(
        (F.sum("x") / F.count("*") / _MU).alias("a"),
    )
    chain = rate.withColumn("t0", F.lit(1.0)).withColumn("s0", F.lit(1.0))
    for k in range(1, _MAX_C):
        chain = chain.withColumn(f"t{k}", F.col(f"t{k - 1}") * F.col("a") / k)
        chain = chain.withColumn(f"s{k}", F.col(f"s{k - 1}") + F.col(f"t{k}"))
    # r11: the _MAX_C rows come from ONE explode(array(struct...)) over the
    # 1-row Erlang chain — the old per-c unionByName re-executed the daily
    # rollup + chain per branch. Per-c expressions unchanged.
    c_structs = []
    for c in range(1, _MAX_C + 1):
        tc = F.col(f"t{c - 1}") * F.col("a") / c
        erlang = (tc * c / (c - F.col("a"))) / (
            F.col(f"s{c - 1}") + tc * c / (c - F.col("a"))
        )
        p_wait = F.when(F.col("a") >= c, F.lit(1.0)).otherwise(erlang)
        c_structs.append(
            F.struct(
                F.lit(c).alias("c"),
                F.round(F.col("a"), 6).alias("offered_load"),
                F.round(p_wait, 6).alias("p_wait"),
                (p_wait < 0.2).alias("meets_sla"),
            )
        )
    return (
        chain.select(F.explode(F.array(*c_structs)).alias("r"))
        .select("r.*")
        .orderBy("c")
    )


@query(
    "model_youden_threshold",
    oracle="""
    WITH x AS (
        SELECT CAST(ROUND(l_discount * 100) AS BIGINT) AS score,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem
    ),
    per_s AS (
        SELECT score, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS pos
        FROM x GROUP BY score
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(pos) AS BIGINT) AS pt
            FROM per_s),
    cum AS (
        SELECT score,
               SUM(n) OVER (ORDER BY score DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
               SUM(pos) OVER (ORDER BY score DESC
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cpos
        FROM per_s
    )
    SELECT score AS threshold,
           ROUND(cpos * 1.0 / pt, 6) AS tpr,
           ROUND((cn - cpos) * 1.0 / (nt - pt), 6) AS fpr,
           ROUND(cpos * 1.0 / pt - (cn - cpos) * 1.0 / (nt - pt), 6) AS youden_j
    FROM cum, tot
    ORDER BY cpos * 1.0 / pt - (cn - cpos) * 1.0 / (nt - pt) DESC, threshold
    LIMIT 1
    """,
)
def model_youden_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimal classification threshold by Youden's J (1950, public):
    sweep every score cut 'predict positive when score >= t', compute
    TPR/FPR from cumulative class counts, and pick the cut maximizing
    J = TPR - FPR — the standard operating-point selection that turns
    the registry's AUC (model_auc_roc) into a deployable decision rule.

    Determinism: per-score counts and descending cumulative sums are
    exact BIGINTs; TPR/FPR/J are single divisions; the argmax orders by
    (J, threshold) where J is the identical double in both engines.

    Scale shape: one map-side-combined groupBy to score values (11
    here; ~256 for histogram-binned continuous scores), a window over
    those rows, and a top-1."""
    x = table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_discount") * 100).cast("long").alias("score"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).cast("long").alias("y"),
    )
    per_s = x.groupBy("score").agg(
        F.count("*").cast("long").alias("n"), F.sum("y").cast("long").alias("pos")
    )
    tot = per_s.agg(
        F.sum("n").cast("long").alias("nt"), F.sum("pos").cast("long").alias("pt")
    )
    w = Window.orderBy(F.desc("score")).rowsBetween(Window.unboundedPreceding, 0)
    cum = per_s.select(
        "score",
        F.sum("n").over(w).alias("cn"),
        F.sum("pos").over(w).alias("cpos"),
    )
    j = cum.crossJoin(F.broadcast(tot)).select(
        F.col("score").alias("threshold"),
        (F.col("cpos") / F.col("pt")).alias("raw_tpr"),
        ((F.col("cn") - F.col("cpos")) / (F.col("nt") - F.col("pt"))).alias("raw_fpr"),
    )
    return (
        j.select(
            "threshold",
            F.round("raw_tpr", 6).alias("tpr"),
            F.round("raw_fpr", 6).alias("fpr"),
            F.round(F.col("raw_tpr") - F.col("raw_fpr"), 6).alias("youden_j"),
            (F.col("raw_tpr") - F.col("raw_fpr")).alias("_j"),
        )
        .orderBy(F.desc("_j"), F.asc("threshold"))
        .limit(1)
        .drop("_j")
    )


@query(
    "events_capture_recapture",
    oracle="""
    WITH span AS (SELECT MIN(CAST(ts AS DATE)) AS d0 FROM events),
    tagged AS (
        SELECT DISTINCT user_id,
               DATEDIFF('day', d0, CAST(ts AS DATE)) // 7 AS week
        FROM events, span
        WHERE DATEDIFF('day', d0, CAST(ts AS DATE)) < 14
    ),
    caps AS (
        SELECT CAST(SUM(CASE WHEN week = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN week = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
               CAST(SUM(CASE WHEN week = 0 THEN 1 ELSE 0 END)
                    + SUM(CASE WHEN week = 1 THEN 1 ELSE 0 END)
                    - COUNT(DISTINCT user_id) AS BIGINT) AS m
        FROM tagged
    ),
    truth AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_true FROM events)
    SELECT n1, n2, m, n_true,
           ROUND(CAST(n1 AS DOUBLE) * n2 / m, 4) AS lincoln_petersen,
           ROUND(CAST(n1 + 1 AS DOUBLE) * (n2 + 1) / (m + 1) - 1, 4) AS chapman
    FROM caps, truth
    """,
)
def events_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture-recapture population estimation (Lincoln-Petersen 1930 /
    Chapman 1951, public): treat week-1 active users as 'tagged', week-2
    actives as the recapture sample, and estimate the total user
    population as n1*n2/m — the ecology estimator analytics teams reuse
    to size populations no single window observes (and to estimate
    residual duplicate counts after fuzzy dedup). The Chapman corrected
    form is reported alongside, with the true distinct-user count for
    calibration.

    Determinism: n1, n2 and the overlap m are exact set counts
    (inclusion-exclusion, no float); both estimators are one fixed
    double formula rounded 4dp.

    Scale shape: one distinct over (user, week-bucket) — a single
    shuffle — then scalar aggregates; the truth count is a
    countDistinct the optimizer runs as partial sketch+exact merge."""
    span = table(spark, sf_dir, "events").agg(
        F.min(F.col("ts").cast("date")).alias("d0")
    )
    tagged = (
        table(spark, sf_dir, "events")
        .crossJoin(F.broadcast(span))
        .select(
            "user_id",
            F.floor(F.datediff(F.col("ts").cast("date"), F.col("d0")) / 7).alias("week"),
            F.datediff(F.col("ts").cast("date"), F.col("d0")).alias("di"),
        )
        .where(F.col("di") < 14)
        .select("user_id", "week")
        .distinct()
    )
    caps = tagged.agg(
        F.sum(F.when(F.col("week") == 0, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("week") == 1, 1).otherwise(0)).cast("long").alias("n2"),
        (
            F.sum(F.when(F.col("week") == 0, 1).otherwise(0))
            + F.sum(F.when(F.col("week") == 1, 1).otherwise(0))
            - F.countDistinct("user_id")
        )
        .cast("long")
        .alias("m"),
    )
    truth = table(spark, sf_dir, "events").agg(
        F.countDistinct("user_id").cast("long").alias("n_true")
    )
    return caps.crossJoin(F.broadcast(truth)).select(
        "n1",
        "n2",
        "m",
        "n_true",
        F.round(F.col("n1").cast("double") * F.col("n2") / F.col("m"), 4).alias(
            "lincoln_petersen"
        ),
        F.round(
            (F.col("n1") + 1).cast("double") * (F.col("n2") + 1) / (F.col("m") + 1) - 1,
            4,
        ).alias("chapman"),
    )
