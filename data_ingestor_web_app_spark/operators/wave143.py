"""Wave-143: dynamic time warping between weekly profiles, Harrell's
C-index on a bounded cohort, and MATTR lexical diversity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


def _dtw_sql(src: str) -> str:
    """One SQL body both engines run verbatim: 7-point weekly profiles
    for two event types, then the full 7x7 DTW dynamic program as a
    chain of scalar CTEs (cell c_i_j = cost + min of the three
    predecessors)."""
    prof_cols = ", ".join(
        f"MAX(CASE WHEN grp = '{g}' AND rn0 = {i} THEN v END) AS {g}{i + 1}"
        for g in ("a", "b")
        for i in range(7)
    )
    ctes = [
        f"""daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM {src}
        WHERE event_type IN ('click', 'purchase')
        GROUP BY event_type, CAST(ts AS DATE)
    )""",
        """idx AS (
        SELECT CASE WHEN event_type = 'click' THEN 'a' ELSE 'b' END AS grp,
               CAST((ROW_NUMBER() OVER (PARTITION BY event_type
                                        ORDER BY day) - 1) % 7 AS INT) AS rn0,
               x
        FROM daily
    )""",
        """prof AS (
        SELECT grp, rn0,
               CAST(FLOOR(SUM(x) * 1000.0 / COUNT(*)) AS BIGINT) AS v
        FROM idx GROUP BY grp, rn0
    )""",
        f"p AS MATERIALIZED (SELECT {prof_cols} FROM prof)",
    ]
    for i in range(1, 8):
        for j in range(1, 8):
            cost = f"ABS(p.a{i} - p.b{j})"
            if i == 1 and j == 1:
                body = f"SELECT {cost} AS v FROM p"
            elif i == 1:
                body = f"SELECT {cost} + c_1_{j-1}.v AS v FROM p, c_1_{j-1}"
            elif j == 1:
                body = f"SELECT {cost} + c_{i-1}_1.v AS v FROM p, c_{i-1}_1"
            else:
                body = (
                    f"SELECT {cost} + LEAST(c_{i-1}_{j}.v, c_{i}_{j-1}.v, "
                    f"c_{i-1}_{j-1}.v) AS v "
                    f"FROM p, c_{i-1}_{j}, c_{i}_{j-1}, c_{i-1}_{j-1}"
                )
            ctes.append(f"c_{i}_{j} AS MATERIALIZED ({body})")
    l1 = " + ".join(f"ABS(p.a{i} - p.b{i})" for i in range(1, 8))
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT CAST(c_7_7.v AS BIGINT) AS dtw_milli,
           CAST({l1} AS BIGINT) AS l1_milli
    FROM p, c_7_7"""
    )


@query("events_dtw_weekly", oracle=_dtw_sql("events"))
def events_dtw_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic time warping (Sakoe & Chiba 1978, public) between the
    click and purchase weekly demand profiles (7-point milli-scaled
    day-position averages): the full 7×7 DP — cell(i,j) = |a_i−b_j| +
    min(↑, ←, ↖) — computed as a 49-node
    MATERIALIZED-CTE chain in the oracle and a driver-side constant fold
    over the distributed 14-point profile in Spark, with the plain L1 distance alongside (DTW ≤ L1 always: the
    warping path can only help, which pytest asserts). The alignment
    distance that recognizes 'same shape, shifted phase' where
    euclidean metrics see pure difference.

    Determinism: profiles are floor-divided exact milli BIGINTs; the DP
    is pure integer min-plus.

    Scale shape: the heavy table collapses map-side to 14 profile
    points; the DP is 49 scalar nodes. At 100 TB, DTW between per-key
    series runs as the same fold inside applyInPandas — this is the
    engine-shared reference formulation."""
    daily = (
        table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("x"))
    )
    wd = Window.partitionBy("event_type").orderBy("day")
    prof = (
        daily.select(
            F.when(F.col("event_type") == "click", "a").otherwise("b").alias("grp"),
            ((F.row_number().over(wd) - 1) % 7).alias("rn0"),
            "x",
        )
        .groupBy("grp", "rn0")
        .agg(
            F.floor(F.sum("x") * 1000.0 / F.count("*")).cast("long").alias("v")
        )
    )
    # the profile is 14 scalars — the DP over it is metadata-sized, so it
    # runs driver-side (Spark's CTE inlining would expand the 49-node DP
    # DAG into 3^49 plan paths; the oracle needs MATERIALIZED for the
    # same reason). The distributed part — collapsing the stream to the
    # profile — stays in the cluster.
    vals = {(r["grp"], r["rn0"]): r["v"] for r in prof.collect()}
    a = [vals[("a", i)] for i in range(7)]
    b = [vals[("b", i)] for i in range(7)]
    dp = [[0] * 7 for _ in range(7)]
    for i in range(7):
        for j in range(7):
            c = abs(a[i] - b[j])
            if i == 0 and j == 0:
                dp[i][j] = c
            elif i == 0:
                dp[i][j] = c + dp[i][j - 1]
            elif j == 0:
                dp[i][j] = c + dp[i - 1][j]
            else:
                dp[i][j] = c + min(dp[i - 1][j], dp[i][j - 1], dp[i - 1][j - 1])
    l1 = sum(abs(x - y) for x, y in zip(a, b))
    return spark.createDataFrame(
        [(int(dp[6][6]), int(l1))], "dtw_milli long, l1_milli long"
    )


@query(
    "agg_survival_cindex",
    oracle="""
    WITH u AS (
        SELECT user_id,
               CAST(epoch_ms(MAX(ts)) - epoch_ms(MIN(ts)) AS BIGINT)
                   AS duration_ms,
               CAST(COUNT(*) AS BIGINT) AS score
        FROM events
        WHERE user_id % 7 = 0
        GROUP BY user_id HAVING COUNT(*) >= 2
    ),
    pairs AS (
        SELECT CASE WHEN (a.score - b.score)
                         * (a.duration_ms - b.duration_ms) > 0
                    THEN 1 ELSE 0 END AS conc,
               CASE WHEN a.score = b.score
                      OR a.duration_ms = b.duration_ms
                    THEN 1 ELSE 0 END AS tied
        FROM u a JOIN u b ON a.user_id < b.user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(conc) AS BIGINT) AS concordant,
           CAST(SUM(tied) AS BIGINT) AS tied_pairs,
           ROUND((SUM(conc) + 0.5 * SUM(tied)) * 1e0 / COUNT(*), 6)
               AS c_index
    FROM pairs
    """,
)
def agg_survival_cindex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harrell's concordance index (Harrell et al., JAMA 1982, public)
    on a bounded cohort (user_id % 7 = 0, the documented all-pairs
    bound this repo uses for quadratic verifiers): does a user's event
    count (the risk score) predict their active-span duration? C =
    (concordant + ties/2) / all pairs — the survival-analysis AUC.

    Determinism: durations and scores are exact integers; concordance
    is pure sign arithmetic; one division.

    Scale shape: per-user collapse map-side, then the all-pairs join on
    the ~200-user cohort — the bound IS the point (full-corpus C-index
    uses the rank-based O(n log n) form, traded here for the exact
    tie-handling the small cohort affords)."""
    u = (
        table(spark, sf_dir, "events")
        .where(F.col("user_id") % 7 == 0)
        .groupBy("user_id")
        .agg(
            (F.unix_millis(F.max("ts")) - F.unix_millis(F.min("ts")))
            .cast("long")
            .alias("duration_ms"),
            F.count("*").cast("long").alias("score"),
        )
        .where(F.col("score") >= 2)
    )
    a, b = u.alias("a"), u.alias("b")
    pairs = a.join(b, F.col("a.user_id") < F.col("b.user_id")).select(
        F.when(
            (F.col("a.score") - F.col("b.score"))
            * (F.col("a.duration_ms") - F.col("b.duration_ms"))
            > 0,
            1,
        )
        .otherwise(0)
        .alias("conc"),
        F.when(
            (F.col("a.score") == F.col("b.score"))
            | (F.col("a.duration_ms") == F.col("b.duration_ms")),
            1,
        )
        .otherwise(0)
        .alias("tied"),
    )
    return pairs.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum("conc").cast("long").alias("concordant"),
        F.sum("tied").cast("long").alias("tied_pairs"),
        F.round(
            (F.sum("conc") + 0.5 * F.sum("tied")) * F.lit(1.0) / F.count("*"), 6
        ).alias("c_index"),
    )


_MATTR_W = 25


@query(
    "text_mattr_diversity",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, STRING_SPLIT(text, ' ') AS toks,
               LEN(STRING_SPLIT(text, ' ')) AS n
        FROM documents WHERE LEN(STRING_SPLIT(text, ' ')) >= {_MATTR_W}
    ),
    w AS (
        SELECT doc_id, n,
               CAST(LEN(LIST_DISTINCT(toks[s:s + {_MATTR_W - 1}])) AS BIGINT)
                   AS ty
        FROM (SELECT doc_id, n, toks, UNNEST(RANGE(1, n - {_MATTR_W - 2})) AS s
              FROM t)
    )
    SELECT doc_id,
           CAST(MAX(n) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(SUM(ty) AS BIGINT) AS type_sum,
           ROUND(SUM(ty) * 1e0 / (COUNT(*) * {_MATTR_W}), 6) AS mattr
    FROM w GROUP BY doc_id
    """,
)
def text_mattr_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATTR — moving-average type-token ratio (Covington & McFall 2010,
    public): the TTR of every {_MATTR_W}-token sliding window, averaged.
    Classic TTR collapses as documents grow; MATTR's fixed window makes
    lexical diversity comparable across lengths — the diversity feature
    quality filters actually use.

    Determinism: per-window distinct counts are exact integers
    (array_distinct over token slices, identical in both engines); one
    final division.

    Scale shape: pure per-row higher-order functions — no shuffle, no
    explode; same zero-exchange posture as text_winnowing_fingerprint."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    base = d.select("doc_id", toks.alias("toks"), F.size(toks).alias("n")).where(
        F.col("n") >= _MATTR_W
    )
    tys = F.expr(
        f"transform(sequence(1, n - {_MATTR_W - 1}), "
        f"s -> size(array_distinct(slice(toks, s, {_MATTR_W}))))"
    )
    return base.select(
        "doc_id",
        F.col("n").cast("long").alias("n_tokens"),
        F.size(tys).cast("long").alias("n_windows"),
        F.expr(
            f"aggregate(transform(sequence(1, n - {_MATTR_W - 1}), "
            f"s -> size(array_distinct(slice(toks, s, {_MATTR_W})))), "
            "cast(0 as bigint), (a, x) -> a + x)"
        ).alias("type_sum"),
        F.round(
            F.expr(
                f"aggregate(transform(sequence(1, n - {_MATTR_W - 1}), "
                f"s -> size(array_distinct(slice(toks, s, {_MATTR_W})))), "
                "cast(0 as bigint), (a, x) -> a + x)"
            )
            * F.lit(1.0)
            / (F.size(tys) * _MATTR_W),
            6,
        ).alias("mattr"),
    )
