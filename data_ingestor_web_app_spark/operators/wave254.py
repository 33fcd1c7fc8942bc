"""Wave-254: circular statistics beyond the basics — Watson's U^2
uniformity test on the 24 h clock (rotation-invariant, unlike a KS on
wrapped times) and the Fisher-Lee circular-circular correlation between
users' click-time and purchase-time angles.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_TWO_PI = 2.0 * math.pi


@query(
    "agg_watson_u2",
    oracle="""
    WITH m AS (
        SELECT epoch_us(ts) % 86400000000 AS mu FROM events
    ),
    vals AS (
        SELECT mu, CAST(COUNT(*) AS BIGINT) AS k
        FROM m GROUP BY mu
    ),
    cum AS (
        SELECT mu / 86400000000.0 AS v, k,
               SUM(k) OVER (ORDER BY mu) - k AS below,
               SUM(k) OVER (ORDER BY mu) AS upto,
               SUM(k) OVER () AS n
        FROM vals
    ),
    terms AS (
        SELECT n, k, v,
               CAST(CAST(upto AS HUGEINT) * upto
                    - CAST(below AS HUGEINT) * below AS DOUBLE) AS sum_odd,
               CAST((4 * CAST(upto AS HUGEINT) * upto * upto - upto
                     - (4 * CAST(below AS HUGEINT) * below * below - below))
                    / 3 AS DOUBLE) AS sum_odd2
        FROM cum
    ),
    parts AS (
        SELECT n,
               SUM(k * v * v - v * sum_odd / n
                   + sum_odd2 / (4.0 * n * n)) AS ss,
               SUM(k * v) / MAX(n) AS ubar
        FROM terms GROUP BY n
    )
    SELECT CAST(n AS BIGINT) AS n_obs,
           ROUND(ubar, 6) AS mean_frac,
           ROUND(ss - n * (ubar - 0.5) * (ubar - 0.5) + 1.0 / (12 * n), 6)
               AS watson_u2,
           ss - n * (ubar - 0.5) * (ubar - 0.5) + 1.0 / (12 * n) > 0.187
               AS nonuniform
    FROM parts
    """,
)
def agg_watson_u2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watson's U^2 test of circular uniformity (Watson, Biometrika
    1961, public) on time-of-day fractions: U^2 = sum (u_(i) -
    (2i-1)/(2n))^2 - n*(ubar - 1/2)^2 + 1/(12n) — the Cramer-von Mises
    statistic made ROTATION-INVARIANT, which is the property a clock
    needs (a KS/CvM verdict would change if the day started at 3am;
    U^2 does not). Compared against the literal 5% point 0.187.
    Complements agg_circular_hour_stats (concentration) and
    events_cosinor (shape) with a distribution-free uniformity verdict.

    Exactness device: u comes from exact integer epoch-micros modular
    arithmetic; the order statistic index is a totally ordered
    row_number; one rounded chain; the flag compares the identical
    unrounded statistic.

    Scale shape (r8 rework, VERDICT r7 item 4): collapse to distinct
    day-micros + counts FIRST; the tied order-statistic indices
    i in (below, upto] contribute Σ(2i-1) = upto²-below² and
    Σ(2i-1)² = (4·upto³-upto)/3 - (4·below³-below)/3 — exact integers
    via square/cube identities (decimal(38,0), always divisible by 3)
    — so the CvM sum is a weighted sum over the distinct-value frame
    and the global cumulative window's input is an Aggregate, never
    raw rows. Oracle computes the structurally identical expression
    for tight float parity."""
    m = table(spark, sf_dir, "events").select(
        F.expr("unix_micros(ts) % 86400000000").alias("mu")
    )
    vals = m.groupBy("mu").agg(F.count("*").cast("long").alias("k"))
    wv = Window.orderBy("mu")
    cum = vals.select(
        (F.col("mu") / 86400000000.0).alias("v"),
        "k",
        (F.sum("k").over(wv) - F.col("k")).alias("below"),
        F.sum("k").over(wv).alias("upto"),
        F.sum("k").over(Window.partitionBy()).alias("n"),
    )
    up = F.col("upto").cast("decimal(38,0)")
    lo = F.col("below").cast("decimal(38,0)")
    sum_odd = (up * F.col("upto") - lo * F.col("below")).cast("double")
    sum_odd2 = (
        (
            (4 * up * F.col("upto") * F.col("upto") - F.col("upto"))
            - (4 * lo * F.col("below") * F.col("below") - F.col("below"))
        )
        / 3
    ).cast("double")
    term = (
        F.col("k") * F.col("v") * F.col("v")
        - F.col("v") * sum_odd / F.col("n")
        + sum_odd2 / (4.0 * F.col("n") * F.col("n"))
    )
    parts = cum.groupBy("n").agg(
        F.sum(term).alias("ss"),
        (F.sum(F.col("k") * F.col("v")) / F.max("n")).alias("ubar"),
    )
    u2 = (
        F.col("ss")
        - F.col("n") * (F.col("ubar") - 0.5) * (F.col("ubar") - 0.5)
        + 1.0 / (12 * F.col("n"))
    )
    return parts.select(
        F.col("n").alias("n_obs"),
        F.round("ubar", 6).alias("mean_frac"),
        F.round(u2, 6).alias("watson_u2"),
        (u2 > 0.187).alias("nonuniform"),
    )


@query(
    "agg_circular_correlation",
    oracle=f"""
    WITH ang AS (
        SELECT user_id, event_type,
               {_TWO_PI!r} * ((epoch_us(ts) % 86400000000)
                              / 86400000000.0) AS th
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    per_user AS (
        SELECT user_id, event_type,
               ATAN2(SUM(SIN(th)), SUM(COS(th))) AS mean_ang
        FROM ang GROUP BY user_id, event_type
    ),
    paired AS (
        SELECT c.user_id,
               c.mean_ang AS a, p.mean_ang AS b
        FROM per_user c JOIN per_user p
          ON p.user_id = c.user_id
         AND c.event_type = 'click' AND p.event_type = 'purchase'
    ),
    means AS (
        SELECT ATAN2(SUM(SIN(a)), SUM(COS(a))) AS abar,
               ATAN2(SUM(SIN(b)), SUM(COS(b))) AS bbar,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM paired
    ),
    mom AS (
        SELECT m.n,
               SUM(SIN(a - m.abar) * SIN(b - m.bbar)) AS sab,
               SUM(SIN(a - m.abar) * SIN(a - m.abar)) AS saa,
               SUM(SIN(b - m.bbar) * SIN(b - m.bbar)) AS sbb
        FROM paired CROSS JOIN means m
        GROUP BY m.n
    )
    SELECT n AS n_users,
           ROUND(sab / SQRT(saa * sbb), 6) AS circ_corr,
           ROUND(SQRT(n) * sab / SQRT(saa * sbb), 6) AS z_approx
    FROM mom
    """,
)
def agg_circular_correlation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fisher-Lee circular-circular correlation (Fisher & Lee,
    Biometrika 1983, public) between each user's mean click hour-angle
    and mean purchase hour-angle: r = sum sin(a - abar) sin(b - bbar) /
    sqrt(sum sin^2 * sum sin^2), with circular means from atan2 of
    vector sums — the correct "do users who click late also buy late?"
    statistic, where Pearson on raw hours breaks at the midnight wrap
    (23h and 1h are 2h apart on a circle, 22h apart on a line).

    Exactness device: angles from exact integer modular time-of-day;
    trig at small argument; the sums reduce in one pass after a
    broadcast of the two circular means; z uses the simple sqrt(n)r
    normal approximation (stated, not erf-computed).

    Scale shape: one (user, type) rollup, a self-join on user (both
    sides shuffled once on the same key), two moment aggregates."""
    ang = (
        table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("click", "purchase"))
        .select(
            "user_id",
            "event_type",
            (
                _TWO_PI
                * (
                    F.expr("unix_micros(ts) % 86400000000")
                    / 86400000000.0
                )
            ).alias("th"),
        )
    )
    per_user = ang.groupBy("user_id", "event_type").agg(
        F.atan2(F.sum(F.sin("th")), F.sum(F.cos("th"))).alias("mean_ang")
    )
    c = per_user.where(F.col("event_type") == "click").select(
        "user_id", F.col("mean_ang").alias("a")
    )
    p = per_user.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("mean_ang").alias("b")
    )
    paired = c.join(p, "user_id")
    means = paired.agg(
        F.atan2(F.sum(F.sin("a")), F.sum(F.cos("a"))).alias("abar"),
        F.atan2(F.sum(F.sin("b")), F.sum(F.cos("b"))).alias("bbar"),
        F.count("*").cast("long").alias("n"),
    )
    sa = F.sin(F.col("a") - F.col("abar"))
    sb = F.sin(F.col("b") - F.col("bbar"))
    mom = (
        paired.crossJoin(F.broadcast(means))
        .groupBy("n")
        .agg(
            F.sum(sa * sb).alias("sab"),
            F.sum(sa * sa).alias("saa"),
            F.sum(sb * sb).alias("sbb"),
        )
    )
    r = F.col("sab") / F.sqrt(F.col("saa") * F.col("sbb"))
    return mom.select(
        F.col("n").alias("n_users"),
        F.round(r, 6).alias("circ_corr"),
        F.round(F.sqrt(F.col("n")) * r, 6).alias("z_approx"),
    )
