"""Wave-362: Elo rating replay over daily head-to-heads (Elo 1978 "The
Rating of Chessplayers"; FIDE handbook table 8.1b conversion) and
Littlewood's two-fare protection level (Littlewood 1972, the founding
revenue-management rule).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

# FIDE handbook table 8.1b: rating difference D (points) -> expected score
# for the higher-rated player, in integer PERCENT. (hi_bound, pct): D <=
# hi_bound => pct; above the last bound => 92. One shared literal table
# drives BOTH engines, so the replay is pure integer arithmetic — no pow()
# libm in the loop.
_FIDE_BOUNDS = [
    (3, 50), (10, 51), (17, 52), (25, 53), (32, 54), (39, 55), (46, 56),
    (53, 57), (61, 58), (68, 59), (76, 60), (83, 61), (91, 62), (98, 63),
    (106, 64), (113, 65), (121, 66), (129, 67), (137, 68), (145, 69),
    (153, 70), (162, 71), (170, 72), (179, 73), (188, 74), (197, 75),
    (206, 76), (215, 77), (225, 78), (235, 79), (245, 80), (256, 81),
    (267, 82), (278, 83), (290, 84), (302, 85), (315, 86), (328, 87),
    (344, 88), (357, 89), (374, 90), (391, 91),
]
_ELO_K = 20  # FIDE standard K for established players


def _fide_pct(a: int) -> int:
    """Expected-score percent for the higher-rated side at |diff| = a."""
    for hi, pct in _FIDE_BOUNDS:
        if a <= hi:
            return pct
    return 92


def _fide_case_sql(var: str) -> str:
    whens = " ".join(
        f"WHEN {var} <= {hi} THEN {pct}" for hi, pct in _FIDE_BOUNDS
    )
    return f"CASE {whens} ELSE 92 END"


@query(
    "model_elo_replay",
    oracle=f"""
    WITH RECURSIVE daily AS (
        SELECT CAST(ts AS DATE) AS day,
               SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
        FROM events WHERE event_type IN ('click', 'purchase')
        GROUP BY 1
    ),
    seq AS (
        SELECT day, c, p,
               CASE WHEN c > p THEN 100 WHEN c < p THEN 0 ELSE 50 END
                   AS s_pct,
               ROW_NUMBER() OVER (ORDER BY day) AS rn
        FROM daily
    ),
    sim AS (
        SELECT CAST(0 AS BIGINT) AS rn, CAST(0 AS BIGINT) AS d_milli,
               DATE '1970-01-01' AS day, 0 AS s_pct
        UNION ALL
        SELECT q.rn,
               s.d_milli + {_ELO_K} * 10 * (q.s_pct - (
                   CASE WHEN s.d_milli >= 0
                        THEN ({_fide_case_sql("FLOOR(s.d_milli / 1000)")})
                        ELSE 100 - ({_fide_case_sql("FLOOR(-s.d_milli / 1000)")})
                   END)),
               q.day, q.s_pct
        FROM sim s JOIN seq q ON q.rn = s.rn + 1
    )
    SELECT STRFTIME(day, '%Y-%m-%d') AS day,
           CAST(s_pct AS BIGINT) AS s_click_pct,
           CAST(1500000 + d_milli AS BIGINT) AS r_click_milli,
           CAST(1500000 - d_milli AS BIGINT) AS r_purchase_milli
    FROM sim WHERE rn > 0
    """,
)
def model_elo_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elo rating replay (Elo 1978) over the daily click-vs-purchase
    head-to-head: each calendar day is one game (click "wins" if it out-
    counts purchase, draw on ties) and both sides update by K(S − E)
    with K = 20 and E from the FIDE handbook 8.1b piecewise-constant
    conversion table — the table FIDE actually rates with, chosen here
    over the logistic closed form so the 30-step recursion is PURE
    INTEGER (milli-points) and immune to pow() libm drift across
    engines. Output is the full rating trajectory.

    Determinism: state is an integer milli-point differential; the
    expected score is an integer percent from one shared literal table;
    updates are exact integer products. Both engines replay the same
    (day-ordered) sequence.

    Scale shape (Spark): the corpus collapses to one calendar-sized
    daily frame (map-side partial aggregation); the sequential fold runs
    in a single applyInPandas group over ~30 aggregated rows — O(days)
    state, never row-scale. The same shape as the streaming keyed-state
    twins; at 100 TB only the per-day collapse touches the data."""
    daily = (
        table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("click", "purchase"))
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("c"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
                "p"
            ),
        )
        .select(
            "day",
            F.when(F.col("c") > F.col("p"), 100)
            .when(F.col("c") < F.col("p"), 0)
            .otherwise(50)
            .alias("s_pct"),
        )
    )

    def fold(pdf_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        chunks = [c for c in pdf_iter]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values("day")
        d = 0  # milli-point differential, exact int
        days, s_out, rc, rp = [], [], [], []
        for day, s_pct in zip(pdf["day"], pdf["s_pct"]):
            a = d // 1000 if d >= 0 else (-d) // 1000
            pct = _fide_pct(int(a))
            e = pct if d >= 0 else 100 - pct
            d = d + _ELO_K * 10 * (int(s_pct) - e)
            days.append(day.strftime("%Y-%m-%d"))
            s_out.append(int(s_pct))
            rc.append(1500000 + d)
            rp.append(1500000 - d)
        yield pd.DataFrame(
            {
                "day": days,
                "s_click_pct": s_out,
                "r_click_milli": rc,
                "r_purchase_milli": rp,
            }
        )

    # single logical group over the CALENDAR-sized aggregate (not raw rows)
    return daily.repartition(1).mapInPandas(
        fold,
        schema=(
            "day string, s_click_pct long, r_click_milli long, "
            "r_purchase_milli long"
        ),
    )


@query(
    "opt_littlewood_protection",
    oracle="""
    WITH d AS (
        SELECT o_orderdate AS day,
               SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS dh
        FROM orders GROUP BY 1
    ),
    fares AS (
        SELECT AVG(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN o_totalprice END) AS f_high,
               AVG(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                        THEN o_totalprice END) AS f_low
        FROM orders
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM d),
    edf AS (
        SELECT dh AS y, COUNT(*) AS cnt,
               SUM(COUNT(*)) OVER (ORDER BY dh
                                   ROWS UNBOUNDED PRECEDING) AS cdf_cnt
        FROM d GROUP BY dh
    ),
    pick AS (
        SELECT MIN(e.y) AS ystar
        FROM edf e, n, fares f
        WHERE e.cdf_cnt * f.f_high >= n.nd * (f.f_high - f.f_low)
    ),
    fill AS (
        SELECT SUM(LEAST(d.dh, p.ystar)) AS protected_sales
        FROM d, pick p
    )
    SELECT n.nd AS n_days,
           ROUND(f.f_high, 6) AS fare_high,
           ROUND(f.f_low, 6) AS fare_low,
           ROUND(f.f_low / f.f_high, 6) AS critical_ratio,
           CAST(p.ystar AS BIGINT) AS protection_level,
           ROUND(fi.protected_sales * 1.0 / n.nd, 6) AS avg_protected_sales
    FROM n, fares f, pick p, fill fi
    """,
)
def opt_littlewood_protection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Littlewood's rule (1972) — the founding result of revenue
    management: protect y* seats/units for the high-fare class where y*
    is the critical fractile of high-fare demand, accept low-fare
    demand only beyond it. On the order book: high = URGENT/HIGH
    priority orders, demand = daily high-priority order count, and y* =
    smallest y with P(D_high ≤ y) ≥ 1 − f_low/f_high on the EMPIRICAL
    daily-demand distribution (discrete inverse-EDF — no parametric
    fit). The comparison ``cdf·f_high ≥ n·(f_high − f_low)`` keeps the
    fractile test in products, not ratios, so both engines evaluate the
    same exact arithmetic.

    Determinism: demand counts and EDF positions are exact integers;
    fares are one AVG each; the two closing ratios round 6dp.

    Scale shape: one calendar-collapse groupBy with map-side partials;
    the EDF window runs over distinct demand VALUES (an aggregate);
    everything downstream is dimension-sized broadcast joins."""
    o = table(spark, sf_dir, "orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    d = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(F.when(hi, 1).otherwise(0)).alias("dh")
    )
    fares = o.agg(
        F.avg(F.when(hi, F.col("o_totalprice"))).alias("f_high"),
        F.avg(F.when(~hi, F.col("o_totalprice"))).alias("f_low"),
    )
    n = d.agg(F.count("*").cast("long").alias("nd"))
    edf = d.groupBy(F.col("dh").alias("y")).agg(F.count("*").alias("cnt"))
    edf = edf.withColumn(
        "cdf_cnt",
        F.sum("cnt").over(
            Window.orderBy("y").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    pick = (
        edf.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(fares))
        .where(
            F.col("cdf_cnt") * F.col("f_high")
            >= F.col("nd") * (F.col("f_high") - F.col("f_low"))
        )
        .agg(F.min("y").alias("ystar"))
    )
    fill = d.crossJoin(F.broadcast(pick)).agg(
        F.sum(F.least(F.col("dh"), F.col("ystar"))).alias("protected_sales")
    )
    return (
        n.crossJoin(F.broadcast(fares))
        .crossJoin(F.broadcast(pick))
        .crossJoin(F.broadcast(fill))
        .select(
            F.col("nd").alias("n_days"),
            F.round("f_high", 6).alias("fare_high"),
            F.round("f_low", 6).alias("fare_low"),
            F.round(F.col("f_low") / F.col("f_high"), 6).alias("critical_ratio"),
            F.col("ystar").cast("long").alias("protection_level"),
            F.round(
                F.col("protected_sales") * 1.0 / F.col("nd"), 6
            ).alias("avg_protected_sales"),
        )
    )
