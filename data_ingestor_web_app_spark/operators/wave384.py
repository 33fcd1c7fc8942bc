"""Wave-384: Bayesian online changepoint detection (Adams & MacKay,
arXiv:0710.3742, 2007) with a Beta-Bernoulli predictive, run entirely in
exact integer arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_R = 12  # run-length truncation (posterior support 0..R)
_MICRO = 1_000_000  # per-step weight renormalization grid
# hazard 1/8: P(changepoint per day) = 1/8 -> growth factor 7/8, cp 1/8

# The forward recursion is ONE Catalyst fold (aggregate) over the day
# array — no UDF, no driver unroll, no per-day job. Spark higher-order
# functions have no let-binding, so intermediate arrays are bound with the
# transform(array(<expr>), v -> body)[1] idiom; DuckDB's replay builds the
# same chain as nested derived tables inside a recursive CTE. Index note:
# Spark's transform index is 0-based, DuckDB's is 1-based — each body
# derives the run length r from its engine's own convention.
#
# trip   : per run length r: (weight, predictive numerator, r)
#          numerator = 1+ones_r when x=1 else 1+r-ones_r, with
#          ones_r = pre[t+1] - pre[t-r+1] from the prefix-ones array
# growth : (w * num * 7) div ((2+r) * 8)     [stay-in-run mass]
# cp0    : sum over r of (w * num) div ((2+r) * 8)   [changepoint mass]
# raw    : [cp0] ++ first R growth entries (truncation)
# neww   : renormalized to the 1e6 grid by floor division
_STEP = f"""
aggregate(
  obs,
  struct(
    array(CAST({_MICRO} AS BIGINT)) AS w,
    array(CAST(0 AS BIGINT)) AS pre,
    CAST(array() AS array<struct<day:date,x:int,map_r:int,cp_micro:bigint>>) AS out
  ),
  (st, o) -> element_at(
    transform(
      array(
        transform(st.w, (wi, i) -> struct(
          wi AS wi,
          CAST(i AS BIGINT) AS r,
          IF(o.x = 1,
             1L + (element_at(st.pre, size(st.pre))
                   - element_at(st.pre, size(st.pre) - i)),
             1L + i - (element_at(st.pre, size(st.pre))
                       - element_at(st.pre, size(st.pre) - i))) AS num))
      ),
      trip -> element_at(
        transform(
          array(
            concat(
              array(aggregate(trip, CAST(0 AS BIGINT),
                    (a, p) -> a + (p.wi * p.num) div ((2L + p.r) * 8L))),
              slice(transform(trip,
                    p -> (p.wi * p.num * 7L) div ((2L + p.r) * 8L)),
                    1, {_R})
            )
          ),
          raw -> element_at(
            transform(
              array(transform(raw, y ->
                (y * CAST({_MICRO} AS BIGINT))
                  div aggregate(raw, CAST(0 AS BIGINT), (a, b) -> a + b))),
              neww -> struct(
                neww AS w,
                concat(st.pre,
                       array(element_at(st.pre, size(st.pre)) + o.x)) AS pre,
                concat(st.out, array(struct(
                  o.day AS day,
                  o.x AS x,
                  CAST(array_position(neww, array_max(neww)) - 1 AS INT) AS map_r,
                  element_at(neww, 1) AS cp_micro))) AS out)
            ), 1)
        ), 1)
    ), 1)
).out
"""


@query(
    "events_bocpd_bernoulli",
    oracle=f"""
    WITH RECURSIVE daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS t_days,
               CAST(SUM(c) AS BIGINT) AS n_ev
        FROM daily
    ),
    xs AS (
        SELECT day,
               CASE WHEN d.c * tot.t_days > tot.n_ev
                    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS x
        FROM daily d, tot
    ),
    arr AS (
        SELECT LIST(day ORDER BY day) AS days,
               LIST(x ORDER BY day) AS obs,
               CAST(COUNT(*) AS BIGINT) AS t FROM xs
    ),
    sim AS (
        SELECT CAST(0 AS BIGINT) AS step,
               [CAST({_MICRO} AS BIGINT)] AS w,
               [CAST(0 AS BIGINT)] AS pre,
               CAST(NULL AS DATE) AS day,
               CAST(NULL AS BIGINT) AS x_out,
               CAST(NULL AS BIGINT) AS map_r,
               CAST(NULL AS BIGINT) AS cp_micro
        FROM arr
        UNION ALL
        SELECT step + 1,
               neww,
               list_append(pre, pre[len(pre)] + x),
               d,
               x,
               CAST(list_position(neww, list_max(neww)) - 1 AS BIGINT),
               neww[1]
        FROM (
            SELECT step, pre, x, d,
                   list_transform(raw, y ->
                       (y * CAST({_MICRO} AS BIGINT)) // tot_raw) AS neww
            FROM (
                SELECT step, pre, x, d, raw,
                       CAST(list_sum(raw) AS BIGINT) AS tot_raw
                FROM (
                    SELECT step, pre, x, d,
                           list_prepend(
                             CAST(list_sum(list_transform(trip, p ->
                               (struct_extract(p, 'wi') * struct_extract(p, 'num'))
                                 // ((2 + struct_extract(p, 'r')) * 8)))
                               AS BIGINT),
                             list_transform(trip, p ->
                               (struct_extract(p, 'wi') * struct_extract(p, 'num') * 7)
                                 // ((2 + struct_extract(p, 'r')) * 8))[1:{_R}]
                           ) AS raw
                    FROM (
                        SELECT s.step, s.pre,
                               a.obs[s.step + 1] AS x,
                               a.days[s.step + 1] AS d,
                               list_transform(s.w, (wi, i) -> STRUCT_PACK(
                                 wi := wi,
                                 r := CAST(i - 1 AS BIGINT),
                                 num := CASE WHEN a.obs[s.step + 1] = 1
                                   THEN 1 + (s.pre[len(s.pre)]
                                             - s.pre[len(s.pre) - (i - 1)])
                                   ELSE 1 + (i - 1)
                                        - (s.pre[len(s.pre)]
                                           - s.pre[len(s.pre) - (i - 1)])
                                 END)) AS trip
                        FROM sim s, arr a
                        WHERE s.step < a.t
                    )
                )
            )
        )
    )
    SELECT STRFTIME(day, '%Y-%m-%d') AS day,
           x_out AS x,
           map_r AS map_runlength,
           ROUND(cp_micro / {_MICRO}.0, 6) AS cp_prob
    FROM sim WHERE step >= 1
    """,
)
def events_bocpd_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayesian online changepoint detection (Adams-MacKay 2007) over the
    daily activity indicator x_t = [count_t above the period mean], with
    a Beta(1,1)-Bernoulli predictive, constant hazard 1/8, and run-length
    truncation at {_R}. Emits, per day, the MAP run length and the
    changepoint probability (posterior mass on run length 0) — the
    streaming-monitoring answer to "did the regime just change?".

    EXACT-INTEGER RECURSION: the textbook recursion multiplies weights by
    rational predictives (1+s)/(2+r) and hazard 7/8 | 1/8; here every
    step keeps weights as integer micro-units — each product uses the
    predictive's integer numerator with floor division
    (w·num·7) div ((2+r)·8), the changepoint mass is an integer sum
    (order-free), and renormalization is (w·1e6) div total. No doubles
    exist anywhere in the recursion, so the DuckDB replay is
    bit-identical by construction (the Kalman fixed-point discipline
    taken to its limit). The per-step floor quantization IS the operator
    definition, pinned by the oracle and an independent pytest replay.

    Scale shape: one calendar collapse (map-side combined), then the
    whole forward pass is a single Catalyst fold over the bounded day
    array on one row — at any corpus size the recursion costs
    O(days · {_R}) after the collapse."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    tot = daily.agg(
        F.count("*").cast("long").alias("t_days"),
        F.sum("c").cast("long").alias("n_ev"),
    )
    xs = daily.crossJoin(F.broadcast(tot)).select(
        "day",
        F.when(F.col("c") * F.col("t_days") > F.col("n_ev"), 1)
        .otherwise(0)
        .cast("int")
        .alias("x"),
    )
    packed = xs.agg(
        F.sort_array(F.collect_list(F.struct("day", "x"))).alias("obs")
    )
    out = packed.select(F.explode(F.expr(_STEP)).alias("o"))
    return out.select(
        F.date_format("o.day", "yyyy-MM-dd").alias("day"),
        F.col("o.x").cast("long").alias("x"),
        F.col("o.map_r").cast("long").alias("map_runlength"),
        F.round(F.col("o.cp_micro") / float(_MICRO), 6).alias("cp_prob"),
    ).orderBy("day")
