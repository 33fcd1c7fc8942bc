"""Wave-352: position-auction revenue — generalized second price vs
VCG (Edelman, Ostrovsky & Schwarz, AER 2007; Varian, IJIO 2007) — and
the panel fixed-effects within estimator (the Mundlak/classic
demeaning identity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

# literal click-through rates for the 3 slots (position auction)
_CTR = (100, 60, 30)  # in centi-clicks, exact integers


@query(
    "model_gsp_vcg_auction",
    oracle=f"""
    WITH bids AS (
        SELECT l_partkey AS lot,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS bid,
               l_orderkey, l_linenumber
        FROM lineitem
    ),
    ranked AS (
        SELECT lot, bid,
               ROW_NUMBER() OVER (PARTITION BY lot
                   ORDER BY bid DESC, l_orderkey, l_linenumber) AS rk,
               COUNT(*) OVER (PARTITION BY lot) AS nb
        FROM bids
    ),
    wide AS (
        SELECT lot,
               MAX(CASE WHEN rk = 1 THEN bid END) AS b1,
               MAX(CASE WHEN rk = 2 THEN bid END) AS b2,
               MAX(CASE WHEN rk = 3 THEN bid END) AS b3,
               MAX(CASE WHEN rk = 4 THEN bid END) AS b4
        FROM ranked WHERE nb >= 4 GROUP BY lot
    ),
    rev AS (
        SELECT lot,
               -- GSP: each slot pays the NEXT bid per click
               {_CTR[0]} * b2 + {_CTR[1]} * b3 + {_CTR[2]} * b4 AS gsp,
               -- VCG: slot k pays the externality it imposes
               ({_CTR[0]} - {_CTR[1]}) * b2
                 + ({_CTR[1]} - {_CTR[2]}) * b3
                 + {_CTR[2]} * b4
                 + ({_CTR[1]} - {_CTR[2]}) * b3 + {_CTR[2]} * b4
                 + {_CTR[2]} * b4 AS vcg
        FROM wide
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_auctions,
           ROUND(SUM(gsp) / 1e4, 2) AS gsp_revenue,
           ROUND(SUM(vcg) / 1e4, 2) AS vcg_revenue,
           ROUND(CAST(SUM(gsp) AS DOUBLE) / SUM(vcg), 6) AS gsp_over_vcg,
           CAST(SUM(CASE WHEN gsp >= vcg THEN 1 ELSE 0 END) AS BIGINT)
               AS n_gsp_ge_vcg
    FROM rev
    """,
)
def model_gsp_vcg_auction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-auction revenue: three ad slots with CTRs
    {_CTR}, bidders = a part's lineitems. GSP charges each slot the
    next-highest bid per click (the Google/Yahoo design); VCG charges
    each winner the externality it imposes on those below — the
    Edelman-Ostrovsky-Schwarz/Varian result that GSP revenue weakly
    EXCEEDS VCG at the same bid profile is audited per lot
    (n_gsp_ge_vcg should equal n_auctions — pinned in pytest).

    Determinism: bids are exact cents, CTRs exact literal integers,
    so both revenues are exact integer sums; one ratio rounded 6dp.

    Scale shape: one partitioned window per lot + a 4-column pivot —
    per-lot groups, never corpus-wide; the revenue fold is a partial
    aggregate."""
    bids = table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("lot"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("bid"),
        "l_orderkey",
        "l_linenumber",
    )
    w = Window.partitionBy("lot").orderBy(
        F.col("bid").desc(), "l_orderkey", "l_linenumber"
    )
    ranked = bids.select(
        "lot",
        "bid",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(Window.partitionBy("lot")).alias("nb"),
    )
    wide = (
        ranked.where(F.col("nb") >= 4)
        .groupBy("lot")
        .agg(
            *[
                F.max(F.when(F.col("rk") == k, F.col("bid"))).alias(f"b{k}")
                for k in (1, 2, 3, 4)
            ]
        )
    )
    c1, c2, c3 = _CTR
    gsp = c1 * F.col("b2") + c2 * F.col("b3") + c3 * F.col("b4")
    vcg = (
        (c1 - c2) * F.col("b2")
        + (c2 - c3) * F.col("b3")
        + c3 * F.col("b4")
        + (c2 - c3) * F.col("b3")
        + c3 * F.col("b4")
        + c3 * F.col("b4")
    )
    rev = wide.select("lot", gsp.alias("gsp"), vcg.alias("vcg"))
    return rev.agg(
        F.count("*").cast("long").alias("n_auctions"),
        F.round(F.sum("gsp") / 1e4, 2).alias("gsp_revenue"),
        F.round(F.sum("vcg") / 1e4, 2).alias("vcg_revenue"),
        F.round(
            F.sum("gsp").cast("double") / F.sum("vcg"), 6
        ).alias("gsp_over_vcg"),
        F.sum(F.when(F.col("gsp") >= F.col("vcg"), 1).otherwise(0))
        .cast("long")
        .alias("n_gsp_ge_vcg"),
    )


@query(
    "model_fixed_effects_within",
    oracle="""
    WITH u AS (
        SELECT c.c_nationkey AS ent,
               CAST(EXTRACT(year FROM o.o_orderdate) * 12
                    + EXTRACT(month FROM o.o_orderdate) AS DOUBLE) AS x,
               CAST(ROUND(o.o_totalprice * 100) AS BIGINT) / 100.0 AS y
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    pooled AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, AVG(x) AS mx, AVG(y) AS my,
               SUM(x * y) AS sxy, SUM(x * x) AS sxx
        FROM u
    ),
    gm AS (
        SELECT ent, AVG(x) AS gx, AVG(y) AS gy FROM u GROUP BY ent
    ),
    within AS (
        SELECT SUM((u.x - gm.gx) * (u.y - gm.gy)) AS wxy,
               SUM((u.x - gm.gx) * (u.x - gm.gx)) AS wxx,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT u.ent) AS BIGINT) AS k
        FROM u JOIN gm ON gm.ent = u.ent
    )
    SELECT within.n AS n_obs, within.k AS n_entities,
           ROUND((pooled.sxy - pooled.n * pooled.mx * pooled.my)
                 / (pooled.sxx - pooled.n * pooled.mx * pooled.mx), 6)
               AS slope_pooled,
           ROUND(within.wxy / within.wxx, 6) AS slope_within,
           ROUND((pooled.sxy - pooled.n * pooled.mx * pooled.my)
                 / (pooled.sxx - pooled.n * pooled.mx * pooled.mx)
                 - within.wxy / within.wxx, 6) AS fe_adjustment
    FROM pooled, within
    """,
)
def model_fixed_effects_within(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The panel fixed-effects within estimator: order totalprice on a
    month index with customer-nation entity effects, estimated by the
    classical demeaning identity (subtract each entity's means, then
    OLS — algebraically identical to entity dummies, the
    Frisch-Waugh-Lovell theorem). Reported against the pooled OLS
    slope; fe_adjustment is the omitted-entity-heterogeneity bias the
    within transform removes — the econometrics-101 panel workhorse.

    Determinism: month indices and cents are exact; pooled moments and
    demeaned sums are fixed chains rounded 6dp (demeaned cross-sums
    are corpus-sized double folds of ~1e2-magnitude terms — far inside
    6dp tolerance).

    Scale shape: one join + one groupBy(entity) for means, broadcast
    back (25 rows), then a single linear pass — the standard
    two-pass within transform, no window."""
    u = (
        table(spark, sf_dir, "orders")
        .join(
            table(spark, sf_dir, "customer").select(
                "c_custkey", "c_nationkey"
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            F.col("c_nationkey").alias("ent"),
            (
                F.year("o_orderdate") * 12 + F.month("o_orderdate")
            )
            .cast("double")
            .alias("x"),
            (F.round(F.col("o_totalprice") * 100).cast("long") / 100.0).alias(
                "y"
            ),
        )
    )
    pooled = u.agg(
        F.count("*").cast("long").alias("n"),
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    gm = u.groupBy("ent").agg(
        F.avg("x").alias("gx"), F.avg("y").alias("gy")
    )
    within = (
        u.join(F.broadcast(gm), "ent")
        .agg(
            F.sum(
                (F.col("x") - F.col("gx")) * (F.col("y") - F.col("gy"))
            ).alias("wxy"),
            F.sum(
                (F.col("x") - F.col("gx")) * (F.col("x") - F.col("gx"))
            ).alias("wxx"),
            F.count("*").cast("long").alias("n2"),
            F.count_distinct("ent").cast("long").alias("k"),
        )
    )
    b_pooled = (
        F.col("sxy") - F.col("n") * F.col("mx") * F.col("my")
    ) / (F.col("sxx") - F.col("n") * F.col("mx") * F.col("mx"))
    b_within = F.col("wxy") / F.col("wxx")
    return pooled.crossJoin(F.broadcast(within)).select(
        F.col("n2").alias("n_obs"),
        F.col("k").alias("n_entities"),
        F.round(b_pooled, 6).alias("slope_pooled"),
        F.round(b_within, 6).alias("slope_within"),
        F.round(b_pooled - b_within, 6).alias("fe_adjustment"),
    )
