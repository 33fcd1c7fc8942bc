"""Wave-307: Mack chain-ladder development triangle with ultimates and
Dunning log-likelihood keyness per source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "warehouse_chain_ladder",
    oracle="""
    WITH cells AS (
        SELECT EXTRACT(year FROM o.o_orderdate) AS origin,
               EXTRACT(year FROM l.l_shipdate)
                 - EXTRACT(year FROM o.o_orderdate) AS lag,
               CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS inc
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE EXTRACT(year FROM l.l_shipdate)
              >= EXTRACT(year FROM o.o_orderdate)
        GROUP BY 1, 2
    ),
    t AS (SELECT MAX(origin + lag) AS tmax FROM cells),
    cum AS (
        SELECT origin, lag,
               SUM(inc) OVER (PARTITION BY origin ORDER BY lag) AS c
        FROM cells
    ),
    known AS (
        SELECT cum.origin, cum.lag, cum.c FROM cum CROSS JOIN t
        WHERE cum.origin + cum.lag <= t.tmax
    ),
    fac AS (
        SELECT a.lag AS k,
               CAST(SUM(b.c) AS DOUBLE) / SUM(a.c) AS f
        FROM known a JOIN known b
          ON b.origin = a.origin AND b.lag = a.lag + 1
        GROUP BY a.lag
    ),
    latest AS (
        SELECT origin, MAX(lag) AS dev, MAX_BY(c, lag) AS c_latest
        FROM known GROUP BY origin
    ),
    ult AS (
        SELECT l.origin, l.dev, l.c_latest,
               EXP(COALESCE(SUM(LN(f.f)), 0)) AS tail_factor
        FROM latest l LEFT JOIN fac f ON f.k >= l.dev
        GROUP BY l.origin, l.dev, l.c_latest
    )
    SELECT CAST(origin AS BIGINT) AS origin_year,
           CAST(dev AS BIGINT) AS dev_years_known,
           ROUND(c_latest / 100.0, 2) AS latest_cum_dollars,
           ROUND(c_latest / 100.0 * tail_factor, 2) AS ultimate_dollars,
           ROUND(1.0 / tail_factor, 6) AS completion_pct
    FROM ult ORDER BY origin_year
    """,
)
def warehouse_chain_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chain-ladder reserving (Mack, ASTIN Bulletin 1993 — the
    distribution-free formalization of the classical actuarial
    triangle, public): build the origin-year × development-year
    triangle of cumulative shipped revenue, estimate volume-weighted
    age-to-age factors f_k = ΣC_{i,k+1}/ΣC_{i,k} over rows where both
    cells are inside the triangle (origin + lag <= latest calendar
    year), and project each origin year's ULTIMATE as the latest
    diagonal times the product of remaining factors. completion_pct =
    1/Π f is the percent-developed number reserving reports lead with.
    Negative lags (fixture lineitems 'shipped' before their order) are
    excluded as the data-quality artifact they are.

    Determinism: incremental cells are exact cent sums; cumulative and
    factor sums are exact until the one float division per factor; the
    tail product is EXP(SUM(LN f)) — the identical chain in both
    engines; ROUND 2 on dollars / 6 on completion.

    Scale shape: one join + one (origin, lag) partial-agg groupBy over
    the scan; the triangle itself is years × years — everything after
    the collapse is dimension-sized, and the cumulative window is
    PARTITIONED by origin."""
    cells = (
        table(spark, sf_dir, "lineitem")
        .join(
            table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .where(F.year("l_shipdate") >= F.year("o_orderdate"))
        .groupBy(
            F.year("o_orderdate").alias("origin"),
            (F.year("l_shipdate") - F.year("o_orderdate")).alias("lag"),
        )
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("inc")
        )
    )
    tmax = cells.agg(F.max(F.col("origin") + F.col("lag")).alias("tmax"))
    cum = cells.select(
        "origin",
        "lag",
        F.sum("inc").over(Window.partitionBy("origin").orderBy("lag")).alias("c"),
    )
    known = cum.crossJoin(F.broadcast(tmax)).where(
        F.col("origin") + F.col("lag") <= F.col("tmax")
    )
    a = known.select(
        F.col("origin").alias("ao"), F.col("lag").alias("k"), F.col("c").alias("ca")
    )
    b = known.select(
        F.col("origin").alias("bo"), F.col("lag").alias("bl"), F.col("c").alias("cb")
    )
    fac = (
        a.join(b, (F.col("bo") == F.col("ao")) & (F.col("bl") == F.col("k") + 1))
        .groupBy("k")
        .agg((F.sum("cb").cast("double") / F.sum("ca")).alias("f"))
    )
    latest = known.groupBy("origin").agg(
        F.max("lag").alias("dev"), F.expr("max_by(c, lag)").alias("c_latest")
    )
    ult = (
        latest.join(F.broadcast(fac), F.col("k") >= F.col("dev"), "left")
        .groupBy("origin", "dev", "c_latest")
        .agg(
            F.exp(F.coalesce(F.sum(F.log("f")), F.lit(0.0))).alias(
                "tail_factor"
            )
        )
    )
    return ult.select(
        F.col("origin").cast("long").alias("origin_year"),
        F.col("dev").cast("long").alias("dev_years_known"),
        F.round(F.col("c_latest") / 100.0, 2).alias("latest_cum_dollars"),
        F.round(F.col("c_latest") / 100.0 * F.col("tail_factor"), 2).alias(
            "ultimate_dollars"
        ),
        F.round(1.0 / F.col("tail_factor"), 6).alias("completion_pct"),
    ).orderBy("origin_year")


@query(
    "text_keyness_dunning",
    oracle="""
    WITH tf AS (
        SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents
    ),
    cnt AS (
        SELECT source, w, CAST(COUNT(*) AS BIGINT) AS o11
        FROM tf GROUP BY source, w
    ),
    tok_tot AS (SELECT w, CAST(SUM(o11) AS BIGINT) AS tw FROM cnt GROUP BY w),
    src_tot AS (
        SELECT source, CAST(SUM(o11) AS BIGINT) AS ns FROM cnt GROUP BY source
    ),
    grand AS (SELECT CAST(SUM(o11) AS BIGINT) AS n FROM cnt),
    cells AS (
        SELECT c.source, c.w, c.o11,
               t.tw - c.o11 AS o12,
               s.ns - c.o11 AS o21,
               g.n - t.tw - s.ns + c.o11 AS o22,
               CAST(s.ns AS DOUBLE) * t.tw / g.n AS e11,
               CAST(g.n - s.ns AS DOUBLE) * t.tw / g.n AS e12,
               CAST(s.ns AS DOUBLE) * (g.n - t.tw) / g.n AS e21,
               CAST(g.n - s.ns AS DOUBLE) * (g.n - t.tw) / g.n AS e22,
               CAST(c.o11 AS DOUBLE) / s.ns
                 > CAST(t.tw - c.o11 AS DOUBLE) / (g.n - s.ns) AS over_rep
        FROM cnt c
        JOIN tok_tot t USING (w)
        JOIN src_tot s USING (source)
        CROSS JOIN grand g
    ),
    g2 AS (
        SELECT source, w, o11, over_rep,
               ROUND(2 * (
                 CASE WHEN o11 > 0 THEN o11 * LN(o11 / e11) ELSE 0 END
                 + CASE WHEN o12 > 0 THEN o12 * LN(o12 / e12) ELSE 0 END
                 + CASE WHEN o21 > 0 THEN o21 * LN(o21 / e21) ELSE 0 END
                 + CASE WHEN o22 > 0 THEN o22 * LN(o22 / e22) ELSE 0 END),
                 6) AS g2
        FROM cells
    ),
    ranked AS (
        SELECT source, w, o11, g2,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY g2 DESC, w) AS rk
        FROM g2 WHERE over_rep
    )
    SELECT source, CAST(rk AS BIGINT) AS rank,
           w AS keyword, o11 AS freq_in_source, g2 AS g2_keyness
    FROM ranked WHERE rk <= 3
    """,
)
def text_keyness_dunning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword extraction by Dunning's log-likelihood keyness (Dunning,
    Computational Linguistics 1993; 'keyness' per Scott's WordSmith —
    public): for each (source, token), the G² statistic of the 2×2
    token-vs-rest-of-corpus table, keeping only OVERREPRESENTED tokens
    and emitting each source's top-3. G² is the corpus linguist's
    keyword list — unlike raw TF-IDF it has a calibrated null (chi²(1))
    and is safe at small counts, which is exactly Dunning's point.
    Provenance reading: a source whose keywords are markup-ish tokens
    is a boilerplate source — the qualitative face of
    pipeline_mixture_weights' quality score.

    Determinism: all four observed cells are exact integers from one
    token count; expected cells and G² are one fixed chain, rounded 6dp
    BEFORE the rank so ties order by (g2, token) identically in both
    engines; the top-3 window is PARTITIONED by source.

    Scale shape: explode -> (source, token) groupBy (the
    text_tokenize_wordcount shuffle), two dimension joins (token
    totals, source totals), one partitioned top-k window."""
    tf = table(spark, sf_dir, "documents").select(
        "source", F.explode(F.split("text", " ")).alias("w")
    )
    cnt = tf.groupBy("source", "w").agg(F.count("*").cast("long").alias("o11"))
    tok_tot = cnt.groupBy("w").agg(F.sum("o11").cast("long").alias("tw"))
    src_tot = cnt.groupBy("source").agg(
        F.sum("o11").cast("long").alias("ns")
    )
    grand = cnt.agg(F.sum("o11").cast("long").alias("n"))
    cells = (
        cnt.join(tok_tot, "w")
        .join(F.broadcast(src_tot), "source")
        .crossJoin(F.broadcast(grand))
    )
    o11 = F.col("o11")
    o12 = F.col("tw") - o11
    o21 = F.col("ns") - o11
    o22 = F.col("n") - F.col("tw") - F.col("ns") + o11
    e11 = F.col("ns").cast("double") * F.col("tw") / F.col("n")
    e12 = (F.col("n") - F.col("ns")).cast("double") * F.col("tw") / F.col("n")
    e21 = F.col("ns").cast("double") * (F.col("n") - F.col("tw")) / F.col("n")
    e22 = (
        (F.col("n") - F.col("ns")).cast("double")
        * (F.col("n") - F.col("tw"))
        / F.col("n")
    )

    def term(o, e):
        return F.when(o > 0, o * F.log(o / e)).otherwise(0.0)

    g2 = cells.select(
        "source",
        "w",
        "o11",
        (
            o11.cast("double") / F.col("ns")
            > o12.cast("double") / (F.col("n") - F.col("ns"))
        ).alias("over_rep"),
        F.round(
            2 * (term(o11, e11) + term(o12, e12) + term(o21, e21) + term(o22, e22)),
            6,
        ).alias("g2"),
    )
    ranked = g2.where("over_rep").select(
        "source",
        "w",
        "o11",
        "g2",
        F.row_number()
        .over(Window.partitionBy("source").orderBy(F.col("g2").desc(), "w"))
        .alias("rk"),
    )
    return ranked.where(F.col("rk") <= 3).select(
        "source",
        F.col("rk").cast("long").alias("rank"),
        F.col("w").alias("keyword"),
        F.col("o11").alias("freq_in_source"),
        F.col("g2").alias("g2_keyness"),
    )
