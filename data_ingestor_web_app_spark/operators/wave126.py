"""Wave-126: Dirichlet-smoothed query-likelihood retrieval, window
distribution ranks, and circular hour-of-day statistics.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_MU = 100  # Dirichlet smoothing parameter


@query(
    "text_query_likelihood_dirichlet",
    oracle=f"""
    WITH toks AS (
        SELECT d.doc_id, d.lang, t.tok
        FROM documents d,
             UNNEST(STRING_SPLIT(d.text, ' ')) AS t(tok)
    ),
    dlen AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS len FROM toks GROUP BY doc_id
    ),
    ctf AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS ctf FROM toks GROUP BY tok),
    ctot AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM toks),
    qdf AS (
        SELECT lang, tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        FROM toks GROUP BY lang, tok
    ),
    qterms AS (
        SELECT lang, tok FROM (
            SELECT lang, tok,
                   ROW_NUMBER() OVER (PARTITION BY lang
                                      ORDER BY df DESC, tok) AS rn
            FROM qdf) t
        WHERE rn <= 2
    ),
    tf AS (
        SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks GROUP BY doc_id, tok
    ),
    scored AS (
        SELECT q.lang, dl.doc_id,
               CAST(SUM(CAST(ROUND(1000000 * LN(
                   CAST(COALESCE(t.tf, 0) * ct.c + {_MU} * cf.ctf AS DOUBLE)
                   / (ct.c * (dl.len + {_MU}))
               )) AS BIGINT)) AS BIGINT) AS score_micro
        FROM qterms q
        CROSS JOIN dlen dl
        CROSS JOIN ctot ct
        JOIN ctf cf ON cf.tok = q.tok
        LEFT JOIN tf t ON t.doc_id = dl.doc_id AND t.tok = q.tok
        GROUP BY q.lang, dl.doc_id
    )
    SELECT lang, doc_id, score_micro, rk FROM (
        SELECT lang, doc_id, score_micro,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY score_micro DESC, doc_id) AS rk
        FROM scored) t
    WHERE rk <= 5
    """,
)
def text_query_likelihood_dirichlet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-likelihood retrieval with Dirichlet smoothing (Zhai &
    Lafferty, SIGIR 2001, public): score(q,d) = Σ_w∈q ln((tf + μ·p_c(w))
    / (|d| + μ)), the language-modeling ranking that BM25's probabilistic
    family competes with. Queries = each language's two highest-df tokens
    (deterministic tie-break); every document scores against every query
    — smoothing gives mass to unseen terms, which is the point.

    Determinism: the per-term score is rearranged to ln((tf·C + μ·ctf) /
    (C·(|d|+μ))) so both ln arguments are exact BIGINTs; the single
    rounded ln per (doc, term) becomes integer micro-nats, and the
    query-level sum is exact integer addition — no float-order hazard.

    Scale shape: collection stats are two map-side-combined aggregates;
    the 10-row query-term table broadcasts against the doc-length table;
    the only per-doc-per-term work is a broadcast-joined projection.
    Top-5 per query is a heap-k window over tiny groups."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("tok"))
    dlen = toks.groupBy("doc_id").agg(F.count("*").cast("long").alias("len"))
    ctf = toks.groupBy("tok").agg(F.count("*").cast("long").alias("ctf"))
    ctot = toks.agg(F.count("*").cast("long").alias("c"))
    qdf = toks.groupBy("lang", "tok").agg(
        F.count_distinct("doc_id").cast("long").alias("df")
    )
    wq = Window.partitionBy("lang").orderBy(F.col("df").desc(), "tok")
    qterms = (
        qdf.withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= 2)
        .select("lang", "tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").cast("long").alias("tf"))
    term_micro = (
        F.round(
            1000000
            * F.log(
                (F.coalesce(F.col("tf"), F.lit(0)) * F.col("c") + _MU * F.col("ctf"))
                .cast("double")
                / (F.col("c") * (F.col("len") + _MU))
            )
        )
        .cast("long")
    )
    scored = (
        F.broadcast(qterms)
        .crossJoin(dlen)
        .crossJoin(F.broadcast(ctot))
        .join(F.broadcast(ctf), "tok")
        .join(tf, ["doc_id", "tok"], "left")
        .select("lang", "doc_id", term_micro.alias("tm"))
        .groupBy("lang", "doc_id")
        .agg(F.sum("tm").cast("long").alias("score_micro"))
    )
    wr = Window.partitionBy("lang").orderBy(F.col("score_micro").desc(), "doc_id")
    return (
        scored.withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") <= 5)
    )


@query(
    "win_distribution_ranks",
    oracle="""
    SELECT c_custkey, c_nationkey,
           FLOOR(PERCENT_RANK() OVER w * 1e6 + 0.5) / 1e6 AS pct_rank,
           FLOOR(CUME_DIST() OVER w * 1e6 + 0.5) / 1e6 AS cume,
           CAST(NTILE(4) OVER w AS BIGINT) AS quartile
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
    """,
)
def win_distribution_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions — percent_rank, cume_dist, ntile —
    per nation over customer balances, with a unique tie-break so every
    rank is total-ordered. Completes the window-function family
    (ranking/lag/frames already covered in win_*).

    Scale shape: one shuffle on the partition key; each function is a
    single-pass rank computation inside the sorted partition."""
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        # explicit half-up micro-quantization: rank ratios hit exact-dyadic
        # halfway points (e.g. 41/640 = .0640625) where Spark's ROUND (half
        # up) and DuckDB's (half even) disagree — FLOOR(x*1e6+0.5) is the
        # same rounding rule in both engines
        (F.floor(F.percent_rank().over(w) * 1e6 + 0.5) / 1e6).alias("pct_rank"),
        (F.floor(F.cume_dist().over(w) * 1e6 + 0.5) / 1e6).alias("cume"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


# 1440-entry micro-scaled cos/sin lookup for minute-of-day angles: both
# engines read the SAME integer literals, so circular sums are exact and
# no cross-engine libm ulp can flip anything.
_COS_T = [round(1e6 * math.cos(2 * math.pi * m / 1440)) for m in range(1440)]
_SIN_T = [round(1e6 * math.sin(2 * math.pi * m / 1440)) for m in range(1440)]


@query(
    "agg_circular_hour_stats",
    oracle=f"""
    WITH tabs(m, cosv, sinv) AS (
        SELECT UNNEST(RANGE(1440)),
               UNNEST([{", ".join(str(v) for v in _COS_T)}]),
               UNNEST([{", ".join(str(v) for v in _SIN_T)}])
    ),
    e AS (
        SELECT event_type,
               (EXTRACT(HOUR FROM ts) * 60 + EXTRACT(MINUTE FROM ts)) AS m
        FROM events
    ),
    agg AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(t.cosv) AS BIGINT) AS cs,
               CAST(SUM(t.sinv) AS BIGINT) AS ss
        FROM e JOIN tabs t USING (m)
        GROUP BY event_type
    )
    SELECT event_type, n, cs, ss,
           ROUND(SQRT(CAST(cs AS DOUBLE) * cs + CAST(ss AS DOUBLE) * ss)
                 / (n * 1000000.0), 6) AS resultant_r,
           ROUND(1 - SQRT(CAST(cs AS DOUBLE) * cs + CAST(ss AS DOUBLE) * ss)
                 / (n * 1000000.0), 6) AS circ_variance,
           ROUND(FMOD(DEGREES(ATAN2(CAST(ss AS DOUBLE), CAST(cs AS DOUBLE)))
                      + 360.0, 360.0), 4) AS mean_dir_deg
    FROM agg
    """,
)
def agg_circular_hour_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Circular statistics of event time-of-day per type (Fisher,
    "Statistical Analysis of Circular Data", 1993, public): minute-of-day
    maps to an angle; the resultant length R̄ = |Σe^{iθ}|/n measures
    concentration (1 = all events at the same minute, 0 = uniform),
    circular variance = 1 - R̄, and the mean direction is the peak time
    in degrees. Linear means are wrong for clock data (23:50 vs 00:10
    averages to noon); this is the correct rotation-invariant estimator.

    Determinism: angles index a SHARED 1440-entry integer micro cos/sin
    table embedded as literals in both engines, so the heavy sums are
    exact BIGINTs; only the final sqrt/atan2 on identical exact inputs
    run in floats, rounded.

    Scale shape: broadcast 1440-row lookup join + one map-side-combined
    groupBy — the stream is touched once, state is four scalars per
    type."""
    cos_arr = F.array(*[F.lit(v) for v in _COS_T])
    sin_arr = F.array(*[F.lit(v) for v in _SIN_T])
    e = table(spark, sf_dir, "events").select(
        "event_type",
        (F.hour("ts") * 60 + F.minute("ts")).alias("m"),
    )
    agg = (
        e.select(
            "event_type",
            F.element_at(cos_arr, F.col("m") + 1).alias("cosv"),
            F.element_at(sin_arr, F.col("m") + 1).alias("sinv"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("cosv").cast("long").alias("cs"),
            F.sum("sinv").cast("long").alias("ss"),
        )
    )
    rlen = F.sqrt(
        F.col("cs").cast("double") * F.col("cs")
        + F.col("ss").cast("double") * F.col("ss")
    ) / (F.col("n") * 1000000.0)
    return agg.select(
        "event_type",
        "n",
        "cs",
        "ss",
        F.round(rlen, 6).alias("resultant_r"),
        F.round(1 - rlen, 6).alias("circ_variance"),
        F.round(
            (
                F.degrees(
                    F.atan2(F.col("ss").cast("double"), F.col("cs").cast("double"))
                )
                + 360.0
            )
            % 360.0,
            4,
        ).alias("mean_dir_deg"),
    )
