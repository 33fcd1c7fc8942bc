"""Wave-114: probability-of-beating A/B readout, PMI collocations,
and a load-duration curve.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

# Abramowitz-Stegun 7.1.26 upper-tail polynomial (hash-stable across
# engines under 6dp rounding — established by agg_benjamini_hochberg)
_AS_SQL = (
    "(EXP(-ABS({z}) * ABS({z}) / 2) / SQRT(2 * PI())"
    " * (0.319381530 * (1 / (1 + 0.2316419 * ABS({z})))"
    "    - 0.356563782 * POW(1 / (1 + 0.2316419 * ABS({z})), 2)"
    "    + 1.781477937 * POW(1 / (1 + 0.2316419 * ABS({z})), 3)"
    "    - 1.821255978 * POW(1 / (1 + 0.2316419 * ABS({z})), 4)"
    "    + 1.330274429 * POW(1 / (1 + 0.2316419 * ABS({z})), 5)))"
)


def _phi_tail(z):
    t = 1 / (1 + 0.2316419 * F.abs(z))
    poly = (
        0.319381530 * t
        - 0.356563782 * F.pow(t, 2)
        + 1.781477937 * F.pow(t, 3)
        - 1.821255978 * F.pow(t, 4)
        + 1.330274429 * F.pow(t, 5)
    )
    import math

    return F.exp(-F.abs(z) * F.abs(z) / 2) / math.sqrt(2 * math.pi) * poly


@query(
    "events_ab_prob_beats",
    oracle=f"""
    WITH assigned AS (
        SELECT user_id,
               CAST(CONCAT('0x', SUBSTR(MD5(CAST(user_id AS VARCHAR) || '|pb'),
                                        1, 8)) AS BIGINT) % 2 AS arm,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS conv
        FROM events GROUP BY user_id
    ),
    arms AS (
        SELECT
          CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
          CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
          CAST(SUM(CASE WHEN arm = 0 AND conv >= 15 THEN 1 ELSE 0 END) AS BIGINT)
              AS c0,
          CAST(SUM(CASE WHEN arm = 1 AND conv >= 15 THEN 1 ELSE 0 END) AS BIGINT)
              AS c1
        FROM assigned
    ),
    z AS (
        SELECT n0, n1, c0, c1,
               CASE WHEN c1 * (n1 - c1) = 0 AND c0 * (n0 - c0) = 0 THEN 0.0
                    ELSE (CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)
               / SQRT(CAST(c1 AS DOUBLE) / n1 * (1 - CAST(c1 AS DOUBLE) / n1) / n1
                      + CAST(c0 AS DOUBLE) / n0 * (1 - CAST(c0 AS DOUBLE) / n0) / n0)
               END AS zval
        FROM arms
    )
    SELECT n0 AS n_control, n1 AS n_treat,
           ROUND(CAST(c0 AS DOUBLE) / n0, 6) AS rate_control,
           ROUND(CAST(c1 AS DOUBLE) / n1, 6) AS rate_treat,
           ROUND(zval, 6) AS z_stat,
           ROUND(CASE WHEN zval >= 0 THEN 1 - {_AS_SQL.format(z='zval')}
                      ELSE {_AS_SQL.format(z='zval')} END, 6) AS prob_treat_beats
    FROM z
    """,
)
def events_ab_prob_beats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probability-of-beating readout (the normal-approximation
    'chance to beat control' every A/B dashboard headlines, public):
    users hash into two arms, conversion = >= 15 purchases (a cut that splits every fixture scale), and
    P(treat > control) = Phi(z) of the two-proportion z — the
    plain-language companion to the registry's significance tests
    (Welch, CUPED, SRM, sequential looks). Phi comes from the
    Abramowitz-Stegun 7.1.26 polynomial, the engine's established
    cross-engine-stable normal tail.

    Determinism: arm counts are exact; z and the polynomial are fixed
    double chains rounded 6dp.

    Scale shape: one per-user aggregate + one 4-counter scalar pass."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.col("user_id").cast("string"), F.lit("|pb"))), 1, 8),
        16,
        10,
    ).cast("long")
    assigned = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("conv")
        )
        .select((h % 2).alias("arm"), "conv")
    )
    arms = assigned.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long").alias("n0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when((F.col("arm") == 0) & (F.col("conv") >= 15), 1).otherwise(0))
        .cast("long")
        .alias("c0"),
        F.sum(F.when((F.col("arm") == 1) & (F.col("conv") >= 15), 1).otherwise(0))
        .cast("long")
        .alias("c1"),
    )
    p0 = F.col("c0").cast("double") / F.col("n0")
    p1 = F.col("c1").cast("double") / F.col("n1")
    zval = F.when(
        (F.col("c1") * (F.col("n1") - F.col("c1")) == 0)
        & (F.col("c0") * (F.col("n0") - F.col("c0")) == 0),
        F.lit(0.0),
    ).otherwise(
        (p1 - p0)
        / F.sqrt(p1 * (1 - p1) / F.col("n1") + p0 * (1 - p0) / F.col("n0"))
    )
    z = arms.withColumn("zval", zval)
    return z.select(
        F.col("n0").alias("n_control"),
        F.col("n1").alias("n_treat"),
        F.round(p0, 6).alias("rate_control"),
        F.round(p1, 6).alias("rate_treat"),
        F.round(F.col("zval"), 6).alias("z_stat"),
        F.round(
            F.when(F.col("zval") >= 0, 1 - _phi_tail(F.col("zval"))).otherwise(
                _phi_tail(F.col("zval"))
            ),
            6,
        ).alias("prob_treat_beats"),
    )


@query(
    "text_collocations_pmi",
    oracle="""
    WITH toks AS (
        SELECT doc_id, LOWER(UNNEST(STRING_SPLIT(text, ' '))) AS token,
               GENERATE_SUBSCRIPTS(STRING_SPLIT(text, ' '), 1) AS pos
        FROM documents
    ),
    clean AS (SELECT doc_id, token, pos FROM toks WHERE token <> ''),
    uni AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS c FROM clean GROUP BY token
    ),
    n_tok AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uni),
    bi AS (
        SELECT a.token AS w1, b.token AS w2, CAST(COUNT(*) AS BIGINT) AS cb
        FROM clean a JOIN clean b
          ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        GROUP BY a.token, b.token
        HAVING COUNT(*) >= 25
    ),
    scored AS (
        SELECT w1, w2, cb,
               CAST(FLOOR(LN(CAST(cb AS DOUBLE) * n / (u1.c * u2.c)) * 1000000)
                    AS BIGINT) AS pmi_scaled
        FROM bi
        JOIN uni u1 ON u1.token = w1
        JOIN uni u2 ON u2.token = w2
        CROSS JOIN n_tok
    )
    SELECT w1, w2, cb AS n_occurrences,
           ROUND(pmi_scaled / 1000000.0, 4) AS pmi, rk
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY pmi_scaled DESC, w1, w2) AS rk
          FROM scored) s
    WHERE rk <= 15
    """,
)
def text_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction by pointwise mutual information (Church
    & Hanks 1990, public): adjacent token pairs whose co-occurrence
    beats the independence baseline, PMI = ln(N·c(w1,w2)/(c(w1)c(w2))),
    with a minimum-support cut so rare flukes don't top the list — the
    classic 'these words belong together' detector that raw bigram
    counts (text_ngram_counts) cannot give, feeding tokenizer-merge
    and phrase-mining decisions.

    Determinism: counts are exact; each PMI is floor-scaled to an
    integer at 1e6 (one LN per bigram type), so ranking is integer
    with (w1, w2) tie-breaks; display rounds 4dp.

    Scale shape: tokenize explodes map-side; the adjacency join is
    keyed on (doc, pos); unigram/bigram tables are keyed groupBys; the
    top-15 is a heap selection over bigram TYPES (vocabulary-bounded,
    not corpus-bounded)."""
    toks = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.posexplode(F.split(F.lower(F.col("text")), " ")).alias("pos0", "token"),
        )
        .where(F.col("token") != "")
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "token")
    )
    uni = toks.groupBy("token").agg(F.count("*").cast("long").alias("c"))
    n_tok = uni.agg(F.sum("c").cast("long").alias("n"))
    a = toks.select("doc_id", "pos", F.col("token").alias("w1"))
    b = toks.select(
        F.col("doc_id").alias("d2"), F.col("pos").alias("p2"), F.col("token").alias("w2")
    )
    bi = (
        a.join(b, (F.col("d2") == F.col("doc_id")) & (F.col("p2") == F.col("pos") + 1))
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("cb"))
        .where(F.col("cb") >= 25)
    )
    scored = (
        bi.join(F.broadcast(uni.select(F.col("token").alias("w1"), F.col("c").alias("c1"))), "w1")
        .join(F.broadcast(uni.select(F.col("token").alias("w2"), F.col("c").alias("c2"))), "w2")
        .crossJoin(F.broadcast(n_tok))
        .select(
            "w1",
            "w2",
            "cb",
            F.floor(
                F.log(F.col("cb").cast("double") * F.col("n") / (F.col("c1") * F.col("c2")))
                * 1000000
            )
            .cast("long")
            .alias("pmi_scaled"),
        )
    )
    top = scored.orderBy(F.desc("pmi_scaled"), F.asc("w1"), F.asc("w2")).limit(15)
    w = Window.orderBy(F.desc("pmi_scaled"), F.asc("w1"), F.asc("w2"))
    return top.withColumn("rk", F.row_number().over(w)).select(
        "w1",
        "w2",
        F.col("cb").alias("n_occurrences"),
        F.round(F.col("pmi_scaled") / 1000000.0, 4).alias("pmi"),
        "rk",
    )


@query(
    "events_load_duration_curve",
    oracle="""
    WITH hourly AS (
        SELECT DATE_TRUNC('hour', ts) AS hr, CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY hr
    ),
    ranked AS (
        SELECT x, ROW_NUMBER() OVER (ORDER BY x DESC, hr) AS rn,
               COUNT(*) OVER () AS n
        FROM hourly
    )
    SELECT pct, load_value FROM (
        SELECT 1 AS pct,
               (SELECT x FROM ranked WHERE rn = GREATEST(1, n // 100)) AS load_value
        UNION ALL
        SELECT 10, (SELECT x FROM ranked WHERE rn = GREATEST(1, n // 10))
        UNION ALL
        SELECT 50, (SELECT x FROM ranked WHERE rn = GREATEST(1, n // 2))
        UNION ALL
        SELECT 90, (SELECT x FROM ranked WHERE rn = GREATEST(1, 9 * n // 10))
        UNION ALL
        SELECT 99, (SELECT x FROM ranked WHERE rn = GREATEST(1, 99 * n // 100))
    ) ORDER BY pct
    """,
)
def events_load_duration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load-duration curve (power-systems engineering, public, reused
    verbatim for capacity planning): hourly event counts sorted
    descending, read at the 1/10/50/90/99% duration points — 'the load
    exceeded for X% of hours' — the capacity-planning view that peak
    (events_peak_concurrency) and mean hide. Values are rank-SELECTED
    attained hourly loads.

    Determinism: hourly counts and rank selections are exact; the
    duration ranks are integer floor arithmetic.

    Scale shape: one groupBy-to-hours, one rank (range-partitioned
    sort at scale), five rank lookups."""
    hourly = (
        table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("hr"))
        .agg(F.count("*").cast("long").alias("x"))
    )
    ranked = hourly.select(
        "x",
        F.row_number().over(Window.orderBy(F.desc("x"), F.asc("hr"))).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    picks = [
        (1, "greatest(1, n div 100)"),
        (10, "greatest(1, n div 10)"),
        (50, "greatest(1, n div 2)"),
        (90, "greatest(1, 9 * n div 10)"),
        (99, "greatest(1, 99 * n div 100)"),
    ]
    # r11: ONE pass over the ranked frame — per row, keep the picks whose
    # target rank equals this row's rn and explode them — instead of five
    # unionByName branches each re-executing the hourly rollup + both rank
    # windows. rn is a row_number and each target is a per-frame constant,
    # so exactly one row matches each pick, as before.
    pick_arr = F.array(
        *[
            F.struct(
                F.lit(pct).alias("pct"),
                F.expr(expr).cast("long").alias("target"),
            )
            for pct, expr in picks
        ]
    )
    return (
        ranked.select(
            "x",
            F.explode(
                F.filter(pick_arr, lambda p: p["target"] == F.col("rn"))
            ).alias("p"),
        )
        .select(F.col("p.pct").alias("pct"), F.col("x").alias("load_value"))
        .orderBy("pct")
    )
