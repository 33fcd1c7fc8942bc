"""Wave-174: inter-rater agreement (Krippendorff's alpha), Markov-chain
entropy rate, and association-rule quality metrics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "agg_krippendorff_alpha",
    oracle="""
    WITH cnts AS (
        SELECT CAST(ts AS DATE) AS item, user_id % 2 AS rater, event_type,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2, 3
    ),
    labels AS (
        SELECT item, rater, event_type AS lbl FROM (
            SELECT item, rater, event_type,
                   ROW_NUMBER() OVER (PARTITION BY item, rater
                                      ORDER BY c DESC, event_type) AS rk
            FROM cnts) t
        WHERE rk = 1
    ),
    pairable AS (
        SELECT item FROM labels GROUP BY item HAVING COUNT(*) = 2
    ),
    units AS (
        SELECT l.item, l.rater, l.lbl
        FROM labels l JOIN pairable p ON p.item = l.item
    ),
    pairs AS (
        SELECT a.lbl AS la, b.lbl AS lb
        FROM units a JOIN units b
          ON a.item = b.item AND a.rater <> b.rater
    ),
    do_ AS (
        SELECT AVG(CASE WHEN la <> lb THEN 1e0 ELSE 0e0 END) AS d_obs,
               CAST(COUNT(*) AS BIGINT) AS n_paired
        FROM pairs
    ),
    marg AS (
        SELECT lbl, CAST(COUNT(*) AS BIGINT) AS c FROM units GROUP BY lbl
    ),
    de AS (
        SELECT 1e0 - SUM(c * (c - 1e0))
               / ((SELECT SUM(c) FROM marg) * ((SELECT SUM(c) FROM marg) - 1e0))
               AS d_exp
        FROM marg
    )
    SELECT do_.n_paired,
           ROUND(do_.d_obs, 6) AS d_observed,
           ROUND(de.d_exp, 6) AS d_expected,
           ROUND(1 - do_.d_obs / de.d_exp, 6) AS alpha
    FROM do_ CROSS JOIN de
    """,
)
def agg_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha, nominal data, two raters (Krippendorff 1970,
    public — the content-analysis reliability standard that, unlike
    Cohen's/Fleiss' kappa, generalizes across rater counts and missing
    data): alpha = 1 − D_obs/D_exp, with observed disagreement averaged
    over all orderable rating pairs per unit and expected disagreement
    from the pooled label marginals (c·(c−1) coincidences). Units are
    days; "raters" are the two user-parity halves; each rater's label is
    its modal event type for the day (ties toward the smaller label) —
    the agreement question is "do both halves see the same dominant
    activity?".

    Determinism: modal labels have total-order tie-breaks; coincidence
    and marginal counts are exact; two rounded divisions.

    Scale shape: label assignment is windowed per (day, half); the pair
    table is 2 rows per day; marginals are one groupBy."""
    e = table(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("item"),
        (F.col("user_id") % 2).alias("rater"),
        "event_type",
    )
    counts = e.groupBy("item", "rater", "event_type").agg(
        F.count("*").alias("c")
    )
    w = Window.partitionBy("item", "rater").orderBy(
        F.col("c").desc(), "event_type"
    )
    labels = (
        counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("item", "rater", F.col("event_type").alias("lbl"))
    )
    pairable = (
        labels.groupBy("item").agg(F.count("*").alias("k")).where(F.col("k") == 2)
    )
    units = labels.join(pairable.select("item"), "item")
    a = units.select("item", F.col("rater").alias("ra"), F.col("lbl").alias("la"))
    b = units.select("item", F.col("rater").alias("rb"), F.col("lbl").alias("lb"))
    pairs = a.join(b, "item").where(F.col("ra") != F.col("rb"))
    do_ = pairs.agg(
        F.avg((F.col("la") != F.col("lb")).cast("double")).alias("d_obs"),
        F.count("*").cast("long").alias("n_paired"),
    )
    marg = units.groupBy("lbl").agg(F.count("*").cast("long").alias("c"))
    tot = marg.agg(
        F.sum("c").alias("n"),
        F.sum(F.col("c") * (F.col("c") - F.lit(1.0))).alias("coinc"),
    )
    de = tot.select(
        (1 - F.col("coinc") / (F.col("n") * (F.col("n") - F.lit(1.0)))).alias("d_exp")
    )
    return (
        do_.crossJoin(F.broadcast(de))
        .select(
            "n_paired",
            F.round("d_obs", 6).alias("d_observed"),
            F.round("d_exp", 6).alias("d_expected"),
            F.round(1 - F.col("d_obs") / F.col("d_exp"), 6).alias("alpha"),
        )
    )


@query(
    "events_markov_entropy_rate",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS nxt
        FROM events
    ),
    trans AS (
        SELECT event_type AS a, nxt AS b, CAST(COUNT(*) AS BIGINT) AS c
        FROM seq WHERE nxt IS NOT NULL GROUP BY event_type, nxt
    ),
    row_tot AS (
        SELECT a, CAST(SUM(c) AS BIGINT) AS ra FROM trans GROUP BY a
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM trans)
    SELECT (SELECT n FROM tot) AS n_transitions,
           CAST(COUNT(DISTINCT t.a) AS BIGINT) AS n_states,
           ROUND(-SUM((t.c * 1e0 / (SELECT n FROM tot))
                      * LN(t.c * 1e0 / r.ra)), 6) AS entropy_rate_nats,
           ROUND(LN(CAST(COUNT(DISTINCT t.a) AS DOUBLE)), 6) AS max_entropy_nats
    FROM trans t JOIN row_tot r ON r.a = t.a
    """,
)
def events_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the per-user event-type Markov chain (Shannon
    1948, public): H = −Σ_ij π̂_ij · ln P(j|i), with the joint transition
    frequency as the stationary weight — how many nats of surprise each
    next action carries given the current one. Compared against ln(k),
    the i.i.d.-uniform ceiling: the gap is how much the chain structure
    compresses user behavior (the sequel to events_markov_transitions,
    which emits the matrix this summarizes).

    Determinism: transitions counted over the total (ts, event_id)
    order; each ln is one libm call on an exact count ratio; the final
    sum is rounded 6dp.

    Scale shape: one lead window per user, two grouped counts, a
    k²-row weighted sum."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lead("event_type").over(w).alias("nxt")
    ).where(F.col("nxt").isNotNull())
    trans = seq.groupBy(
        F.col("event_type").alias("a"), F.col("nxt").alias("b")
    ).agg(F.count("*").cast("long").alias("c"))
    row_tot = trans.groupBy("a").agg(F.sum("c").cast("long").alias("ra"))
    tot = trans.agg(F.sum("c").cast("long").alias("n"))
    joined = trans.join(row_tot, "a").crossJoin(F.broadcast(tot))
    h = -F.sum(
        (F.col("c") * F.lit(1.0) / F.col("n"))
        * F.log(F.col("c") * F.lit(1.0) / F.col("ra"))
    )
    return joined.agg(
        F.first("n").alias("n_transitions"),
        F.count_distinct("a").cast("long").alias("n_states"),
        F.round(h, 6).alias("entropy_rate_nats"),
        F.round(F.log(F.count_distinct("a").cast("double")), 6).alias(
            "max_entropy_nats"
        ),
    )


@query(
    "basket_rule_metrics",
    oracle="""
    WITH baskets AS (
        SELECT l_orderkey, l_partkey % 50 AS item
        FROM lineitem GROUP BY l_orderkey, l_partkey % 50
    ),
    n_b AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n FROM baskets),
    item_supp AS (
        SELECT item, CAST(COUNT(*) AS BIGINT) AS s FROM baskets GROUP BY item
    ),
    pair_supp AS (
        SELECT a.item AS ante, b.item AS cons, CAST(COUNT(*) AS BIGINT) AS s_ab
        FROM baskets a JOIN baskets b
          ON a.l_orderkey = b.l_orderkey AND a.item <> b.item
        GROUP BY a.item, b.item
    ),
    scored AS (
        SELECT p.ante, p.cons, p.s_ab,
               p.s_ab * 1e0 / sa.s AS confidence,
               (p.s_ab * 1e0 / sa.s) / (sb.s * 1e0 / nb.n) AS lift,
               p.s_ab * 1e0 / nb.n
                   - (sa.s * 1e0 / nb.n) * (sb.s * 1e0 / nb.n) AS leverage,
               CASE WHEN p.s_ab = sa.s THEN NULL
                    ELSE (1 - sb.s * 1e0 / nb.n)
                         / (1 - p.s_ab * 1e0 / sa.s) END AS conviction
        FROM pair_supp p
        JOIN item_supp sa ON sa.item = p.ante
        JOIN item_supp sb ON sb.item = p.cons
        CROSS JOIN n_b nb
    )
    SELECT ante, cons, s_ab,
           ROUND(confidence, 6) AS confidence,
           ROUND(lift, 6) AS lift,
           ROUND(leverage, 6) AS leverage,
           ROUND(conviction, 6) AS conviction
    FROM (
        SELECT scored.*,
               ROW_NUMBER() OVER (ORDER BY lift DESC, ante, cons) AS rk
        FROM scored) t
    WHERE rk <= 15
    """,
)
def basket_rule_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule quality metrics (Agrawal et al. 1993 lineage;
    conviction from Brin et al. 1997, public) for ante→cons item-group
    pairs in order baskets: confidence P(cons|ante), lift over
    independence, leverage (the additive version of lift), and conviction
    (1−P(cons))/(1−conf) — ∞-style certainty encoded as NULL when
    confidence is exactly 1. Items are partkey mod 50 groups (basket
    density high enough for meaningful co-occurrence); top-15 rules by
    lift with total-order tie-breaks. The RULE-metric sequel to
    basket_apriori_itemsets (which mines the frequent sets these rules
    are drawn from).

    Determinism: all supports exact integers; metric chains rounded 6dp;
    the conviction NULL-guard is identical in both engines.

    Scale shape: the pair join is within-basket (keyed on orderkey) over
    deduped (basket, item) rows — bounded by Σ basket_size², the apriori
    candidate bound; supports are groupBys; top-15 is a heap."""
    li = table(spark, sf_dir, "lineitem")
    baskets = li.select(
        "l_orderkey", (F.col("l_partkey") % 50).alias("item")
    ).distinct()
    n_b = baskets.agg(F.count_distinct("l_orderkey").cast("long").alias("n"))
    item_supp = baskets.groupBy("item").agg(F.count("*").cast("long").alias("s"))
    a = baskets.select("l_orderkey", F.col("item").alias("ante"))
    b = baskets.select("l_orderkey", F.col("item").alias("cons"))
    pair_supp = (
        a.join(b, "l_orderkey")
        .where(F.col("ante") != F.col("cons"))
        .groupBy("ante", "cons")
        .agg(F.count("*").cast("long").alias("s_ab"))
    )
    sa = item_supp.select(F.col("item").alias("ante"), F.col("s").alias("s_a"))
    sb = item_supp.select(F.col("item").alias("cons"), F.col("s").alias("s_b"))
    scored = (
        pair_supp.join(F.broadcast(sa), "ante")
        .join(F.broadcast(sb), "cons")
        .crossJoin(F.broadcast(n_b))
    )
    conf = F.col("s_ab") * F.lit(1.0) / F.col("s_a")
    lift = conf / (F.col("s_b") * F.lit(1.0) / F.col("n"))
    lev = F.col("s_ab") * F.lit(1.0) / F.col("n") - (
        F.col("s_a") * F.lit(1.0) / F.col("n")
    ) * (F.col("s_b") * F.lit(1.0) / F.col("n"))
    conv = F.when(
        F.col("s_ab") == F.col("s_a"), F.lit(None).cast("double")
    ).otherwise((1 - F.col("s_b") * F.lit(1.0) / F.col("n")) / (1 - conf))
    w = Window.orderBy(lift.desc(), "ante", "cons")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 15)
        .select(
            "ante",
            "cons",
            "s_ab",
            F.round(conf, 6).alias("confidence"),
            F.round(lift, 6).alias("lift"),
            F.round(lev, 6).alias("leverage"),
            F.round(conv, 6).alias("conviction"),
        )
    )
