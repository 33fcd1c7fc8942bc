"""Wave-109: Markov removal-effect attribution, partial correlation,
and user-journey perplexity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

# transient channels and the absorbing conversion state
_CH = ("click", "error", "signup", "view")
_CONV = "purchase"
_ITERS = 8


def _removal_oracle() -> str:
    st = _CH
    k = len(st)
    # transition prob columns p_i_j (transient->transient) and p_i_c
    # (transient->conversion); row denominator counts every outgoing
    # bigram plus a terminal 'end' for journey-final events
    pcols = []
    for i, a in enumerate(st):
        denom = f"SUM(CASE WHEN prev = '{a}' THEN 1 ELSE 0 END)"
        for j, b in enumerate(st):
            pcols.append(
                f"CAST(SUM(CASE WHEN prev = '{a}' AND nxt = '{b}' THEN 1 ELSE 0 END)"
                f" AS DOUBLE) / NULLIF({denom}, 0) AS p_{i}_{j}"
            )
        pcols.append(
            f"CAST(SUM(CASE WHEN prev = '{a}' AND nxt = '{_CONV}' THEN 1 ELSE 0 END)"
            f" AS DOUBLE) / NULLIF({denom}, 0) AS p_{i}_c"
        )
    pblock = ",\n               ".join(pcols)

    scenarios = [("base", None)] + [(f"rm{r}", r) for r in range(k)]
    # seed CTE: v0 + a0 for every scenario (plain columns, no recursion)
    seeds = []
    for tag, removed in scenarios:
        kept = [i for i in range(k) if i != removed]
        for i in range(k):
            val = 1.0 / len(kept) if i in kept else 0.0
            seeds.append(f"CAST({val} AS DOUBLE) AS {tag}_v_{i}")
        seeds.append(f"CAST(0.0 AS DOUBLE) AS {tag}_a")
    seed_block = ",\n               ".join(seeds)
    # one MATERIALIZED CTE per iteration — each new column references the
    # PREVIOUS CTE's columns by name, so no engine inline-expands the
    # recurrence exponentially (a single lateral-alias chain would)
    step_ctes = []
    for t in range(1, _ITERS + 1):
        cols = []
        for tag, removed in scenarios:
            conv_terms = " + ".join(
                f"{tag}_v_{i} * COALESCE(p_{i}_c, 0)"
                for i in range(k)
                if not (removed is not None and i == removed)
            )
            for j in range(k):
                if removed is not None and j == removed:
                    cols.append(f"CAST(0.0 AS DOUBLE) AS {tag}_v_{j}")
                else:
                    terms = " + ".join(
                        f"{tag}_v_{i} * COALESCE(p_{i}_{j}, 0)"
                        for i in range(k)
                        if not (removed is not None and i == removed)
                    )
                    cols.append(f"({terms}) AS {tag}_v_{j}")
            cols.append(f"{tag}_a + ({conv_terms}) AS {tag}_a")
        p_cols = ", ".join(
            [f"p_{i}_{j}" for i in range(k) for j in range(k)]
            + [f"p_{i}_c" for i in range(k)]
        )
        col_block = ",\n               ".join(cols)
        step_ctes.append(
            f"it{t} AS MATERIALIZED (\n        SELECT {p_cols},\n               "
            f"{col_block}\n        FROM it{t - 1}\n    )"
        )
    steps_block = ",\n    ".join(step_ctes)
    outs = "\n        UNION ALL\n        ".join(
        f"SELECT '{st[r]}' AS channel, "
        f"ROUND(rm{r}_a, 6) AS conv_prob_removed, "
        f"ROUND(base_a, 6) AS conv_prob_base, "
        f"ROUND(1.0 - rm{r}_a / base_a, 6) AS removal_effect"
        f" FROM it{_ITERS}"
        for r in range(k)
    )
    return f"""
    WITH seq AS (
        SELECT user_id, event_type AS nxt,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
        FROM events
    ),
    p AS (
        SELECT {pblock}
        FROM seq WHERE prev IS NOT NULL
    ),
    it0 AS MATERIALIZED (
        SELECT *,
               {seed_block}
        FROM p
    ),
    {steps_block}
    SELECT channel, conv_prob_removed, conv_prob_base, removal_effect FROM (
        {outs}
    ) ORDER BY channel
    """


@query("events_attribution_markov_removal", oracle=_removal_oracle())
def events_attribution_markov_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution (Anderl et al. 2014, public):
    model user journeys as a first-order chain over the four
    non-purchase channels with purchase as the absorbing conversion,
    compute the 8-step absorption probability from a uniform start, and
    re-compute it with each channel REMOVED (its row and column deleted
    — journeys through it die): the relative drop 1 - P_removed/P_base
    is the channel's removal effect — the data-driven attribution
    model that completes the registry's last-touch / position /
    Shapley family with the path-based answer.

    Determinism: the 4x5 transition block pivots into exact-ratio
    columns via conditional aggregation, and all FIVE absorption walks
    (base + 4 removals) are UNROLLED lateral-alias chains — every
    vector update is a fixed-order 4-term expression, so both engines
    run identical arithmetic; display rounds 6dp.

    Scale shape: one per-user LAG + one conditional aggregate to ~20
    cells; the 5 x 8 iteration lattice is constant-size arithmetic on
    one row. K channels scale as K² columns, not passes."""
    seq = table(spark, sf_dir, "events").select(
        F.col("event_type").alias("nxt"),
        F.lag("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("prev"),
    ).where(F.col("prev").isNotNull())
    k = len(_CH)
    aggs = []
    for i, a in enumerate(_CH):
        denom = F.sum(F.when(F.col("prev") == a, 1).otherwise(0))
        for j, b in enumerate(_CH):
            num = F.sum(F.when((F.col("prev") == a) & (F.col("nxt") == b), 1).otherwise(0))
            aggs.append((num.cast("double") / F.nullif(denom, F.lit(0))).alias(f"p_{i}_{j}"))
        numc = F.sum(
            F.when((F.col("prev") == a) & (F.col("nxt") == _CONV), 1).otherwise(0)
        )
        aggs.append((numc.cast("double") / F.nullif(denom, F.lit(0))).alias(f"p_{i}_c"))
    p = seq.agg(*aggs)

    # The transition block is a BOUNDED collect (one row, ~20 doubles) —
    # the sanctioned small-collect posture: distributed engines solve the
    # tiny absorption system centrally (as MLlib does for its normal
    # equations). The Python walk mirrors the oracle's exact fixed-order
    # arithmetic: term i ascending, summed left-to-right. An unrolled
    # 45-layer column-chain plan is analyzer-hostile in Spark (minutes of
    # planning), hence this shape.
    row = p.first().asDict()

    def walk(removed):
        kept = [i for i in range(k) if i != removed]
        v = [1.0 / len(kept) if i in kept else 0.0 for i in range(k)]
        a = 0.0
        for _t in range(_ITERS):
            conv = 0.0
            for i in range(k):
                if i == removed:
                    continue
                pc = row.get(f"p_{i}_c")
                conv += v[i] * (pc if pc is not None else 0.0)
            new_v = []
            for j in range(k):
                if j == removed:
                    new_v.append(0.0)
                    continue
                s = 0.0
                for i in range(k):
                    if i == removed:
                        continue
                    pij = row.get(f"p_{i}_{j}")
                    s += v[i] * (pij if pij is not None else 0.0)
                new_v.append(s)
            a += conv
            v = new_v
        return a

    base = walk(None)
    out_rows = [
        (_CH[r], walk(r), base, 1.0 - walk(r) / base) for r in range(k)
    ]
    raw = spark.createDataFrame(
        sorted(out_rows),
        "channel string, conv_prob_removed double, conv_prob_base double, "
        "removal_effect double",
    )
    # round IN SPARK (HALF_UP = away-from-zero, matching DuckDB ROUND) —
    # Python round() would be banker's
    return raw.select(
        "channel",
        F.round("conv_prob_removed", 6).alias("conv_prob_removed"),
        F.round("conv_prob_base", 6).alias("conv_prob_base"),
        F.round("removal_effect", 6).alias("removal_effect"),
    ).orderBy("channel")


@query(
    "agg_partial_correlation",
    oracle="""
    WITH x AS (
        SELECT CAST(l_quantity AS BIGINT) AS a,
               CAST(ROUND(l_discount * 100) AS BIGINT) AS b,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS c
        FROM lineitem
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(a) AS BIGINT) AS sa, CAST(SUM(b) AS BIGINT) AS sb,
               CAST(SUM(c) AS BIGINT) AS sc,
               CAST(SUM(a * a) AS BIGINT) AS saa,
               CAST(SUM(b * b) AS BIGINT) AS sbb,
               CAST(SUM(CAST(c AS HUGEINT) * c) AS DOUBLE) AS scc,
               CAST(SUM(a * b) AS BIGINT) AS sab,
               CAST(SUM(a * c) AS BIGINT) AS sac,
               CAST(SUM(b * c) AS BIGINT) AS sbc
        FROM x
    ),
    r AS (
        SELECT
          (CAST(n AS DOUBLE) * sab - CAST(sa AS DOUBLE) * sb)
            / SQRT((CAST(n AS DOUBLE) * saa - CAST(sa AS DOUBLE) * sa)
                   * (CAST(n AS DOUBLE) * sbb - CAST(sb AS DOUBLE) * sb)) AS rab,
          (CAST(n AS DOUBLE) * sac - CAST(sa AS DOUBLE) * sc)
            / SQRT((CAST(n AS DOUBLE) * saa - CAST(sa AS DOUBLE) * sa)
                   * (CAST(n AS DOUBLE) * scc - CAST(sc AS DOUBLE) * sc)) AS rac,
          (CAST(n AS DOUBLE) * sbc - CAST(sb AS DOUBLE) * sc)
            / SQRT((CAST(n AS DOUBLE) * sbb - CAST(sb AS DOUBLE) * sb)
                   * (CAST(n AS DOUBLE) * scc - CAST(sc AS DOUBLE) * sc)) AS rbc,
          n
        FROM m
    )
    SELECT n,
           ROUND(rab, 6) AS r_qty_disc,
           ROUND(rac, 6) AS r_qty_price,
           ROUND(rbc, 6) AS r_disc_price,
           ROUND((rab - rac * rbc)
                 / SQRT((1 - rac * rac) * (1 - rbc * rbc)), 6)
               AS partial_r_qty_disc_given_price
    FROM r
    """,
)
def agg_partial_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial correlation (Yule 1907, public): the quantity-discount
    correlation with extended price HELD CONSTANT, from the closed form
    r_ab.c = (r_ab - r_ac·r_bc)/sqrt((1-r_ac²)(1-r_bc²)) — the
    multivariate step beyond agg_corr_covar that separates direct
    association from the share explained by a confounder. (In this
    synthetic fixture the three columns are near-independent, so the
    partial tracks the raw correlation — the interesting case arrives
    with real confounded data; the machinery is what this op pins.)

    Determinism: all nine cross-moments are exact integers (price
    squares in HUGEINT/DECIMAL(38,0)); the three Pearson r's and the
    partial are fixed double formulas rounded 6dp.

    Scale shape: one projection + one 10-partial scalar aggregate —
    K variables need K(K+3)/2 sums, one pass."""
    x = table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("a"),
        F.round(F.col("l_discount") * 100).cast("long").alias("b"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("c"),
    )
    m = x.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("a").cast("long").alias("sa"),
        F.sum("b").cast("long").alias("sb"),
        F.sum("c").cast("long").alias("sc"),
        F.sum(F.col("a") * F.col("a")).cast("long").alias("saa"),
        F.sum(F.col("b") * F.col("b")).cast("long").alias("sbb"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).cast("double").alias("scc"),
        F.sum(F.col("a") * F.col("b")).cast("long").alias("sab"),
        F.sum(F.col("a") * F.col("c")).cast("long").alias("sac"),
        F.sum(F.col("b") * F.col("c")).cast("long").alias("sbc"),
    )
    nd = F.col("n").cast("double")

    def corr(sxy, sx, sy, sxx, syy):
        return (nd * F.col(sxy) - F.col(sx).cast("double") * F.col(sy)) / F.sqrt(
            (nd * F.col(sxx) - F.col(sx).cast("double") * F.col(sx))
            * (nd * F.col(syy) - F.col(sy).cast("double") * F.col(sy))
        )

    r = m.select(
        "n",
        corr("sab", "sa", "sb", "saa", "sbb").alias("rab"),
        corr("sac", "sa", "sc", "saa", "scc").alias("rac"),
        corr("sbc", "sb", "sc", "sbb", "scc").alias("rbc"),
    )
    return r.select(
        "n",
        F.round("rab", 6).alias("r_qty_disc"),
        F.round("rac", 6).alias("r_qty_price"),
        F.round("rbc", 6).alias("r_disc_price"),
        F.round(
            (F.col("rab") - F.col("rac") * F.col("rbc"))
            / F.sqrt((1 - F.col("rac") * F.col("rac")) * (1 - F.col("rbc") * F.col("rbc"))),
            6,
        ).alias("partial_r_qty_disc_given_price"),
    )


@query(
    "events_journey_perplexity",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type AS nxt,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
        FROM events
    ),
    bigrams AS (SELECT prev, nxt FROM seq WHERE prev IS NOT NULL),
    probs AS (
        SELECT prev, nxt, CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(COUNT(*)) OVER (PARTITION BY prev) AS BIGINT) AS cp
        FROM bigrams GROUP BY prev, nxt
    ),
    scored AS (
        SELECT b.prev, b.nxt,
               CAST(FLOOR(LN(CAST(p.c AS DOUBLE) / p.cp) * 1000000) AS BIGINT)
                   AS ll_scaled
        FROM bigrams b JOIN probs p ON p.prev = b.prev AND p.nxt = b.nxt
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_transitions,
               CAST(SUM(ll_scaled) AS BIGINT) AS ll_sum
        FROM scored
    )
    SELECT n_transitions,
           ROUND(-CAST(ll_sum AS DOUBLE) / 1000000 / n_transitions, 6)
               AS cross_entropy_nats,
           ROUND(EXP(-CAST(ll_sum AS DOUBLE) / 1000000 / n_transitions), 6)
               AS perplexity
    FROM agg
    """,
)
def events_journey_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Journey perplexity: the empirical cross-entropy of user
    event-type transitions under their own first-order Markov model,
    exponentiated to the LM-style perplexity — 'how predictable are
    user journeys?' (perplexity 1 = deterministic paths; |states| =
    uniform chaos). The behavioral twin of text_bigram_lm_score, and
    the summary number on top of events_markov_transitions.

    Determinism: transition probabilities are exact count ratios; each
    log-likelihood is floor-scaled to an integer at 1e6 (the
    Naive-Bayes discipline), so the corpus sum is exact BIGINT; one
    EXP at the end, rounded 6dp.

    Scale shape: per-user LAG, one groupBy to the transition matrix, a
    keyed join back (broadcastable — the matrix is |states|²), one
    integer-sum aggregate."""
    seq = (
        table(spark, sf_dir, "events")
        .select(
            F.col("event_type").alias("nxt"),
            F.lag("event_type")
            .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
            .alias("prev"),
        )
        .where(F.col("prev").isNotNull())
    )
    probs = (
        seq.groupBy("prev", "nxt")
        .agg(F.count("*").cast("long").alias("c"))
        .withColumn(
            "cp", F.sum("c").over(Window.partitionBy("prev")).cast("long")
        )
    )
    scored = seq.join(F.broadcast(probs), ["prev", "nxt"]).select(
        F.floor(F.log(F.col("c").cast("double") / F.col("cp")) * 1000000)
        .cast("long")
        .alias("ll_scaled")
    )
    agg = scored.agg(
        F.count("*").cast("long").alias("n_transitions"),
        F.sum("ll_scaled").cast("long").alias("ll_sum"),
    )
    h = -F.col("ll_sum").cast("double") / 1000000 / F.col("n_transitions")
    return agg.select(
        "n_transitions",
        F.round(h, 6).alias("cross_entropy_nats"),
        F.round(F.exp(h), 6).alias("perplexity"),
    )
