"""Wave-271: the Goh-Barabasi burstiness-memory plane per event type
(the two-coordinate fingerprint of point processes) and a transitivity
/ closure audit of the near-duplicate similarity graph (how safe is
cluster-collapse by connected components?).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "events_goh_barabasi",
    oracle="""
    WITH ia AS (
        SELECT event_type,
               (epoch_us(ts) - LAG(epoch_us(ts))
                   OVER (PARTITION BY event_type ORDER BY ts, event_id))
                   / 1000000.0 AS tau,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY ts, event_id) AS rn0
        FROM events
    ),
    seq AS (
        SELECT event_type, tau,
               LEAD(tau) OVER (PARTITION BY event_type ORDER BY rn0)
                   AS tau_next
        FROM ia WHERE tau IS NOT NULL
    ),
    mom AS (
        SELECT event_type,
               CAST(COUNT(tau) AS BIGINT) AS n,
               AVG(tau) AS mu,
               SUM(tau * tau) AS s2,
               SUM(CASE WHEN tau_next IS NOT NULL THEN tau END) AS sx,
               SUM(CASE WHEN tau_next IS NOT NULL THEN tau_next END) AS sy,
               SUM(CASE WHEN tau_next IS NOT NULL THEN tau * tau END)
                   AS sxx,
               SUM(CASE WHEN tau_next IS NOT NULL
                        THEN tau_next * tau_next END) AS syy,
               SUM(tau * tau_next) AS sxy,
               CAST(SUM(CASE WHEN tau_next IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS np
        FROM seq GROUP BY event_type
    )
    SELECT event_type, n AS n_intervals,
           ROUND(mu, 6) AS mean_tau_s,
           ROUND((SQRT(s2 / n - mu * mu) - mu)
                 / (SQRT(s2 / n - mu * mu) + mu), 6) AS burstiness_b,
           ROUND((np * sxy - sx * sy)
                 / SQRT((np * sxx - sx * sx) * (np * syy - sy * sy)), 6)
               AS memory_m
    FROM mom ORDER BY event_type
    """,
)
def events_goh_barabasi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The burstiness-memory plane (Goh & Barabasi, EPL 2008, public)
    per event type: B = (sigma - mu)/(sigma + mu) of the interarrival
    times (B = 0 Poisson, B -> 1 extreme bursts, B < 0 pacemaker) and
    M = Pearson correlation of CONSECUTIVE interarrivals (do long gaps
    follow long gaps?). The (B, M) pair separates mechanisms that a
    Fano factor (events_burstiness) alone conflates: heavy-tailed
    gaps (high B, M ~ 0) vs correlated clustering (M > 0) — the
    difference between "users are heterogeneous" and "load is
    self-exciting", which need different capacity answers.

    Exactness device: interarrivals are exact integer micro diffs over
    a (ts, event_id) total order; consecutive pairing is a LEAD over
    the interval sequence; B and M are single rounded moment chains.

    Scale shape: per-type windows (keyed partitions), one rollup."""
    e = table(spark, sf_dir, "events")
    wt = Window.partitionBy("event_type").orderBy("ts", "event_id")
    ia = e.select(
        "event_type",
        (
            (F.expr("unix_micros(ts)") - F.lag(F.expr("unix_micros(ts)")).over(wt))
            / 1000000.0
        ).alias("tau"),
        F.row_number().over(wt).alias("rn0"),
    ).where(F.col("tau").isNotNull())
    wseq = Window.partitionBy("event_type").orderBy("rn0")
    seq = ia.select(
        "event_type", "tau", F.lead("tau").over(wseq).alias("tau_next")
    )
    mom = seq.groupBy("event_type").agg(
        F.count("tau").cast("long").alias("n"),
        F.avg("tau").alias("mu"),
        F.sum(F.col("tau") * F.col("tau")).alias("s2"),
        F.sum(
            F.when(F.col("tau_next").isNotNull(), F.col("tau"))
        ).alias("sx"),
        F.sum(
            F.when(F.col("tau_next").isNotNull(), F.col("tau_next"))
        ).alias("sy"),
        F.sum(
            F.when(
                F.col("tau_next").isNotNull(), F.col("tau") * F.col("tau")
            )
        ).alias("sxx"),
        F.sum(
            F.when(
                F.col("tau_next").isNotNull(),
                F.col("tau_next") * F.col("tau_next"),
            )
        ).alias("syy"),
        F.sum(F.col("tau") * F.col("tau_next")).alias("sxy"),
        F.sum(F.when(F.col("tau_next").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("np"),
    )
    sigma = F.sqrt(F.col("s2") / F.col("n") - F.col("mu") * F.col("mu"))
    m_num = F.col("np") * F.col("sxy") - F.col("sx") * F.col("sy")
    m_den = F.sqrt(
        (F.col("np") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("np") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return mom.select(
        "event_type",
        F.col("n").alias("n_intervals"),
        F.round("mu", 6).alias("mean_tau_s"),
        F.round((sigma - F.col("mu")) / (sigma + F.col("mu")), 6).alias(
            "burstiness_b"
        ),
        F.round(m_num / m_den, 6).alias("memory_m"),
    ).orderBy("event_type")


_J_THRESH = 0.5


@query(
    "dedup_transitivity_audit",
    oracle=f"""
    WITH docs AS (
        SELECT doc_id, lang,
               LEN(STRING_SPLIT(text, ' ')) // 20 AS lb,
               LIST_SORT(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS toks
        FROM documents
    ),
    pairs AS (
        SELECT a.doc_id AS u, b.doc_id AS v
        FROM docs a JOIN docs b
          ON b.lang = a.lang AND b.lb = a.lb AND a.doc_id < b.doc_id
        WHERE LEN(LIST_INTERSECT(a.toks, b.toks))
              >= {_J_THRESH!r} * (LEN(a.toks) + LEN(b.toks)
                                  - LEN(LIST_INTERSECT(a.toks, b.toks)))
    ),
    und AS (
        SELECT u, v FROM pairs
    ),
    deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS k
        FROM (SELECT u AS node FROM und UNION ALL SELECT v FROM und)
        GROUP BY node
    ),
    tri AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_tri
        FROM und e1 JOIN und e2 ON e2.u = e1.v
        JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    wed AS (
        SELECT CAST(SUM(k * (k - 1) / 2) AS BIGINT) AS n_wedges FROM deg
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM und) AS n_pairs,
           w.n_wedges, t.n_tri AS n_triangles,
           CASE WHEN w.n_wedges = 0 THEN 1.0
                ELSE ROUND(3.0 * t.n_tri / w.n_wedges, 6) END AS closure
    FROM wed w CROSS JOIN tri t
    """,
)
def dedup_transitivity_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Transitivity audit of the near-duplicate graph (token-set
    Jaccard >= 0.5 within (lang, length-bucket) blocks): global
    clustering 3*triangles/wedges of the similarity graph. Near-dup
    "clusters" are usually materialized by CONNECTED COMPONENTS
    (dedup_clusters, pipeline_dedup_survivorship) — which silently
    assumes the relation is close to transitive; a low closure number
    here means chains a~b~c with a !~ c, i.e. component-collapse is
    over-merging and survivorship should re-verify within clusters.
    That diagnostic is the audit every dedup pipeline should print.

    Exactness device: Jaccard as an integer cross-multiplication
    (|I| >= theta * (|A| + |B| - |I|) — no float division); triangle
    and wedge counting over the bounded pair set; one guarded ratio.

    Scale shape: blocked self-join (the dedup_near discipline — never
    all-pairs), then triangle counting on the sparse audited graph."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        (F.size(F.split("text", " ")) / 20).cast("long").alias("lb"),
        F.array_sort(F.array_distinct(F.split("text", " "))).alias("toks"),
    )
    a = d.select(
        F.col("doc_id").alias("u"),
        "lang",
        "lb",
        F.col("toks").alias("ta"),
    )
    b = d.select(
        F.col("doc_id").alias("v"),
        F.col("lang").alias("lang_b"),
        F.col("lb").alias("lb_b"),
        F.col("toks").alias("tb"),
    )
    inter = F.size(F.array_intersect(F.col("ta"), F.col("tb")))
    union_sz = F.size("ta") + F.size("tb") - inter
    pairs = (
        a.join(
            b,
            (F.col("lang_b") == F.col("lang"))
            & (F.col("lb_b") == F.col("lb"))
            & (F.col("u") < F.col("v")),
        )
        .where(inter >= _J_THRESH * union_sz)
        .select("u", "v")
    )
    deg = (
        pairs.select(F.col("u").alias("node"))
        .unionAll(pairs.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("k"))
    )
    e1 = pairs
    e2 = pairs.select(F.col("u").alias("u2"), F.col("v").alias("v2"))
    e3 = pairs.select(F.col("u").alias("u3"), F.col("v").alias("v3"))
    tri = (
        e1.join(e2, F.col("u2") == F.col("v"))
        .join(e3, (F.col("u3") == F.col("u")) & (F.col("v3") == F.col("v2")))
        .agg(F.count("*").cast("long").alias("n_tri"))
    )
    wed = deg.agg(
        F.sum(F.col("k") * (F.col("k") - 1) / 2)
        .cast("long")
        .alias("n_wedges")
    )
    npairs = pairs.agg(F.count("*").cast("long").alias("n_pairs"))
    return (
        npairs.crossJoin(F.broadcast(wed))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_pairs",
            "n_wedges",
            F.col("n_tri").alias("n_triangles"),
            F.when(F.col("n_wedges") == 0, F.lit(1.0))
            .otherwise(
                F.round(3.0 * F.col("n_tri") / F.col("n_wedges"), 6)
            )
            .alias("closure"),
        )
    )
