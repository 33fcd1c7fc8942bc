"""Wave-20: canonical-document selection, survival retention, chi-square.

pipeline_keep_best closes the dedup loop end-to-end: pairs
(dedup_ngram) → clusters (dedup_clusters) → ONE canonical survivor per
cluster chosen by QUALITY rather than by lowest id — what a production
corpus actually ships. Its oracle literally embeds dedup_clusters'
oracle as a CTE, so the two stages can never drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.llm import vector_extra  # noqa: F401  registers dedup_clusters
from data_ingestor_web_app_spark.registry import ORACLES, query


def _keep_best_oracle() -> str:
    clusters = ORACLES["dedup_clusters"]
    return f"""
    WITH clusters AS ({clusters}),
    quality AS (
        SELECT doc_id,
               ROUND(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) * 1.0
                     / LEN(STRING_SPLIT(text, ' ')), 6) AS q
        FROM documents
    ),
    ranked AS (
        SELECT c.cluster_rep, c.doc_id, q.q,
               ROW_NUMBER() OVER (PARTITION BY c.cluster_rep
                                  ORDER BY q.q DESC, c.doc_id) AS rk,
               COUNT(*) OVER (PARTITION BY c.cluster_rep) AS cluster_size
        FROM clusters c JOIN quality q ON q.doc_id = c.doc_id
    )
    SELECT cluster_rep, doc_id AS keeper, q AS keeper_quality, cluster_size
    FROM ranked WHERE rk = 1
    """


@query("pipeline_keep_best", oracle=_keep_best_oracle())
def pipeline_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-survivor selection per near-dup cluster: within each
    connected component from dedup_clusters, keep the HIGHEST-QUALITY
    document (distinct-token ratio, 6dp-rounded; tie → lowest id) instead
    of the arbitrary lowest-id keeper — duplicate groups should ship
    their cleanest member, not their first-crawled one.

    Scale shape: reuses the cluster labels (one Pregel-style label
    pipeline, shuffles keyed on node/edge ids), joins the per-doc quality
    projection on doc_id, and picks the per-cluster argmax via a window
    with the rn<=1 group limit — cluster cardinality is the partition, so
    no global sort. The oracle embeds dedup_clusters' oracle verbatim as
    a CTE: the composition is verified, not assumed."""
    from data_ingestor_web_app_spark.llm.vector_extra import dedup_clusters

    clusters = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_rep")
    toks = F.split("text", " ")
    quality = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.round(
            F.size(F.array_distinct(toks)) * 1.0 / F.size(toks), 6
        ).alias("q"),
    )
    joined = clusters.join(quality, "doc_id")
    w = Window.partitionBy("cluster_rep").orderBy(F.col("q").desc(), F.col("doc_id"))
    return (
        joined.select(
            "cluster_rep",
            "doc_id",
            "q",
            F.row_number().over(w).alias("rk"),
            F.count("*").over(Window.partitionBy("cluster_rep")).alias("cluster_size"),
        )
        .where(F.col("rk") == 1)
        .select(
            "cluster_rep",
            F.col("doc_id").alias("keeper"),
            F.col("q").alias("keeper_quality"),
            "cluster_size",
        )
    )


@query(
    "events_survival_retention",
    oracle="""
    WITH spans AS (
        SELECT user_id,
               DATEDIFF('day', MIN(CAST(ts AS DATE)), MAX(CAST(ts AS DATE)))
                   AS span
        FROM events GROUP BY user_id
    ),
    total AS (SELECT COUNT(*) AS n FROM spans),
    ks AS (SELECT UNNEST(RANGE(0, 14)) AS k)
    SELECT ks.k,
           COUNT(CASE WHEN s.span >= ks.k THEN 1 END) AS n_surviving,
           ROUND(COUNT(CASE WHEN s.span >= ks.k THEN 1 END) * 1.0 / t.n, 6)
               AS survival_rate
    FROM ks CROSS JOIN spans s CROSS JOIN total t
    GROUP BY ks.k, t.n
    """,
)
def events_survival_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User survival curve: fraction of users whose activity span (first
    to last event day) reaches at least k days, for k = 0..13 — the
    retention curve a growth team reads before any cohort split.

    Scale shape: spans are one groupBy(user_id) with MIN/MAX partials;
    the curve is a 14-way replicated aggregate over the (small) per-user
    span table — raw events are scanned once. In SQL terms this is a
    survival function computed from sufficient statistics, not from
    event-level scans per k."""
    e = table(spark, sf_dir, "events")
    spans = e.groupBy("user_id").agg(
        F.datediff(
            F.max(F.col("ts").cast("date")), F.min(F.col("ts").cast("date"))
        ).alias("span")
    )
    # user count folded in as a 1-row broadcast (no build-time job)
    totalf = spans.agg(F.count("*").cast("long").alias("total"))
    ks = spark.range(0, 14).select(F.col("id").alias("k"))
    return (
        ks.crossJoin(spans)
        .groupBy("k")
        .agg(
            F.count(F.when(F.col("span") >= F.col("k"), 1)).alias("n_surviving"),
        )
        .crossJoin(F.broadcast(totalf))
        .select(
            "k",
            "n_surviving",
            F.round(F.col("n_surviving") * 1.0 / F.col("total"), 6).alias(
                "survival_rate"
            ),
        )
    )


@query(
    "agg_chi_square",
    oracle="""
    WITH obs AS (
        SELECT user_id % 2 AS variant, event_type, COUNT(*) AS o
        FROM events GROUP BY user_id % 2, event_type
    ),
    rows_t AS (SELECT variant, SUM(o) AS rt FROM obs GROUP BY variant),
    cols_t AS (SELECT event_type, SUM(o) AS ct FROM obs GROUP BY event_type),
    n AS (SELECT SUM(o) AS n FROM obs),
    cells AS (
        SELECT obs.o, rows_t.rt * cols_t.ct * 1.0 / n.n AS e
        FROM obs
        JOIN rows_t ON rows_t.variant = obs.variant
        JOIN cols_t ON cols_t.event_type = obs.event_type
        CROSS JOIN n
    )
    SELECT COUNT(*) AS n_cells,
           ROUND(SUM((o - e) * (o - e) / e), 6) AS chi2,
           (SELECT (COUNT(DISTINCT variant) - 1) FROM obs)
             * (SELECT (COUNT(DISTINCT event_type) - 1) FROM obs) AS dof
    FROM cells
    """,
)
def agg_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between the hash-split variant and
    event type: observed vs expected cell counts from the contingency
    marginals, χ² = Σ(o−e)²/e with (r−1)(c−1) degrees of freedom —
    completing the experiment-analysis family (two-proportion z, Welch t,
    and categorical χ²).

    Scale shape: ONE groupBy over the contingency keys (|variants| x
    |types| cells) with map-side partials; marginals re-aggregate the
    tiny cell table; everything downstream is broadcast joins over
    frames smaller than a page."""
    obs = (
        table(spark, sf_dir, "events")
        .groupBy((F.col("user_id") % 2).alias("variant"), "event_type")
        .agg(F.count("*").alias("o"))
    )
    rows_t = obs.groupBy("variant").agg(F.sum("o").alias("rt"))
    cols_t = obs.groupBy("event_type").agg(F.sum("o").alias("ct"))
    n = obs.agg(F.sum("o").alias("n"))
    cells = (
        obs.join(F.broadcast(rows_t), "variant")
        .join(F.broadcast(cols_t), "event_type")
        .crossJoin(F.broadcast(n))
        .select("o", (F.col("rt") * F.col("ct") * 1.0 / F.col("n")).alias("e"))
    )
    dims = obs.agg(
        ((F.countDistinct("variant") - 1) * (F.countDistinct("event_type") - 1)).alias(
            "dof"
        )
    )
    return (
        cells.agg(
            F.count("*").alias("n_cells"),
            F.round(F.sum((F.col("o") - F.col("e")) ** 2 / F.col("e")), 6).alias("chi2"),
        )
        .crossJoin(F.broadcast(dims))
    )
