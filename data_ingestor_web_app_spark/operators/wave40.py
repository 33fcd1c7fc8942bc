"""Wave-40: k-anonymity audit, feature hashing, try_* error-safe family.

Data-governance + ML-featurization + ANSI-mode ergonomics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "privacy_k_anonymity",
    oracle="""
    WITH cells AS (
        SELECT user_id // 100 AS age_band,
               event_type,
               STRFTIME(CAST(ts AS DATE), '%w') AS dow,
               COUNT(*) AS cell_n,
               COUNT(DISTINCT user_id) AS cell_users
        FROM events
        GROUP BY 1, 2, 3
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(CASE WHEN cell_users < 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS cells_below_k,
           CAST(SUM(CASE WHEN cell_users < 5 THEN cell_n ELSE 0 END) AS BIGINT)
               AS rows_at_risk,
           CAST(MIN(cell_users) AS BIGINT) AS min_cell_users,
           ROUND(SUM(CASE WHEN cell_users < 5 THEN cell_n ELSE 0 END) * 1.0
                 / SUM(cell_n), 6) AS risk_fraction
    FROM cells
    """,
)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (k=5) over the quasi-identifier tuple
    (user-id band, event type, day-of-week): how many QI cells have
    fewer than k distinct users, how many rows they expose, and the
    overall re-identification risk fraction — the release-gate check a
    data-governance pipeline runs before publishing an extract (cells
    below k get suppressed or generalized).

    Scale shape: one groupBy over the QI tuple (map-side combined; the
    distinct-user count is the honest cost — HLL at extreme scale), then
    a scalar rollup over the cell frame."""
    e = table(spark, sf_dir, "events")
    # dow via dayofweek-1 (Sun=0) to match DuckDB STRFTIME %w
    cells = (
        e.groupBy(
            F.expr("user_id div 100").alias("age_band"),
            "event_type",
            (F.dayofweek(F.col("ts").cast("date")) - 1).cast("string").alias("dow"),
        )
        .agg(
            F.count("*").alias("cell_n"),
            F.countDistinct("user_id").alias("cell_users"),
        )
    )
    below = F.when(F.col("cell_users") < 5, 1).otherwise(0)
    at_risk = F.when(F.col("cell_users") < 5, F.col("cell_n")).otherwise(0)
    return cells.agg(
        F.count("*").alias("n_cells"),
        F.sum(below).cast("long").alias("cells_below_k"),
        F.sum(at_risk).cast("long").alias("rows_at_risk"),
        F.min("cell_users").cast("long").alias("min_cell_users"),
        F.round(F.sum(at_risk) * 1.0 / F.sum("cell_n"), 6).alias("risk_fraction"),
    )


@query(
    "text_feature_hashing",
    oracle="""
    WITH toks AS (
        SELECT doc_id, UNNEST(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS tok
        FROM documents WHERE doc_id < 500
    ),
    hashed AS (
        SELECT doc_id,
               CAST(CONCAT('0x', SUBSTR(MD5(tok || '|feat'), 1, 8)) AS BIGINT) % 64
                   AS slot
        FROM toks
    ),
    vec AS (
        SELECT doc_id, slot, COUNT(*) AS cnt FROM hashed GROUP BY doc_id, slot
    )
    SELECT doc_id,
           CAST(COUNT(*) AS INT) AS n_active_slots,
           CAST(SUM(cnt) AS BIGINT) AS total_hits,
           CAST(MAX(cnt) AS BIGINT) AS max_slot_load,
           CAST(SUM(slot * cnt) AS BIGINT) AS vector_checksum
    FROM vec GROUP BY doc_id
    """,
)
def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick (Weinberger et al. 2009, public): distinct
    tokens hash into 64 feature slots (engine-portable salted-MD5 slots,
    the pipeline_kfold_assign primitive), producing the sparse count
    vector a linear classifier consumes without any vocabulary table.
    Emitted as per-doc summaries (active slots, collision load, slot-
    weighted checksum) so the hash pins the EXACT vector contents.

    Scale shape: explode → two map-side-combined groupBys; no vocabulary
    broadcast, no global state — the whole point of feature hashing."""
    d = table(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    toks = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    )
    slot = (
        F.conv(F.substring(F.md5(F.concat(F.col("tok"), F.lit("|feat"))), 1, 8), 16, 10)
        .cast("long")
        % 64
    )
    vec = toks.select("doc_id", slot.alias("slot")).groupBy("doc_id", "slot").agg(
        F.count("*").alias("cnt")
    )
    return vec.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_active_slots"),
        F.sum("cnt").cast("long").alias("total_hits"),
        F.max("cnt").cast("long").alias("max_slot_load"),
        F.sum(F.col("slot") * F.col("cnt")).cast("long").alias("vector_checksum"),
    )


@query(
    "fn_try_family",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 10 = 0 THEN NULL
                ELSE ROUND(o_totalprice / (o_orderkey % 10), 6) END AS safe_div,
           TRY_CAST(CASE WHEN o_orderkey % 7 = 0 THEN o_orderstatus
                         ELSE CAST(o_orderkey AS VARCHAR) END AS BIGINT)
               AS maybe_num,
           TRY_CAST(SUBSTR(CAST(o_orderkey AS VARCHAR) || 'x', 1,
                           CASE WHEN o_orderkey % 3 = 0 THEN 20 ELSE 1 END)
                    AS BIGINT) AS digit_or_null
    FROM orders WHERE o_orderkey < 5000
    """,
)
def fn_try_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The try_* error-safe family under ANSI mode (Spark 4 default):
    try_divide (÷0 → NULL instead of DIVIDE_BY_ZERO), try_cast on
    sometimes-numeric strings — the idioms that keep a 100 TB job from
    dying on one malformed row while staying ANSI-strict everywhere else.

    Scale shape: per-row JVM projection; try_* compiles to the same
    codegen with a null-guard, no interpreter fallback."""
    o = table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 5000)
    return o.select(
        "o_orderkey",
        F.round(
            F.try_divide(F.col("o_totalprice"), F.col("o_orderkey") % 10), 6
        ).alias("safe_div"),
        F.expr(
            "try_cast(case when o_orderkey % 7 = 0 then o_orderstatus"
            " else cast(o_orderkey as string) end as bigint)"
        ).alias("maybe_num"),
        F.expr(
            "try_cast(substr(concat(cast(o_orderkey as string), 'x'), 1,"
            " case when o_orderkey % 3 = 0 then 20 else 1 end) as bigint)"
        ).alias("digit_or_null"),
    )
