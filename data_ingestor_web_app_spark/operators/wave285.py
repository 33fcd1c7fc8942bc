"""Wave-285: capacity planning from measured bytes — the partition-size
planner (how many shuffle partitions / output files should THIS table
use at k x scale, from measured row widths and the 128 MiB discipline)
— and Dixon's Q test for a single small-sample outlier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_TARGET_BYTES = 128 * 1024 * 1024  # the maxPartitionBytes discipline
_SCALE_FACTORS = [1, 100, 1000]


@query(
    "maintenance_partition_size_planner",
    oracle=f"""
    WITH widths AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(8 + 8 + 8 + OCTET_LENGTH(ENCODE(event_type))
                        + 8 + OCTET_LENGTH(ENCODE(props))) AS BIGINT)
                   AS payload_bytes
        FROM events
    ),
    scales AS (SELECT UNNEST(ARRAY{_SCALE_FACTORS}) AS k)
    SELECT k AS scale_multiplier,
           w.n_rows * k AS projected_rows,
           CAST(w.payload_bytes * k AS BIGINT) AS projected_bytes,
           ROUND(w.payload_bytes / CAST(w.n_rows AS DOUBLE), 4)
               AS avg_row_bytes,
           CAST(GREATEST(1, CEIL(w.payload_bytes * k
                                 / {_TARGET_BYTES}.0)) AS BIGINT)
               AS recommended_partitions,
           CAST(CEIL(w.n_rows * k
                     / CEIL(w.payload_bytes * k / {_TARGET_BYTES}.0))
                AS BIGINT) AS rows_per_partition
    FROM widths w CROSS JOIN scales
    ORDER BY k
    """,
)
def maintenance_partition_size_planner(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Partition-size planning from MEASURED row widths (the
    maxPartitionBytes / target-file-size discipline every Spark shop
    codifies; 128 MiB per partition is the community default): sum the
    events table's in-memory payload width (fixed-width columns at 8
    bytes, strings at octet length), project it at 1x / 100x / 1000x,
    and emit the partition count that keeps each partition at the
    target — the number you'd set spark.sql.shuffle.partitions (and
    the file count a writer should coalesce to) at each scale. The
    100 TB answer is a ROW of this table, not a guess.

    Exactness device: widths are exact integer OCTET_LENGTH sums;
    CEIL chains are identical; the per-scale fan-out is a literal.

    Scale shape: one aggregate over the scan — the planner costs one
    pass and pays for itself on the first avoided 2 GB partition."""
    e = table(spark, sf_dir, "events")
    widths = e.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(
            F.lit(8)
            + F.lit(8)
            + F.lit(8)
            + F.octet_length("event_type")
            + F.lit(8)
            + F.octet_length("props")
        )
        .cast("long")
        .alias("payload_bytes"),
    )
    scales = F.array(*[F.lit(k) for k in _SCALE_FACTORS])
    base = widths.withColumn("k", F.explode(scales))
    parts = F.greatest(
        F.lit(1).cast("long"),
        F.ceil(
            F.col("payload_bytes") * F.col("k") / float(_TARGET_BYTES)
        ).cast("long"),
    )
    return base.select(
        F.col("k").cast("int").alias("scale_multiplier"),
        (F.col("n_rows") * F.col("k")).cast("long").alias("projected_rows"),
        (F.col("payload_bytes") * F.col("k"))
        .cast("long")
        .alias("projected_bytes"),
        F.round(
            F.col("payload_bytes") / F.col("n_rows").cast("double"), 4
        ).alias("avg_row_bytes"),
        parts.alias("recommended_partitions"),
        F.ceil(
            F.col("n_rows")
            * F.col("k")
            / F.ceil(
                F.col("payload_bytes") * F.col("k") / float(_TARGET_BYTES)
            )
        )
        .cast("long")
        .alias("rows_per_partition"),
    ).orderBy("scale_multiplier")


@query(
    "agg_dixon_q",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, AVG(value) AS y
        FROM events GROUP BY 1
    ),
    ordered AS (
        SELECT y, ROW_NUMBER() OVER (ORDER BY y) AS i,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM daily
    ),
    ends AS (
        SELECT ANY_VALUE(n) AS n,
               MAX(CASE WHEN i = 1 THEN y END) AS x1,
               MAX(CASE WHEN i = 2 THEN y END) AS x2,
               MAX(CASE WHEN i = n - 1 THEN y END) AS xn1,
               MAX(CASE WHEN i = n THEN y END) AS xn
        FROM ordered
    )
    SELECT n AS n_obs,
           ROUND((x2 - x1) / (xn - x1), 6) AS q_low,
           ROUND((xn - xn1) / (xn - x1), 6) AS q_high,
           GREATEST((x2 - x1) / (xn - x1), (xn - xn1) / (xn - x1))
               > 0.29 AS outlier_flagged,
           ROUND(x1, 6) AS min_value,
           ROUND(xn, 6) AS max_value
    FROM ends
    """,
)
def agg_dixon_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dixon's Q test (Dixon, Annals of Math. Stat. 1950; the r10 ratio,
    public) on the 30-day daily means: Q = gap/range at each end,
    against the literal n=30 critical value 0.29 at alpha=0.05. THE
    small-sample outlier test — Grubbs (agg_grubbs_test) needs a
    normality-calibrated z, Dixon needs only two order statistics per
    end, which is why lab-chemistry protocols (and 30-point daily
    dashboards) still specify it.

    Exactness device: four exact order statistics, two ratio chains,
    one literal comparison.

    Scale shape: daily rollup + a bounded ranked frame."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.avg("value").alias("y"))
    )
    ordered = daily.select(
        "y",
        F.row_number().over(Window.orderBy("y")).alias("i"),
        F.count("*").over(Window.partitionBy()).cast("long").alias("n"),
    )
    ends = ordered.agg(
        F.first("n").alias("n"),
        F.max(F.when(F.col("i") == 1, F.col("y"))).alias("x1"),
        F.max(F.when(F.col("i") == 2, F.col("y"))).alias("x2"),
        F.max(F.when(F.col("i") == F.col("n") - 1, F.col("y"))).alias("xn1"),
        F.max(F.when(F.col("i") == F.col("n"), F.col("y"))).alias("xn"),
    )
    rng = F.col("xn") - F.col("x1")
    q_low = (F.col("x2") - F.col("x1")) / rng
    q_high = (F.col("xn") - F.col("xn1")) / rng
    return ends.select(
        F.col("n").alias("n_obs"),
        F.round(q_low, 6).alias("q_low"),
        F.round(q_high, 6).alias("q_high"),
        (F.greatest(q_low, q_high) > 0.29).alias("outlier_flagged"),
        F.round("x1", 6).alias("min_value"),
        F.round("xn", 6).alias("max_value"),
    )
