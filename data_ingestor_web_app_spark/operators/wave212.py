"""Wave-212: derandomized SMOTE oversampling for the minority embedding
cluster, and classic safety-stock / reorder-point planning from daily
demand.

SMOTE (Chawla et al. 2002) is the standard imbalanced-learning fix:
synthesize minority-class points by interpolating toward same-class
nearest neighbors. Here the interpolation coefficients are md5-uniforms
and every coordinate is an exact quantized integer, so both engines mint
bit-identical synthetic vectors — the property that makes an
oversampled training set reproducible across reruns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_K = 2  # synthetic samples per minority point
_Z95 = 1.6448536269514722  # one-sided 95% service level
_LEAD = 7  # replenishment lead time, days


def _hexfold_sql(expr: str, nhex: int) -> str:
    terms = " + ".join(
        f"(STRPOS('0123456789abcdef', SUBSTR(MD5({expr}), {i + 1}, 1)) - 1)"
        f" * {16 ** (nhex - 1 - i)}"
        for i in range(nhex)
    )
    return f"CAST({terms} AS BIGINT)"


@query(
    "pipeline_smote_synthetic",
    oracle=f"""
    WITH q AS (
        SELECT vec_id, label,
               LIST_TRANSFORM(embedding, x ->
                   CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))
                   AS qx
        FROM embeddings
    ),
    minority AS (
        SELECT label FROM q GROUP BY label
        ORDER BY COUNT(*), label LIMIT 1
    ),
    mem AS (
        SELECT q.vec_id, q.qx FROM q JOIN minority m
          ON m.label = q.label
    ),
    qd AS (
        SELECT vec_id, i, qx[i] AS qv
        FROM mem, UNNEST(GENERATE_SERIES(1, LEN(qx))) AS t(i)
    ),
    pairs AS (
        SELECT a.vec_id AS p, b.vec_id AS o,
               CAST(SUM((a.qv - b.qv) * (a.qv - b.qv)) AS BIGINT) AS d2
        FROM qd a JOIN qd b ON a.i = b.i AND a.vec_id <> b.vec_id
        GROUP BY a.vec_id, b.vec_id
    ),
    knn AS (
        SELECT p, o, rn FROM (
            SELECT p, o,
                   ROW_NUMBER() OVER (PARTITION BY p ORDER BY d2, o)
                       AS rn
            FROM pairs) WHERE rn <= {_K}
    ),
    us AS (
        SELECT p, o, rn,
               {_hexfold_sql("p || '_' || rn", 7)} AS uraw
        FROM knn
    ),
    synth AS (
        SELECT u.p, u.o, u.rn,
               CAST(FLOOR(u.uraw / 268435456.0 * 1e9) AS BIGINT)
                   AS u_nano,
               CAST(SUM(a.qv + CAST(FLOOR(u.uraw / 268435456.0
                                          * (b.qv - a.qv)) AS BIGINT))
                    AS BIGINT) AS checksum
        FROM us u
        JOIN qd a ON a.vec_id = u.p
        JOIN qd b ON b.vec_id = u.o AND b.i = a.i
        GROUP BY u.p, u.o, u.rn, u.uraw
    )
    SELECT (SELECT label FROM minority) AS label,
           p AS src_id, o AS neighbor_id, CAST(rn AS BIGINT) AS k,
           u_nano, checksum
    FROM synth
    """,
)
def pipeline_smote_synthetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derandomized SMOTE over the SMALLEST label cluster: each minority
    vector emits {_K} synthetic points interpolated toward its {_K}
    nearest same-class neighbors, synth = x + floor(u * (nn - x)) per
    quantized coordinate with u an md5-uniform of (id, k). Emits the
    synthesis manifest — source, neighbor, the u used, and the exact
    component checksum of the minted vector — which IS the
    reproducibility contract of an oversampled training set.

    Determinism: NN sets are (d2, id)-ordered on exact integers; u =
    hexfold(md5)/16^7 is an exact double (28-bit numerator over a power
    of two); each interpolated component floors to an integer, so the
    checksum is an exact integer sum.

    Scale shape: the pair join runs INSIDE the minority cluster only
    (SMOTE never crosses classes); at 100 TB the same plan applies
    per-class with the class as the bucketing key."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        "label",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * F.lit(1e6)).cast("long"),
        ).alias("qx"),
    )
    minority = (
        q.groupBy("label")
        .agg(F.count("*").alias("c"))
        .orderBy("c", "label")
        .limit(1)
        .select("label")
    )
    mem = q.join(F.broadcast(minority), "label").select("vec_id", "qx")
    a = mem.select(F.col("vec_id").alias("p"), F.col("qx").alias("ax"))
    b = mem.select(F.col("vec_id").alias("o"), F.col("qx").alias("bx"))
    d2 = F.aggregate(
        F.zip_with("ax", "bx", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    pairs = (
        a.join(b, F.col("p") != F.col("o"))
        .select("p", "o", "ax", "bx", d2.alias("d2"))
    )
    knn = pairs.withColumn(
        "rn", F.row_number().over(Window.partitionBy("p").orderBy("d2", "o"))
    ).where(F.col("rn") <= _K)
    uraw = F.conv(
        F.substring(
            F.md5(F.concat_ws("_", F.col("p"), F.col("rn"))), 1, 7
        ),
        16,
        10,
    ).cast("long")
    synth = knn.withColumn("uraw", uraw).select(
        "p",
        "o",
        "rn",
        F.floor(F.col("uraw") / F.lit(268435456.0) * F.lit(1e9))
        .cast("long")
        .alias("u_nano"),
        F.aggregate(
            F.zip_with(
                "ax",
                "bx",
                lambda x, y: x
                + F.floor(
                    F.col("uraw") / F.lit(268435456.0) * (y - x)
                ).cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("checksum"),
    )
    return synth.crossJoin(F.broadcast(minority)).select(
        "label",
        F.col("p").alias("src_id"),
        F.col("o").alias("neighbor_id"),
        F.col("rn").cast("long").alias("k"),
        "u_nano",
        "checksum",
    )


@query(
    "inventory_safety_stock",
    oracle=f"""
    WITH daily AS (
        SELECT event_type,
               CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS dmd
        FROM events GROUP BY 1, 2
    ),
    mom AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(dmd) AS BIGINT) AS s,
               CAST(SUM(CAST(dmd AS HUGEINT) * dmd) AS HUGEINT) AS s2
        FROM daily GROUP BY event_type
    )
    SELECT event_type, n AS n_days,
           ROUND(s / CAST(n AS DOUBLE), 6) AS mean_daily,
           ROUND(SQRT(CAST(n * s2 - CAST(s AS HUGEINT) * s AS DOUBLE)
                      / (CAST(n AS HUGEINT) * n * (n - 1))), 6)
               AS sd_daily,
           ROUND({_Z95} * SQRT(CAST(n * s2 - CAST(s AS HUGEINT) * s
                                    AS DOUBLE)
                               / (CAST(n AS HUGEINT) * n * (n - 1)))
                 * SQRT({_LEAD}.0e0), 6) AS safety_stock,
           ROUND(s / CAST(n AS DOUBLE) * {_LEAD}
                 + {_Z95} * SQRT(CAST(n * s2 - CAST(s AS HUGEINT) * s
                                      AS DOUBLE)
                                 / (CAST(n AS HUGEINT) * n * (n - 1)))
                   * SQRT({_LEAD}.0e0), 6) AS reorder_point
    FROM mom ORDER BY event_type
    """,
)
def inventory_safety_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Safety stock and reorder point per demand stream (event type as
    the SKU proxy): SS = z * sd_daily * sqrt(lead_time) at a 95%
    service level, ROP = mean_daily * LT + SS. The planning pair that
    completes the inventory family (EOQ answers how MUCH to order,
    newsvendor the one-shot case; this answers WHEN to reorder under
    demand variability).

    Determinism: daily demands are integer counts; mean/sd come from
    exact integer moments; z and sqrt(LT) are shared literals with
    correctly-rounded sqrt.

    Scale shape: one groupBy(type, day) collapse then a 5-row moment
    frame — constant-size arithmetic after the scan."""
    events = table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count("*").cast("long").alias("dmd"))
    dec = "decimal(38,0)"
    mom = daily.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("dmd").cast("long").alias("s"),
        F.sum(F.col("dmd").cast(dec) * F.col("dmd")).alias("s2"),
    )
    sd = F.sqrt(
        (F.col("n") * F.col("s2") - F.col("s").cast(dec) * F.col("s")).cast(
            "double"
        )
        / (F.col("n").cast(dec) * F.col("n") * (F.col("n") - 1)).cast(
            "double"
        )
    )
    import math

    sqlt = math.sqrt(float(_LEAD))
    ss = F.lit(_Z95) * sd * F.lit(sqlt)
    return mom.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.round(F.col("s") / F.col("n").cast("double"), 6).alias(
            "mean_daily"
        ),
        F.round(sd, 6).alias("sd_daily"),
        F.round(ss, 6).alias("safety_stock"),
        F.round(
            F.col("s") / F.col("n").cast("double") * _LEAD + ss, 6
        ).alias("reorder_point"),
    ).orderBy("event_type")
