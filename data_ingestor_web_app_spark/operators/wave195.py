"""Wave-195: Hopkins clustering-tendency statistic with derandomized
uniform probes, and the centroid-diameter Dunn index.

Hopkins answers the question the wave-194 validity indices assume away:
is there ANY cluster structure to score, or is the embedding cloud
uniform noise (H near 0.5)? The probe points are derandomized — md5
uniforms laid over the exact per-dimension bounding box — so both
engines materialize bit-identical probes. Dunn (centroid variant:
min inter-centroid gap over max centroid diameter) is the worst-case
separation score to CH/DB's averages.

Every coordinate lives in the 1e6-quantized integer space of
wave-194/vector_common, so all squared distances are exact BIGINTs and
nearest-neighbor argmins can never flip on a float ulp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_M = 20  # probe count (both real holdouts and synthetic uniforms)
_DIM = 64
_DEC = "decimal(38,0)"


def _hexfold_sql(expr: str, nhex: int) -> str:
    """DuckDB expression: first nhex hex chars of md5(expr) as a BIGINT
    (big-endian fold — matches Spark's CONV(SUBSTRING(md5, 1, n), 16, 10))."""
    terms = " + ".join(
        f"(STRPOS('0123456789abcdef', SUBSTR(MD5({expr}), {i + 1}, 1)) - 1)"
        f" * {16 ** (nhex - 1 - i)}"
        for i in range(nhex)
    )
    return f"CAST({terms} AS BIGINT)"


@query(
    "sim_hopkins",
    oracle=f"""
    WITH q AS (
        SELECT vec_id,
               LIST_TRANSFORM(embedding, x ->
                   CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))
                   AS qx
        FROM embeddings
    ),
    qd AS (
        SELECT vec_id, i, qx[i] AS qv
        FROM q, UNNEST(GENERATE_SERIES(1, LEN(qx))) AS t(i)
    ),
    box AS (
        SELECT i, CAST(MIN(qv) AS BIGINT) AS lo,
               CAST(MAX(qv) AS BIGINT) AS hi
        FROM qd GROUP BY i
    ),
    ranked AS (
        SELECT vec_id, qx,
               ROW_NUMBER() OVER (
                   ORDER BY {_hexfold_sql("CAST(vec_id AS VARCHAR)", 7)},
                            vec_id) AS rn
        FROM q
    ),
    holdout AS (SELECT vec_id, qx FROM ranked WHERE rn <= {_M}),
    synth AS (
        SELECT p.pid, b.i,
               b.lo + CAST(FLOOR(
                   ({_hexfold_sql("p.pid || '_' || b.i", 7)}
                    / 268435456.0) * (b.hi - b.lo)) AS BIGINT) AS qv
        FROM (SELECT CAST(u AS VARCHAR) AS pid
              FROM UNNEST(GENERATE_SERIES(1, {_M})) AS s(u)) p, box b
    ),
    wdist AS (
        SELECT h.vec_id,
               MIN((SELECT SUM((a.qv - b.qv) * (a.qv - b.qv))
                    FROM qd a, qd b
                    WHERE a.vec_id = h.vec_id AND b.vec_id = o.vec_id
                      AND a.i = b.i)) AS d2
        FROM holdout h JOIN q o ON o.vec_id <> h.vec_id
        GROUP BY h.vec_id
    ),
    udist AS (
        SELECT s.pid,
               MIN((SELECT SUM((a.qv - b.qv) * (a.qv - b.qv))
                    FROM synth a, qd b
                    WHERE a.pid = s.pid AND b.vec_id = o.vec_id
                      AND a.i = b.i)) AS d2
        FROM (SELECT DISTINCT pid FROM synth) s, q o
        GROUP BY s.pid
    ),
    sums AS (
        SELECT (SELECT LIST_REDUCE(LIST(SQRT(CAST(d2 AS DOUBLE))
                        ORDER BY vec_id), (x, y) -> x + y) FROM wdist)
                   AS sw,
               (SELECT LIST_REDUCE(LIST(SQRT(CAST(d2 AS DOUBLE))
                        ORDER BY CAST(pid AS BIGINT)), (x, y) -> x + y)
                FROM udist) AS su
    )
    SELECT {_M} AS n_probes,
           ROUND(su / 1e6, 6) AS sum_u,
           ROUND(sw / 1e6, 6) AS sum_w,
           ROUND(su / (su + sw), 6) AS hopkins_h
    FROM sums
    """,
)
def sim_hopkins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopkins clustering-tendency statistic: H = sum(u)/(sum(u)+sum(w))
    where u = nearest-neighbor distances of {_M} uniform probe points
    laid over the data's bounding box, and w = nearest-OTHER-neighbor
    distances of {_M} held-out real points. H near 0.5 means the cloud is
    uniform noise (don't bother clustering); H near 1 means real
    structure. The gate to run BEFORE k-means, and the null check for
    wave-194's validity scores.

    Determinism: probes are md5-derandomized — u = hexfold(md5)/16^7 is
    an exact double (numerator < 2^28, denominator a power of two), the
    probe coordinate floors into the exact integer bounding box; every
    NN argmin compares exact integer squared distances; the two {_M}-term
    distance sums run as ORDERED folds.

    Scale shape: 2*{_M} probes broadcast against the corpus — one linear
    scan with a {_M}-row broadcast, min-aggregated map-side. At 100 TB
    the same plan holds; only the probe count (a constant) would grow."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * F.lit(1e6)).cast("long"),
        ).alias("qx"),
    )
    qd = q.select("vec_id", F.posexplode("qx").alias("i", "qv"))
    box = qd.groupBy("i").agg(
        F.min("qv").cast("long").alias("lo"),
        F.max("qv").cast("long").alias("hi"),
    )
    key = F.conv(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 7), 16, 10
    ).cast("long")
    # TakeOrderedAndProject (per-partition heads + driver merge of M
    # rows), never a global single-partition window
    holdout = (
        q.withColumn("hk", key)
        .orderBy("hk", "vec_id")
        .limit(_M)
        .select("vec_id", "qx")
    )
    # hash input uses the 1-based dimension index (posexplode is 0-based;
    # the oracle's GENERATE_SERIES is 1-based)
    u_long = F.conv(
        F.substring(
            F.md5(F.concat_ws("_", F.col("pid"), F.col("i") + 1)), 1, 7
        ),
        16,
        10,
    ).cast("long")
    synth = (
        spark.range(1, _M + 1)
        .select(F.col("id").cast("string").alias("pid"))
        .crossJoin(F.broadcast(box))
        .select(
            "pid",
            "i",
            (
                F.col("lo")
                + F.floor(
                    (u_long / F.lit(268435456.0))
                    * (F.col("hi") - F.col("lo"))
                ).cast("long")
            ).alias("qv"),
        )
    )
    synth_vec = synth.groupBy("pid").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("i", "qv"))),
            lambda t: t.qv,
        ).alias("px")
    )
    d2 = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    wdist = (
        q.crossJoin(
            F.broadcast(
                holdout.select(
                    F.col("vec_id").alias("hid"), F.col("qx").alias("hx")
                )
            )
        )
        .where(F.col("vec_id") != F.col("hid"))
        .groupBy("hid")
        .agg(F.min(d2(F.col("hx"), F.col("qx"))).alias("d2"))
    )
    udist = (
        q.crossJoin(F.broadcast(synth_vec))
        .groupBy("pid")
        .agg(F.min(d2(F.col("px"), F.col("qx"))).alias("d2"))
    )
    sw = wdist.agg(
        F.aggregate(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct("hid", F.sqrt(F.col("d2").cast("double")).alias("d"))
                    )
                ),
                lambda t: t.d,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("sw")
    )
    su = udist.agg(
        F.aggregate(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("pid").cast("long").alias("pk"),
                            F.sqrt(F.col("d2").cast("double")).alias("d"),
                        )
                    )
                ),
                lambda t: t.d,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("su")
    )
    return su.crossJoin(sw).select(
        F.lit(_M).cast("int").alias("n_probes"),
        F.round(F.col("su") / 1e6, 6).alias("sum_u"),
        F.round(F.col("sw") / 1e6, 6).alias("sum_w"),
        F.round(F.col("su") / (F.col("su") + F.col("sw")), 6).alias(
            "hopkins_h"
        ),
    )


@query(
    "sim_dunn_centroid",
    oracle="""
    WITH q AS (
        SELECT vec_id, label,
               LIST_TRANSFORM(embedding, x ->
                   CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))
                   AS qx
        FROM embeddings
    ),
    qd AS (
        SELECT vec_id, label, i, qx[i] AS qv
        FROM q, UNNEST(GENERATE_SERIES(1, LEN(qx))) AS t(i)
    ),
    sizes AS (
        SELECT label, CAST(COUNT(*) AS BIGINT) AS n FROM q GROUP BY label
    ),
    cent AS (
        SELECT label, i, CAST(SUM(qv) AS BIGINT) AS s
        FROM qd GROUP BY label, i
    ),
    cmom AS (
        SELECT c.label, z.n,
               CAST(SUM(CAST(c.s AS HUGEINT) * c.s) AS HUGEINT) AS ss
        FROM cent c JOIN sizes z ON z.label = c.label
        GROUP BY c.label, z.n
    ),
    xx AS (
        SELECT vec_id, label,
               CAST(SUM(CAST(qv AS HUGEINT) * qv) AS HUGEINT) AS xx
        FROM qd GROUP BY vec_id, label
    ),
    xs AS (
        SELECT p.vec_id, p.label,
               CAST(SUM(CAST(p.qv AS HUGEINT) * c.s) AS HUGEINT) AS xs
        FROM qd p JOIN cent c ON c.i = p.i AND c.label = p.label
        GROUP BY p.vec_id, p.label
    ),
    dq AS (
        SELECT x.label,
               CAST(FLOOR(SQRT(CAST(xx.xx * m.n * m.n - 2 * x.xs * m.n
                                    + m.ss AS DOUBLE)) / m.n) AS BIGINT)
                   AS dqv
        FROM xs x
        JOIN xx ON xx.vec_id = x.vec_id
        JOIN cmom m ON m.label = x.label
    ),
    diam AS (
        SELECT d.label,
               2.0e0 * SUM(d.dqv) / z.n AS dia
        FROM dq d JOIN sizes z ON z.label = d.label
        GROUP BY d.label, z.n
    ),
    gaps AS (
        SELECT SQRT(CAST(a.ss AS DOUBLE) / (CAST(a.n AS DOUBLE) * a.n)
                    - 2 * CAST(ab.ab AS DOUBLE)
                      / (CAST(a.n AS DOUBLE) * b.n)
                    + CAST(b.ss AS DOUBLE) / (CAST(b.n AS DOUBLE) * b.n))
                   AS gap
        FROM cmom a
        JOIN cmom b ON a.label < b.label
        JOIN (SELECT x.label AS la, y.label AS lb,
                     CAST(SUM(CAST(x.s AS HUGEINT) * y.s) AS HUGEINT)
                         AS ab
              FROM cent x JOIN cent y ON x.i = y.i AND x.label < y.label
              GROUP BY x.label, y.label) ab
          ON ab.la = a.label AND ab.lb = b.label
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM sizes) AS k_clusters,
           ROUND((SELECT MIN(gap) FROM gaps) / 1e6, 6)
               AS min_intercentroid,
           ROUND((SELECT MAX(dia) FROM diam) / 1e6, 6) AS max_diameter,
           ROUND((SELECT MIN(gap) FROM gaps)
                 / (SELECT MAX(dia) FROM diam), 6) AS dunn_index
    """,
)
def sim_dunn_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-variant Dunn index: min inter-centroid distance over max
    centroid diameter (2 * mean point-to-centroid distance). Dunn is the
    WORST-CASE separation score — one overlapping cluster pair tanks it
    even when CH/DB's averages look healthy. The classic all-pairs Dunn
    is O(n^2); the centroid variant is the standard linear-time form.

    Determinism: per-point centroid distances floor to integer quantized
    units before the per-cluster mean (order-free integer sum); the
    inter-centroid gaps and the final min/max compare doubles derived
    from exact 128-bit integers — identical in both engines.

    Scale shape: two linear passes (centroid sums, per-point distance)
    plus k^2 centroid pairs. The per-point join is against a BROADCAST
    k*dim centroid table — no shuffle beyond the groupBys."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        "label",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * F.lit(1e6)).cast("long"),
        ).alias("qx"),
    )
    qd = q.select("vec_id", "label", F.posexplode("qx").alias("i", "qv"))
    sizes = q.groupBy("label").agg(F.count("*").cast("long").alias("n"))
    cent = qd.groupBy("label", "i").agg(F.sum("qv").cast("long").alias("s"))
    cmom = (
        cent.join(sizes, "label")
        .groupBy("label", "n")
        .agg(F.sum(F.col("s").cast(_DEC) * F.col("s")).alias("ss"))
    )
    xx = qd.groupBy("vec_id", "label").agg(
        F.sum(F.col("qv").cast(_DEC) * F.col("qv")).alias("xx")
    )
    xs = (
        qd.join(F.broadcast(cent), ["label", "i"])
        .groupBy("vec_id", "label")
        .agg(F.sum(F.col("qv").cast(_DEC) * F.col("s")).alias("xs"))
    )
    dq = (
        xs.join(xx, ["vec_id", "label"])
        .join(F.broadcast(cmom), "label")
        .select(
            "label",
            F.floor(
                F.sqrt(
                    (
                        F.col("xx") * F.col("n") * F.col("n")
                        - 2 * F.col("xs") * F.col("n")
                        + F.col("ss")
                    ).cast("double")
                )
                / F.col("n")
            )
            .cast("long")
            .alias("dqv"),
        )
    )
    diam = (
        dq.join(F.broadcast(sizes), "label")
        .groupBy("label", "n")
        .agg((F.lit(2.0) * F.sum("dqv") / F.col("n")).alias("dia"))
    )
    ca = cent.select(F.col("label").alias("la"), "i", F.col("s").alias("sa"))
    cb = cent.select(F.col("label").alias("lb"), "i", F.col("s").alias("sb"))
    ab = (
        ca.join(cb, ["i"])
        .where(F.col("la") < F.col("lb"))
        .groupBy("la", "lb")
        .agg(F.sum(F.col("sa").cast(_DEC) * F.col("sb")).alias("ab"))
    )
    a = cmom.select(
        F.col("label").alias("la"), F.col("n").alias("na"), F.col("ss").alias("ssa")
    )
    b = cmom.select(
        F.col("label").alias("lb"), F.col("n").alias("nb"), F.col("ss").alias("ssb")
    )
    gaps = (
        a.join(b, F.col("la") < F.col("lb"))
        .join(ab, ["la", "lb"])
        .select(
            F.sqrt(
                F.col("ssa").cast("double")
                / (F.col("na").cast("double") * F.col("na"))
                - 2
                * F.col("ab").cast("double")
                / (F.col("na").cast("double") * F.col("nb"))
                + F.col("ssb").cast("double")
                / (F.col("nb").cast("double") * F.col("nb"))
            ).alias("gap")
        )
    )
    k = sizes.agg(F.count("*").cast("long").alias("k_clusters"))
    mg = gaps.agg(F.min("gap").alias("mingap"))
    md = diam.agg(F.max("dia").alias("maxdia"))
    return (
        k.crossJoin(mg)
        .crossJoin(md)
        .select(
            "k_clusters",
            F.round(F.col("mingap") / 1e6, 6).alias("min_intercentroid"),
            F.round(F.col("maxdia") / 1e6, 6).alias("max_diameter"),
            F.round(F.col("mingap") / F.col("maxdia"), 6).alias(
                "dunn_index"
            ),
        )
    )
