"""Wave-135: empirical copula tail dependence, transfer entropy, and
integer-exact geohash encoding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "agg_copula_tail_dependence",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS x,
               CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT)) AS BIGINT) AS y
        FROM events GROUP BY day
    ),
    r AS (
        SELECT day,
               ROW_NUMBER() OVER (ORDER BY x, day) AS rx,
               ROW_NUMBER() OVER (ORDER BY y, day) AS ry,
               COUNT(*) OVER () AS n
        FROM daily
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN rx > 3 * n / 4 AND ry > 3 * n / 4
                    THEN 1 ELSE 0 END) AS BIGINT) AS joint_above_q75,
           CAST(SUM(CASE WHEN rx > 9 * n / 10 AND ry > 9 * n / 10
                    THEN 1 ELSE 0 END) AS BIGINT) AS joint_above_q90,
           ROUND(SUM(CASE WHEN rx > 3 * n / 4 AND ry > 3 * n / 4
                     THEN 1 ELSE 0 END) * 1e0
                 / (MAX(n) - 3 * MAX(n) / 4), 6) AS lambda_u_q75,
           ROUND(SUM(CASE WHEN rx > 9 * n / 10 AND ry > 9 * n / 10
                     THEN 1 ELSE 0 END) * 1e0
                 / (MAX(n) - 9 * MAX(n) / 10), 6) AS lambda_u_q90
    FROM r
    """,
)
def agg_copula_tail_dependence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical upper-tail dependence (copula theory, Joe 1997, public)
    between daily event count and daily value total: λ_U(q) estimates
    P(U > q | V > q) from joint rank exceedances at q = 0.75 and 0.9.
    Correlation can be high while tails are independent (and vice
    versa) — tail dependence is what capacity planning actually needs:
    do the two loads spike TOGETHER?

    Determinism: ranks are total-ordered (day tie-break); exceedance
    counts exact; one division per λ.

    Scale shape: map-side daily collapse, two rank windows over the tiny
    daily frame."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.count("*").cast("long").alias("x"),
            F.sum(F.round(F.col("value") * 1000).cast("long"))
            .cast("long")
            .alias("y"),
        )
    )
    r = daily.select(
        F.row_number().over(Window.orderBy("x", "day")).alias("rx"),
        F.row_number().over(Window.orderBy("y", "day")).alias("ry"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    j75 = F.sum(
        F.when(
            (F.col("rx") > 3 * F.col("n") / 4) & (F.col("ry") > 3 * F.col("n") / 4),
            1,
        ).otherwise(0)
    )
    j90 = F.sum(
        F.when(
            (F.col("rx") > 9 * F.col("n") / 10)
            & (F.col("ry") > 9 * F.col("n") / 10),
            1,
        ).otherwise(0)
    )
    return r.agg(
        F.max("n").cast("long").alias("n"),
        j75.cast("long").alias("joint_above_q75"),
        j90.cast("long").alias("joint_above_q90"),
        F.round(
            j75 * F.lit(1.0) / (F.max("n") - 3 * F.max("n") / 4), 6
        ).alias("lambda_u_q75"),
        F.round(
            j90 * F.lit(1.0) / (F.max("n") - 9 * F.max("n") / 10), 6
        ).alias("lambda_u_q90"),
    )


@query(
    "events_transfer_entropy",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS cx,
               CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT)) AS BIGINT) AS cy
        FROM events GROUP BY day
    ),
    med AS (
        SELECT
            (SELECT cx FROM (
                SELECT cx, ROW_NUMBER() OVER (ORDER BY cx, day) AS rn,
                       COUNT(*) OVER () AS n FROM daily) t
             WHERE rn = (n + 1) // 2) AS mx,
            (SELECT cy FROM (
                SELECT cy, ROW_NUMBER() OVER (ORDER BY cy, day) AS rn,
                       COUNT(*) OVER () AS n FROM daily) t
             WHERE rn = (n + 1) // 2) AS my
    ),
    b AS (
        SELECT day,
               CASE WHEN cx > (SELECT mx FROM med) THEN 1 ELSE 0 END AS x,
               CASE WHEN cy > (SELECT my FROM med) THEN 1 ELSE 0 END AS y
        FROM daily
    ),
    tr AS (
        SELECT LEAD(x) OVER (ORDER BY day) AS xn, x, y
        FROM b
    ),
    c3 AS (
        SELECT xn, x, y, CAST(COUNT(*) AS BIGINT) AS c
        FROM tr WHERE xn IS NOT NULL GROUP BY xn, x, y
    ),
    tots AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM c3),
    cxy AS (SELECT x, y, CAST(SUM(c) AS BIGINT) AS c_xy FROM c3 GROUP BY x, y),
    cxx AS (SELECT xn, x, CAST(SUM(c) AS BIGINT) AS c_xnx FROM c3 GROUP BY xn, x),
    cx AS (SELECT x, CAST(SUM(c) AS BIGINT) AS c_x FROM c3 GROUP BY x),
    terms AS (
        SELECT CAST(ROUND(1000000000 * (c3.c * 1e0 / t.n)
                    * LN(CAST(c3.c AS DOUBLE) * cx.c_x
                         / (CAST(cxy.c_xy AS DOUBLE) * cxx.c_xnx)))
                    AS BIGINT) AS te_nano
        FROM c3
        JOIN cxy ON cxy.x = c3.x AND cxy.y = c3.y
        JOIN cxx ON cxx.xn = c3.xn AND cxx.x = c3.x
        JOIN cx ON cx.x = c3.x
        CROSS JOIN tots t
    )
    SELECT (SELECT n FROM tots) AS n_transitions,
           ROUND(SUM(te_nano) / 1e9, 6) AS te_y_to_x
    FROM terms
    """,
)
def events_transfer_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transfer entropy TE(Y→X) (Schreiber, PRL 2000, public) from the
    daily value series to the daily count series, both binarized at
    their exact lower medians: TE = Σ p(x',x,y)·ln[p(x'|x,y)/p(x'|x)] —
    the DIRECTED information-flow measure that mutual information
    (agg_mutual_info) cannot give, answering "does today's revenue level
    help predict tomorrow's traffic beyond traffic's own history?".

    Determinism: medians are exact order statistics; all cell counts are
    exact; each of the ≤8 cells contributes one rounded nano-int term,
    summed exactly.

    Scale shape: map-side daily collapse; everything after runs on an
    8-row contingency cube."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.count("*").cast("long").alias("cx"),
            F.sum(F.round(F.col("value") * 1000).cast("long"))
            .cast("long")
            .alias("cy"),
        )
    )

    def lower_median(col: str):
        w = Window.orderBy(col, "day")
        return (
            daily.select(
                col,
                F.row_number().over(w).alias("rn"),
                F.count("*").over(Window.partitionBy()).alias("n"),
            )
            .where(F.col("rn") == F.floor((F.col("n") + 1) / 2))
            .select(F.col(col).alias(f"m_{col}"))
        )

    med = lower_median("cx").crossJoin(lower_median("cy"))
    b = daily.crossJoin(F.broadcast(med)).select(
        "day",
        (F.col("cx") > F.col("m_cx")).cast("int").alias("x"),
        (F.col("cy") > F.col("m_cy")).cast("int").alias("y"),
    )
    tr = b.select(
        F.lead("x").over(Window.orderBy("day")).alias("xn"), "x", "y"
    ).where(F.col("xn").isNotNull())
    c3 = tr.groupBy("xn", "x", "y").agg(F.count("*").cast("long").alias("c"))
    tots = c3.agg(F.sum("c").cast("long").alias("n"))
    cxy = c3.groupBy("x", "y").agg(F.sum("c").cast("long").alias("c_xy"))
    cxx = c3.groupBy("xn", "x").agg(F.sum("c").cast("long").alias("c_xnx"))
    cx = c3.groupBy("x").agg(F.sum("c").cast("long").alias("c_x"))
    terms = (
        c3.join(cxy, ["x", "y"])
        .join(cxx, ["xn", "x"])
        .join(cx, ["x"])
        .crossJoin(F.broadcast(tots))
        .select(
            F.round(
                1000000000
                * (F.col("c") * F.lit(1.0) / F.col("n"))
                * F.log(
                    F.col("c").cast("double")
                    * F.col("c_x")
                    / (F.col("c_xy").cast("double") * F.col("c_xnx"))
                )
            )
            .cast("long")
            .alias("te_nano"),
            "n",
        )
    )
    return terms.groupBy("n").agg(
        F.round(F.sum("te_nano") / 1e9, 6).alias("te_y_to_x")
    ).select(F.col("n").alias("n_transitions"), "te_y_to_x")


_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def _geohash_sql() -> str:
    """Shared integer geohash pipeline: 15-bit cell ids per axis via pure
    BIGINT division, 30-bit interleave as a sum of extracted bits, six
    base-32 character lookups."""
    inter = " + ".join(
        f"((lon_b // {1 << (14 - i)}) % 2) * {1 << (29 - 2 * i)}"
        f" + ((lat_b // {1 << (14 - i)}) % 2) * {1 << (28 - 2 * i)}"
        for i in range(15)
    )
    chars = " || ".join(
        f"SUBSTR('{_B32}', CAST((gh // {1 << (25 - 5 * j)}) % 32 AS INT) + 1, 1)"
        for j in range(6)
    )
    return inter, chars


@query(
    "fn_geohash_encode",
    oracle=f"""
    WITH pts AS (
        SELECT DISTINCT user_id,
               user_id % 180 AS ilat,
               (user_id * 7) % 360 AS ilon
        FROM events
    ),
    cells AS (
        SELECT user_id, ilat, ilon,
               ((2 * ilat + 1) * 16384) // 180 AS lat_b,
               ((2 * ilon + 1) * 16384) // 360 AS lon_b
        FROM pts
    ),
    g AS (
        SELECT user_id, ilat, ilon, lat_b, lon_b,
               {_geohash_sql()[0]} AS gh
        FROM cells
    )
    SELECT user_id, CAST(ilat AS BIGINT) AS ilat, CAST(ilon AS BIGINT) AS ilon,
           CAST(gh AS BIGINT) AS gh30,
           {_geohash_sql()[1]} AS geohash6
    FROM g
    """,
)
def fn_geohash_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash encoding (Niemeyer 2008, public domain) in pure integer
    arithmetic: synthetic per-user coordinates (cell centers at
    lat = uid%180−90+0.5, lon = uid·7%360−180+0.5) map to 15-bit
    per-axis cell ids by exact BIGINT division, interleave lon-first
    into the 30-bit code, and emit the 6-character base-32 geohash. The
    spatial bucketing key for proximity joins (join_spatial_grid's
    hierarchical cousin): shared prefixes = shared cells at every
    precision level.

    Determinism: no floats anywhere — cell ids, bit extraction
    (//, %), and the base-32 lookup are integer/string ops identical in
    both engines.

    Scale shape: pure per-row projection after a distinct on the user
    key; no shuffle beyond that distinct."""
    pts = (
        table(spark, sf_dir, "events")
        .select(
            "user_id",
            (F.col("user_id") % 180).alias("ilat"),
            ((F.col("user_id") * 7) % 360).alias("ilon"),
        )
        .distinct()
    )
    cells = pts.select(
        "user_id",
        "ilat",
        "ilon",
        F.floor((2 * F.col("ilat") + 1) * 16384 / 180).alias("lat_b"),
        F.floor((2 * F.col("ilon") + 1) * 16384 / 360).alias("lon_b"),
    )
    inter_sql, chars_sql = _geohash_sql()
    # Spark SQL lacks `//`; reuse the same expressions with FLOOR(a / b)
    inter_spark = inter_sql.replace("//", "DIV")
    chars_spark = chars_sql.replace("//", "DIV").replace(" || ", ", ")
    g = cells.withColumn("gh", F.expr(inter_spark))
    return g.select(
        "user_id",
        F.col("ilat").cast("long").alias("ilat"),
        F.col("ilon").cast("long").alias("ilon"),
        F.col("gh").cast("long").alias("gh30"),
        F.expr(f"concat({chars_spark})").alias("geohash6"),
    )
