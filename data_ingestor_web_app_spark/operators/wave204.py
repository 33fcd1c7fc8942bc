"""Wave-204: segmented (broken-stick) regression with closed-form
breakpoint grid search, and deterministic ULID key generation.

Segmented regression fits the actual two-regime trend that the
changepoint TESTS in the registry (Pettitt, CUSUM, Page-Hinkley) only
detect: for every candidate breakpoint the two OLS segments have
closed-form SSEs from exact integer moments, so the argmin is a
deterministic fold over a bounded grid. ULID adds the sortable
timestamp-prefixed key format (Crockford base32) to the key-generation
family (fn_uuid_v3, fn_base58).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_DEC = "decimal(38,0)"
_B32 = "0123456789ABCDEFGHJKMNPQRSTVWXYZ"  # Crockford
_BP_LO, _BP_HI = 5, 25  # candidate breakpoints (split AFTER day < bp)


@query(
    "model_segmented_regression",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(DATEDIFF('day', DATE '2024-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS d,
               CAST(SUM(CAST(FLOOR(value + 0.5) AS BIGINT)) AS BIGINT)
                   AS y
        FROM events GROUP BY 1
    ),
    bps AS (
        SELECT bp FROM UNNEST(GENERATE_SERIES({_BP_LO}, {_BP_HI}))
            AS t(bp)
    ),
    seg AS (
        SELECT b.bp, d.d < b.bp AS left_seg,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(d.d) AS BIGINT) AS sx,
               CAST(SUM(d.y) AS BIGINT) AS sy,
               CAST(SUM(CAST(d.d AS HUGEINT) * d.d) AS HUGEINT) AS sxx,
               CAST(SUM(CAST(d.d AS HUGEINT) * d.y) AS HUGEINT) AS sxy,
               CAST(SUM(CAST(d.y AS HUGEINT) * d.y) AS HUGEINT) AS syy
        FROM daily d, bps b
        GROUP BY b.bp, d.d < b.bp
    ),
    sse AS (
        SELECT bp,
               -- SSE = (Syy_c - Sxy_c^2/Sxx_c)/n with the n-scaled
               -- centered moments: Sxx_c = n*sxx - sx^2, etc.
               LIST_REDUCE(LIST(
                   (CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE)
                    - CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                      * CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                      / CAST(n * sxx - CAST(sx AS HUGEINT) * sx
                             AS DOUBLE))
                   / n
                   ORDER BY left_seg), (a, b) -> a + b) AS sse,
               CAST(SUM(n) AS BIGINT) AS n_tot
        FROM seg GROUP BY bp
    ),
    best AS (
        SELECT bp, sse, n_tot FROM sse ORDER BY sse, bp LIMIT 1
    ),
    fit AS (
        SELECT s.bp, s.left_seg,
               CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                 / CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                   AS slope,
               (sy - CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                     / CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                     * sx) / CAST(n AS DOUBLE) AS intercept
        FROM seg s JOIN best b ON b.bp = s.bp
    )
    SELECT b.bp AS breakpoint, b.n_tot AS n_days,
           ROUND(b.sse, 4) AS total_sse,
           ROUND((SELECT slope FROM fit WHERE left_seg), 6)
               AS slope_left,
           ROUND((SELECT intercept FROM fit WHERE left_seg), 6)
               AS intercept_left,
           ROUND((SELECT slope FROM fit WHERE NOT left_seg), 6)
               AS slope_right,
           ROUND((SELECT intercept FROM fit WHERE NOT left_seg), 6)
               AS intercept_right
    FROM best b
    """,
)
def model_segmented_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-segment (broken-stick) regression of daily spend on time:
    grid-search the breakpoint over days [{_BP_LO}, {_BP_HI}], fit OLS
    on each side in closed form, keep the breakpoint minimizing total
    SSE. Where Pettitt/CUSUM answer "did the regime change?", this fits
    WHAT changed — both slopes and the kink location.

    Determinism: per-(breakpoint, side) moments are exact integers from
    a single grouped pass; each SSE is two correctly-rounded double
    expressions summed in fixed (left, right) order; the argmin orders
    by (sse, bp) so grid ties resolve identically.

    Scale shape: the fact table collapses to per-day rows once; the
    grid fan-out is days x 21 candidates of INTEGER rows (bounded by
    calendar length), grouped map-side. No iterative optimizer."""
    events = table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("d")
    ).agg(
        F.sum(F.floor(F.col("value") + 0.5).cast("long"))
        .cast("long")
        .alias("y")
    )
    bps = spark.range(_BP_LO, _BP_HI + 1).select(
        F.col("id").cast("long").alias("bp")
    )
    seg = (
        daily.crossJoin(F.broadcast(bps))
        .groupBy("bp", (F.col("d") < F.col("bp")).alias("left_seg"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("d").cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("d").cast(_DEC) * F.col("d")).alias("sxx"),
            F.sum(F.col("d").cast(_DEC) * F.col("y")).alias("sxy"),
            F.sum(F.col("y").cast(_DEC) * F.col("y")).alias("syy"),
        )
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx_c = (n * F.col("sxx") - sx.cast(_DEC) * sx).cast("double")
    sxy_c = (n * F.col("sxy") - sx.cast(_DEC) * sy).cast("double")
    syy_c = (n * F.col("syy") - sy.cast(_DEC) * sy).cast("double")
    seg_sse = seg.withColumn(
        "sse_part", (syy_c - sxy_c * sxy_c / sxx_c) / n
    )
    sse = seg_sse.groupBy("bp").agg(
        F.aggregate(
            F.transform(
                F.sort_array(F.collect_list(F.struct("left_seg", "sse_part"))),
                lambda t: t.sse_part,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("sse"),
        F.sum("n").cast("long").alias("n_tot"),
    )
    best = sse.orderBy("sse", "bp").limit(1)
    fit = seg.join(F.broadcast(best.select("bp")), "bp").select(
        "left_seg",
        (sxy_c / sxx_c).alias("slope"),
        ((sy - sxy_c / sxx_c * sx) / n.cast("double")).alias("intercept"),
    )
    left = fit.where("left_seg").select(
        F.col("slope").alias("slope_left"),
        F.col("intercept").alias("intercept_left"),
    )
    right = fit.where(~F.col("left_seg")).select(
        F.col("slope").alias("slope_right"),
        F.col("intercept").alias("intercept_right"),
    )
    return (
        best.crossJoin(left)
        .crossJoin(right)
        .select(
            F.col("bp").alias("breakpoint"),
            F.col("n_tot").alias("n_days"),
            F.round("sse", 4).alias("total_sse"),
            F.round("slope_left", 6).alias("slope_left"),
            F.round("intercept_left", 6).alias("intercept_left"),
            F.round("slope_right", 6).alias("slope_right"),
            F.round("intercept_right", 6).alias("intercept_right"),
        )
    )


def _hexfold_sql(expr: str, start: int, nhex: int) -> str:
    """DuckDB: hex chars [start, start+nhex) of md5(expr) as BIGINT."""
    terms = " + ".join(
        f"(STRPOS('0123456789abcdef', SUBSTR(MD5({expr}), {start + i}, 1))"
        f" - 1) * {16 ** (nhex - 1 - i)}"
        for i in range(nhex)
    )
    return f"CAST({terms} AS BIGINT)"


def _b32_sql(val: str, ndig: int) -> str:
    """DuckDB: ndig Crockford-base32 digits of BIGINT expression val."""
    return " || ".join(
        f"SUBSTR('{_B32}', CAST(({val}) // {32 ** (ndig - 1 - i)} % 32"
        f" AS INTEGER) + 1, 1)"
        for i in range(ndig)
    )


@query(
    "fn_ulid",
    oracle=f"""
    WITH e AS (
        SELECT event_id,
               CAST(EPOCH_MS(ts) AS BIGINT) AS ms
        FROM events
    )
    SELECT event_id, ms,
           {_b32_sql("ms", 10)} || {_b32_sql(
               _hexfold_sql("CAST(event_id AS VARCHAR)", 1, 10), 8
           )} || {_b32_sql(
               _hexfold_sql("CAST(event_id AS VARCHAR)", 11, 10), 8
           )} AS ulid
    FROM e
    """,
)
def fn_ulid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ULID generation (26-char Crockford base32: 48-bit millisecond
    timestamp + 80-bit entropy) with the entropy derandomized to
    md5(event_id) so both engines mint identical ids. ULIDs sort
    lexicographically by creation time — the key format that keeps
    append order AND uniqueness in one column, completing the key
    family (fn_uuid_v3 name-based, fn_base58 short hashes).

    Determinism: the timestamp is an exact epoch-millisecond integer;
    the entropy is two 40-bit md5 hex folds; every base32 digit is an
    integer div/mod; the alphabet lookup is 1-based SUBSTR in both.

    Scale shape: row-local expression, no shuffle, codegen end-to-end."""
    events = table(spark, sf_dir, "events")
    e = events.select(
        "event_id",
        (F.unix_timestamp("ts") * 1000 + F.date_format("ts", "SSS").cast("long"))
        .cast("long")
        .alias("ms"),
        F.md5(F.col("event_id").cast("string")).alias("h"),
    )
    r1 = F.conv(F.substring("h", 1, 10), 16, 10).cast("long")
    r2 = F.conv(F.substring("h", 11, 10), 16, 10).cast("long")

    def b32(val, ndig):
        return F.concat(
            *[
                F.substring(
                    F.lit(_B32),
                    ((val / (32 ** (ndig - 1 - i))).cast("long") % 32).cast(
                        "int"
                    )
                    + 1,
                    1,
                )
                for i in range(ndig)
            ]
        )

    return e.select(
        "event_id",
        "ms",
        F.concat(b32(F.col("ms"), 10), b32(r1, 8), b32(r2, 8)).alias("ulid"),
    )
