"""Wave-182: exact-replayable product quantization (ADC) and the
Breusch-Pagan heteroscedasticity test.

``sim_pq_adc_exact`` does for the PQ family what wave-159 did for
MinHash-LSH and wave-178 for count-min: the production variant
(``sim_pq_adc``, Lloyd-trained codebooks) stays rows-only because its
unrolled k-means oracle would be enormous, while this twin fixes the
codebook deterministically (the first 16 vectors' subvectors, quantized to
micro-units) so encode -> assign -> ADC lookup -> top-k is exact integer
algebra in both engines — the ADC *mechanics* get hash-exact verification.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_M = 8  # subspaces
_DSUB = 8  # dims per subspace
_KC = 16  # codebook size per subspace (vec_id < 16 as centroids)
_NQ = 5  # query vectors (vec_id < 5)
_TOPK = 5


@query(
    "sim_pq_adc_exact",
    oracle=f"""
    WITH e AS (
        SELECT vec_id,
               LIST_TRANSFORM(embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS ei
        FROM embeddings
    ),
    ss AS (SELECT UNNEST(RANGE({_M})) AS s),
    sv AS (
        SELECT vec_id, s, LIST_SLICE(ei, s * {_DSUB} + 1, s * {_DSUB} + {_DSUB}) AS sub
        FROM e CROSS JOIN ss
    ),
    svx AS (SELECT vec_id, s, UNNEST(sub) AS v,
                   GENERATE_SUBSCRIPTS(sub, 1) AS i
            FROM sv),
    cbx AS (SELECT vec_id AS cid, s, v AS cv, i FROM svx WHERE vec_id < {_KC}),
    d2 AS (
        SELECT a.vec_id, a.s, b.cid,
               CAST(SUM((a.v - b.cv) * (a.v - b.cv)) AS BIGINT) AS d
        FROM svx a JOIN cbx b ON b.s = a.s AND b.i = a.i
        GROUP BY 1, 2, 3
    ),
    codes AS (
        SELECT vec_id, s, cid FROM d2
        QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d, cid) = 1
    ),
    adc AS (
        SELECT lut.vec_id AS qid, a.vec_id, CAST(SUM(lut.d) AS BIGINT) AS adc_dist2
        FROM codes a
        JOIN (SELECT vec_id, s, cid, d FROM d2 WHERE vec_id < {_NQ}) lut
          ON lut.s = a.s AND lut.cid = a.cid
        WHERE lut.vec_id <> a.vec_id
        GROUP BY 1, 2
    )
    SELECT qid, vec_id, adc_dist2, rk FROM (
        SELECT qid, vec_id, adc_dist2,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY adc_dist2, vec_id) AS rk
        FROM adc) t
    WHERE rk <= {_TOPK}
    """,
)
def sim_pq_adc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation,
    fully hash-exact (Jégou et al. 2011): 64-d vectors split into 8
    subspaces of 8 dims; each subspace's codebook is the corresponding
    subvectors of vec_id < 16 (fixed, so no Lloyd trajectory to replay);
    every vector encodes to 8 codes by integer-L2 argmin (ties -> lowest
    code); each query (vec_id < 5) builds its 8 x 16 ADC lookup table and
    scores the whole corpus by 8 table lookups + adds; top-5 per query
    with a total order. Companion to sim_pq_adc, whose TRAINED codebook
    stays rows-only — here the ADC machinery itself is what's verified.

    Determinism: components quantize to floor(x*1e6) BIGINTs; all
    distances are exact integer sums; assignment and ranking carry
    explicit tie-breaks.

    Scale shape: the codebook (16x8 subvectors) and the per-query LUTs
    (5x8x16 rows) broadcast; encoding is a per-row bounded argmin; the
    corpus-side scan does NO float math per candidate — exactly why PQ
    wins at 100 TB: distance evaluation is m integer adds against 48-bit
    codes instead of a 64-dim dot product against raw floats."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            "transform(embedding,"
            " x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e6) AS BIGINT))"
        ).alias("ei"),
    )
    subs = F.expr(
        f"transform(sequence(0, {_M - 1}),"
        f" s -> slice(ei, s * {_DSUB} + 1, {_DSUB}))"
    )
    sv = e.select("vec_id", F.posexplode(subs).alias("s", "sub"))
    cb = sv.where(F.col("vec_id") < _KC).select(
        F.col("vec_id").alias("cid"), "s", F.col("sub").alias("c")
    )
    l2 = F.aggregate(
        F.zip_with("sub", "c", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    d2 = (
        sv.join(F.broadcast(cb), "s")
        .select("vec_id", "s", "cid", l2.alias("d"))
    )
    codes = (
        d2.groupBy("vec_id", "s")
        .agg(F.min(F.struct("d", "cid")).alias("b"))
        .select("vec_id", "s", F.col("b.cid").alias("cid"))
    )
    lut = d2.where(F.col("vec_id") < _NQ).select(
        F.col("vec_id").alias("qid"), "s", "cid", "d"
    )
    adc = (
        codes.join(F.broadcast(lut), ["s", "cid"])
        .where(F.col("qid") != F.col("vec_id"))
        .groupBy("qid", "vec_id")
        .agg(F.sum("d").cast("long").alias("adc_dist2"))
    )
    w = Window.partitionBy("qid").orderBy("adc_dist2", "vec_id")
    return (
        adc.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _TOPK)
        .select("qid", "vec_id", "adc_dist2", "rk")
    )


@query(
    "model_breusch_pagan",
    oracle="""
    WITH daily AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS x,
               CAST(SUM(CAST(FLOOR(value) AS BIGINT)) AS BIGINT) AS y
        FROM events GROUP BY CAST(ts AS DATE)
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy
        FROM daily
    ),
    z AS (
        SELECT t.n, t.n * d.x - t.sx AS zx, t.n * d.y - t.sy AS zy
        FROM daily d CROSS JOIN tot t
    ),
    m AS (
        SELECT MIN(n) AS n,
               CAST(SUM(CAST(zx AS HUGEINT) * zx) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(zx AS HUGEINT) * zy) AS DOUBLE) AS sxy,
               CAST(SUM(CAST(zx AS HUGEINT) * zx * zx) AS DOUBLE) AS sx3,
               CAST(SUM(CAST(zx AS HUGEINT) * zx * zx * zx) AS DOUBLE) AS sx4,
               CAST(SUM(CAST(zy AS HUGEINT) * zy) AS DOUBLE) AS syy,
               CAST(SUM(CAST(zx AS HUGEINT) * zx * zy) AS DOUBLE) AS sx2y,
               CAST(SUM(CAST(zx AS HUGEINT) * zy * zy) AS DOUBLE) AS sxy2,
               CAST(SUM(CAST(zx AS HUGEINT) * zx * zy * zy) AS DOUBLE) AS sx2y2,
               CAST(SUM(CAST(zx AS HUGEINT) * zx * zx * zy) AS DOUBLE) AS sx3y,
               CAST(SUM(CAST(zy AS HUGEINT) * zy * zy * zy) AS DOUBLE) AS sy4,
               CAST(SUM(CAST(zx AS HUGEINT) * zy * zy * zy) AS DOUBLE) AS sxy3
        FROM z
    ),
    bp AS (
        SELECT n, sxx,
               sxy / sxx AS b,
               (sxy2 - 2 * (sxy / sxx) * sx2y + (sxy / sxx) * (sxy / sxx) * sx3)
                   AS cov_wx_num,
               (syy - 2 * (sxy / sxx) * sxy + (sxy / sxx) * (sxy / sxx) * sxx)
                   AS sw1,
               (sy4 - 4 * (sxy / sxx) * sxy3
                    + 6 * (sxy / sxx) * (sxy / sxx) * sx2y2
                    - 4 * (sxy / sxx) * (sxy / sxx) * (sxy / sxx) * sx3y
                    + (sxy / sxx) * (sxy / sxx) * (sxy / sxx) * (sxy / sxx) * sx4)
                   AS sw2
        FROM m
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           ROUND(n * n * cov_wx_num * cov_wx_num
                 / (sxx * (n * sw2 - sw1 * sw1)), 6) AS lm_stat,
           n * n * cov_wx_num * cov_wx_num
               / (sxx * (n * sw2 - sw1 * sw1)) > 3.841458820694124
               AS heteroscedastic_95
    FROM bp
    """,
)
def model_breusch_pagan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breusch-Pagan LM test (Koenker's studentized form) for
    heteroscedasticity of the daily value-vs-count regression: fit
    y ~ a + b*x by OLS over the 30 daily (event count, sum of floored
    values) points, then test whether the SQUARED residuals correlate
    with x — LM = n * R² of the auxiliary regression, compared to the
    chi-square(1) 95% critical value. The go/no-go check before trusting
    plain OLS standard errors on traffic data, where variance almost
    always grows with volume.

    Determinism: residuals never materialize — e² moments expand into
    centered integer moment sums up to 4th order (zx = n*x - Sx exact
    BIGINTs, products in HUGEINT/DECIMAL(38)) combined with the slope in
    ONE fixed-shape double polynomial, the same integer-centering pattern
    as the ANOVA/ICC family; headroom checked: Σzy⁴ ≈ 3e32 « 1e38.

    Scale shape: one groupBy(day) over the fact table (map-side partials),
    then a single 12-sum aggregate over n_days rows — the test costs one
    pass regardless of corpus size."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count("*").cast("long").alias("x"),
        F.sum(F.floor("value").cast("long")).cast("long").alias("y"),
    )
    tot = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
    )
    z = daily.crossJoin(tot).select(
        "n",
        (F.col("n") * F.col("x") - F.col("sx")).alias("zx"),
        (F.col("n") * F.col("y") - F.col("sy")).alias("zy"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = z.agg(
        F.min("n").alias("n"),
        F.sum(dec("zx") * F.col("zx")).cast("double").alias("sxx"),
        F.sum(dec("zx") * F.col("zy")).cast("double").alias("sxy"),
        F.sum(dec("zx") * F.col("zx") * F.col("zx")).cast("double").alias("sx3"),
        F.sum(dec("zx") * F.col("zx") * F.col("zx") * F.col("zx")).cast("double").alias("sx4"),
        F.sum(dec("zy") * F.col("zy")).cast("double").alias("syy"),
        F.sum(dec("zx") * F.col("zx") * F.col("zy")).cast("double").alias("sx2y"),
        F.sum(dec("zx") * F.col("zy") * F.col("zy")).cast("double").alias("sxy2"),
        F.sum(dec("zx") * F.col("zx") * F.col("zy") * F.col("zy")).cast("double").alias("sx2y2"),
        F.sum(dec("zx") * F.col("zx") * F.col("zx") * F.col("zy")).cast("double").alias("sx3y"),
        F.sum(dec("zy") * F.col("zy") * F.col("zy") * F.col("zy")).cast("double").alias("sy4"),
        F.sum(dec("zx") * F.col("zy") * F.col("zy") * F.col("zy")).cast("double").alias("sxy3"),
    )
    b = F.col("sxy") / F.col("sxx")
    cov_wx = F.col("sxy2") - 2 * b * F.col("sx2y") + b * b * F.col("sx3")
    sw1 = F.col("syy") - 2 * b * F.col("sxy") + b * b * F.col("sxx")
    sw2 = (
        F.col("sy4")
        - 4 * b * F.col("sxy3")
        + 6 * b * b * F.col("sx2y2")
        - 4 * b * b * b * F.col("sx3y")
        + b * b * b * b * F.col("sx4")
    )
    lm = (
        F.col("n") * F.col("n") * cov_wx * cov_wx
        / (F.col("sxx") * (F.col("n") * sw2 - sw1 * sw1))
    )
    return m.select(
        F.col("n").cast("long").alias("n_days"),
        F.round(lm, 6).alias("lm_stat"),
        (lm > F.lit(3.841458820694124)).alias("heteroscedastic_95"),
    )
