"""Wave-33: SemDeDup pruning, seasonal residuals, URL parsing, trig family.

dedup_semdedup implements the SemDeDup keep-rule (Abbas et al. 2023,
public): inside each embedding cluster, near-duplicate pairs drop the
member CLOSER to the centroid — keeping the outliers preserves diversity
(the opposite of the usual min-id rule, which is why it's a separate
operator from dedup_embedding). events_seasonal_residuals finishes the
time-series family with an hour-of-day seasonal baseline and exact-
arithmetic daily residuals. fn_url_parse / fn_trig extend the scalar
function matrix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "dedup_semdedup",
    oracle="""
    WITH ue AS (
        SELECT vec_id, label, UNNEST(embedding) AS x,
               GENERATE_SUBSCRIPTS(embedding, 1) AS i
        FROM embeddings
    ),
    c0 AS (
        SELECT label AS c_label, i, ROUND(AVG(CAST(x AS DOUBLE)), 6) AS cx
        FROM ue GROUP BY label, i
    ),
    dots0 AS (
        SELECT u.vec_id, c.c_label, ROUND(SUM(CAST(u.x AS DOUBLE) * c.cx), 6) AS dot
        FROM ue u JOIN c0 c ON u.i = c.i
        GROUP BY u.vec_id, c.c_label
    ),
    assign AS (
        SELECT vec_id, c_label, dot AS cdot FROM (
            SELECT vec_id, c_label, dot,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY dot DESC, c_label) AS rk
            FROM dots0) t WHERE rk = 1
    ),
    norms AS (
        SELECT vec_id, SQRT(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
        FROM ue GROUP BY vec_id
    ),
    cand AS (
        SELECT a.vec_id AS doc_a, b.vec_id AS doc_b, a.c_label,
               a.cdot AS cdot_a, b.cdot AS cdot_b
        FROM assign a JOIN assign b
          ON a.c_label = b.c_label AND a.vec_id < b.vec_id
    ),
    pdots AS (
        SELECT c.doc_a, c.doc_b, c.c_label, c.cdot_a, c.cdot_b,
               SUM(CAST(ua.x AS DOUBLE) * CAST(ub.x AS DOUBLE)) AS dot
        FROM cand c
        JOIN ue ua ON ua.vec_id = c.doc_a
        JOIN ue ub ON ub.vec_id = c.doc_b AND ub.i = ua.i
        GROUP BY c.doc_a, c.doc_b, c.c_label, c.cdot_a, c.cdot_b
    ),
    pairs AS (
        SELECT c_label,
               CASE WHEN cdot_a > cdot_b
                         OR (cdot_a = cdot_b AND doc_a > doc_b)
                    THEN doc_a ELSE doc_b END AS dropped
        FROM pdots p
        JOIN norms na ON na.vec_id = p.doc_a
        JOIN norms nb ON nb.vec_id = p.doc_b
        WHERE ROUND(p.dot / (na.nrm * nb.nrm), 6) >= 0.35
    ),
    dropped AS (SELECT c_label, dropped AS vec_id FROM pairs GROUP BY 1, 2)
    SELECT a.c_label,
           COUNT(*) AS n_members,
           CAST(COUNT(d.vec_id) AS BIGINT) AS n_dropped,
           COUNT(*) - COUNT(d.vec_id) AS n_kept
    FROM assign a LEFT JOIN dropped d
      ON d.c_label = a.c_label AND d.vec_id = a.vec_id
    GROUP BY a.c_label
    """,
)
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, public): semantic dedup that keeps the
    DIVERSE member of each near-dup pair — inside an IVF cluster, any pair
    with cosine ≥ 0.35 drops whichever member sits CLOSER to the centroid
    (higher centroid-dot; id breaks exact ties). Per-cluster summary:
    members, dropped, kept. Composition of the engine's own primitives:
    broadcast-codebook assignment (zero corpus shuffle), within-cluster
    pair join (never all-pairs), exact cosine verification, set-subtract.

    Scale shape identical to dedup_embedding (same blocking); the drop
    rule adds only a projection on the verified pairs plus one DISTINCT
    on (cluster, dropped-id), both bounded by near-dup density."""
    from data_ingestor_web_app_spark.llm.vector_common import (
        best_centroid as _best_centroid,
        codebook_row as _codebook_row,
    )
    from data_ingestor_web_app_spark.llm.vector_extra import _label_means

    # r12: round-robin repartition restores scan parallelism (the fixture
    # is one parquet row group — the dedup_minhash_lsh idiom); without it
    # the whole fused chain below (argmax fold, pair-join probe, per-pair
    # cosine) ran on the single scan task.
    e = table(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )
    base = e.select("vec_id", "embedding")
    # r12 (guide §2.4, the r11 dedup_embedding pattern): per-row fold
    # argmax against the broadcast codebook row instead of crossJoin-K +
    # row_number window — drops the N*K multiply and the window exchange
    # (which AQE coalesced to ONE task at this scale, serializing the
    # ~200k per-pair cosine evaluations fused behind it). best_centroid
    # applies the identical rule: 6dp-rounded sequential-fold dot DESC,
    # c_label ASC — assignments and cdot values are bit-identical.
    cent = _label_means(e).localCheckpoint(eager=True)
    bc = _best_centroid("embedding")
    blocked = base.crossJoin(_codebook_row(cent)).select(
        "vec_id",
        "embedding",
        bc["c_label"].alias("c_label"),
        bc["dot"].alias("cdot"),
    )
    assign = blocked.select("vec_id", "c_label", "cdot")
    # r12 (guide §4.2, the dedup_embedding block-pair GEMM): the old
    # within-cluster self-join evaluated an interpreted 64-element
    # zip_with/aggregate cosine per joined row (~400k pairs at sf0.1,
    # ~10 s of task CPU, re-executed by every reference) — one numpy
    # matmul per (cluster, qb, cb) block pair replaces it, and the
    # SemDeDup drop rule (cdot DESC, id tie-break) is applied in-kernel
    # on the surviving pairs. Each unordered pair lands in exactly one
    # block pair as (q < c), so the in-kernel doc_a < doc_b mask is also
    # the global dedup. Threshold semantics unchanged: 6dp-rounded
    # cosine >= 0.35, cdot values are the argmax fold's (bit-identical).
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    par = spark.sparkContext.defaultParallelism
    n_blocks = max(1, min(64, int(-(-((2 * par) ** 0.5) // 1))))
    blk = (F.col("vec_id") % n_blocks).cast("int")
    tags = F.array(*[F.lit(i) for i in range(n_blocks)])
    qx = blocked.select(
        "c_label", blk.alias("qb"), F.explode(tags).alias("cb"),
        F.col("vec_id").alias("id"), F.col("embedding").alias("v"),
        F.col("cdot").alias("cd"), F.lit("q").alias("role"),
    )
    cx = blocked.select(
        "c_label", F.explode(tags).alias("qb"), blk.alias("cb"),
        F.col("vec_id").alias("id"), F.col("embedding").alias("v"),
        F.col("cdot").alias("cd"), F.lit("c").alias("role"),
    )
    both = qx.unionByName(cx)
    out_schema = T.StructType(
        [
            T.StructField("c_label", T.IntegerType()),
            T.StructField("vec_id", T.LongType()),
        ]
    )
    empty = pd.DataFrame({"c_label": [], "vec_id": []}).astype(
        {"c_label": "int32", "vec_id": "int64"}
    )

    def drop_kernel(pdf):
        qs = pdf[pdf["role"] == "q"]
        cs = pdf[pdf["role"] == "c"]
        if qs.empty or cs.empty:
            return empty
        q = np.stack(qs["v"].to_numpy()).astype(np.float64)
        c = np.stack(cs["v"].to_numpy()).astype(np.float64)
        qids = qs["id"].to_numpy(dtype=np.int64)
        cids = cs["id"].to_numpy(dtype=np.int64)
        qn = np.sqrt((q * q).sum(axis=1))
        cn = np.sqrt((c * c).sum(axis=1))
        cos6 = np.round((q @ c.T) / np.outer(qn, cn), 6)
        keep = (qids[:, None] < cids[None, :]) & (cos6 >= 0.35)
        qi, ci = np.nonzero(keep)
        if qi.size == 0:
            return empty
        cda = qs["cd"].to_numpy(dtype=np.float64)[qi]
        cdb = cs["cd"].to_numpy(dtype=np.float64)[ci]
        a_drops = (cda > cdb) | ((cda == cdb) & (qids[qi] > cids[ci]))
        return pd.DataFrame(
            {
                "c_label": np.full(qi.size, pdf["c_label"].iloc[0], dtype="int32"),
                "vec_id": np.where(a_drops, qids[qi], cids[ci]),
            }
        )

    # pin the pre-kernel exchange at defaultParallelism (AQE's bytes-based
    # coalescing would serialize the GEMMs for a ~MB-scale shuffle)
    dropped = (
        both.repartition(par, "c_label", "qb", "cb")
        .groupBy("c_label", "qb", "cb")
        .applyInPandas(drop_kernel, schema=out_schema)
        .distinct()
    )
    marked = assign.join(
        dropped.withColumn("is_dropped", F.lit(1)), ["c_label", "vec_id"], "left"
    )
    return marked.groupBy("c_label").agg(
        F.count("*").alias("n_members"),
        F.count("is_dropped").cast("long").alias("n_dropped"),
        (F.count("*") - F.count("is_dropped")).alias("n_kept"),
    )


@query(
    "events_seasonal_residuals",
    oracle="""
    WITH v AS (
        SELECT CAST(ts AS DATE) AS d,
               CAST(EXTRACT(hour FROM ts) AS INT) AS hod,
               CAST(ROUND(value * 100) AS BIGINT) AS vc
        FROM events
    ),
    hod_rate AS (
        SELECT hod, CAST(SUM(vc) AS BIGINT) AS s_h, COUNT(*) AS n_h
        FROM v GROUP BY hod
    ),
    day_hod AS (
        SELECT d, v.hod, COUNT(*) AS cnt, CAST(SUM(vc) AS BIGINT) AS s_dh
        FROM v GROUP BY d, v.hod
    ),
    terms AS (
        SELECT d, cnt, s_dh,
               (cnt * s_h) // n_h AS q,
               ((cnt * s_h) % n_h) * 1.0 / n_h AS rf
        FROM day_hod JOIN hod_rate USING (hod)
    ),
    daily AS (
        SELECT d,
               CAST(SUM(cnt) AS BIGINT) AS n,
               CAST(SUM(s_dh) AS BIGINT) AS actual_c,
               CAST(SUM(q) AS BIGINT) AS exp_q,
               SUM(rf) AS exp_rf
        FROM terms GROUP BY d
    )
    SELECT STRFTIME(d, '%Y-%m-%d') AS day, n,
           ROUND(actual_c * 1.0 / n / 100, 4) AS actual_mean,
           ROUND((exp_q + exp_rf) / n / 100, 4) AS expected_mean,
           ROUND((actual_c - exp_q - exp_rf) / n / 100, 4) AS mean_residual
    FROM daily
    """,
)
def events_seasonal_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal decomposition against an hour-of-day baseline: each day's
    expected mean = Σ_h (its hour-h event count × the global hour-h rate),
    residual = actual − expected — the classic 'is today anomalous after
    removing the diurnal cycle' monitor. Exact-arithmetic discipline:
    values fix to cents, hour rates decompose as integer quotient +
    sub-unit remainder fractions (≤24 per day), so both engines do
    bit-identical arithmetic (the ANOVA pattern applied to time series).

    Scale shape: two map-side-combined groupBys (per-hour-of-day: 24 rows;
    per-day-hour: days×24 rows) + a broadcast join — the raw corpus is
    scanned once and never re-shuffled at event grain."""
    e = table(spark, sf_dir, "events")
    v = e.select(
        F.col("ts").cast("date").alias("d"),
        F.hour("ts").alias("hod"),
        F.round(F.col("value") * 100).cast("long").alias("vc"),
    )
    hod_rate = v.groupBy("hod").agg(
        F.sum("vc").cast("long").alias("s_h"), F.count("*").alias("n_h")
    )
    day_hod = v.groupBy("d", "hod").agg(
        F.count("*").alias("cnt"), F.sum("vc").cast("long").alias("s_dh")
    )
    terms = day_hod.join(F.broadcast(hod_rate), "hod").select(
        "d",
        "cnt",
        "s_dh",
        F.expr("(cnt * s_h) div n_h").alias("q"),
        (((F.col("cnt") * F.col("s_h")) % F.col("n_h")) * 1.0 / F.col("n_h")).alias("rf"),
    )
    daily = terms.groupBy("d").agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum("s_dh").cast("long").alias("actual_c"),
        F.sum("q").cast("long").alias("exp_q"),
        F.sum("rf").alias("exp_rf"),
    )
    return daily.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "n",
        F.round(F.col("actual_c") * 1.0 / F.col("n") / 100, 4).alias("actual_mean"),
        F.round((F.col("exp_q") + F.col("exp_rf")) / F.col("n") / 100, 4).alias("expected_mean"),
        F.round(
            (F.col("actual_c") - F.col("exp_q") - F.col("exp_rf")) / F.col("n") / 100, 4
        ).alias("mean_residual"),
    )


@query(
    "fn_url_parse",
    oracle="""
    SELECT o_orderkey,
           'shop.example.com' AS host,
           '/orders/' || CAST(o_orderkey AS VARCHAR) AS path,
           'status=' || o_orderstatus AS query,
           o_orderstatus AS status_param
    FROM orders WHERE o_orderkey < 2000
    """,
)
def fn_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing family: each order serializes to
    https://shop.example.com/orders/<key>?status=<s> and parse_url pulls
    HOST / PATH / QUERY / QUERY:status back out — identity oracle proves
    the serialize→parse round trip (the fn_xpath discipline for URLs, the
    log-analytics workhorse for the reference's ingest domain).

    Scale shape: pure per-row JVM expressions — no UDF, no shuffle."""
    o = table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 2000)
    url = F.concat(
        F.lit("https://shop.example.com/orders/"),
        F.col("o_orderkey"),
        F.lit("?status="),
        F.col("o_orderstatus"),
    )
    return o.select("o_orderkey", url.alias("__url")).select(
        "o_orderkey",
        F.parse_url(F.col("__url"), F.lit("HOST")).alias("host"),
        F.parse_url(F.col("__url"), F.lit("PATH")).alias("path"),
        F.parse_url(F.col("__url"), F.lit("QUERY")).alias("query"),
        F.parse_url(F.col("__url"), F.lit("QUERY"), F.lit("status")).alias("status_param"),
    )
