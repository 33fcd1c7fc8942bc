"""Wave-120: NDCG@10 retrieval evaluation with integer-scaled
discounts, a Kimball bridge-table weighted allocation, and histogram
equalization over the real PNG decode path.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

# integer-scaled DCG position discounts: w_p = round(1e6 / log2(p+1)).
# Literal table shared by both engines so DCG stays exact integer math.
_DCG_W = [round(1_000_000 / math.log2(p + 1)) for p in range(1, 11)]
_DCG_CUM = [sum(_DCG_W[:k]) for k in range(1, 11)]


@query(
    "model_ndcg_retrieval",
    oracle=f"""
    WITH qe AS (SELECT vec_id AS qid, label AS qlabel, embedding AS e
                FROM embeddings WHERE vec_id < 20),
    ue AS (SELECT vec_id, UNNEST(embedding) AS x,
                  GENERATE_SUBSCRIPTS(embedding, 1) AS i FROM embeddings),
    norms AS (SELECT vec_id, SQRT(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
                  AS nrm
              FROM ue GROUP BY vec_id),
    qx AS (SELECT qid, UNNEST(e) AS x, GENERATE_SUBSCRIPTS(e, 1) AS i FROM qe),
    dots AS (SELECT q.qid, u.vec_id AS nid,
                    SUM(CAST(q.x AS DOUBLE) * CAST(u.x AS DOUBLE)) AS dot
             FROM qx q JOIN ue u ON u.i = q.i AND u.vec_id <> q.qid
             GROUP BY q.qid, u.vec_id),
    ranked AS (
        SELECT d.qid, d.nid,
               ROW_NUMBER() OVER (PARTITION BY d.qid
                                  ORDER BY ROUND(d.dot / (nq.nrm * nn.nrm), 6)
                                           DESC, d.nid) AS rk,
               CASE WHEN en.label = q.qlabel THEN 1 ELSE 0 END AS rel
        FROM dots d
        JOIN norms nq ON nq.vec_id = d.qid
        JOIN norms nn ON nn.vec_id = d.nid
        JOIN embeddings en ON en.vec_id = d.nid
        JOIN qe q ON q.qid = d.qid
    ),
    top AS (SELECT * FROM ranked WHERE rk <= 10),
    scored AS (
        SELECT qid,
               CAST(SUM(rel) AS BIGINT) AS n_rel,
               CAST(SUM(rel * ([{",".join(str(w) for w in _DCG_W)}])[rk])
                    AS BIGINT) AS dcg_w
        FROM top GROUP BY qid
    )
    SELECT qid, n_rel, dcg_w,
           CAST(CASE WHEN n_rel > 0
                THEN ([{",".join(str(c) for c in _DCG_CUM)}])[n_rel]
                ELSE 0 END AS BIGINT) AS idcg_w,
           ROUND(CASE WHEN n_rel > 0 THEN CAST(dcg_w AS DOUBLE)
                 / ([{",".join(str(c) for c in _DCG_CUM)}])[n_rel] END, 6)
               AS ndcg_10
    FROM scored
    """,
)
def model_ndcg_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 retrieval evaluation (Järvelin & Kekäläinen 2002, public)
    of brute-force cosine ranking against same-label relevance: for each
    query vector (vec_id < 20) rank the corpus by cosine, mark neighbors
    sharing the query's label as relevant, and score DCG/IDCG with
    position discounts 1/log2(p+1) — the standard graded-ranking metric
    every embedding-quality dashboard reports next to recall@k.

    Determinism: discounts are integer-scaled literals (round(1e6/
    log2(p+1)), cumulative table for IDCG) injected identically into both
    engines, so DCG and IDCG are exact BIGINTs and NDCG is one division;
    ranking reuses the sim_cosine_topk convention (cosine rounded 6dp,
    neighbor-id tie-break).

    Scale shape: the bounded query side broadcasts; per-query top-10 is
    window state of size 10 after a group-limit pushdown; the label join
    is a broadcast of the tiny query frame plus one corpus-side lookup —
    the corpus never self-shuffles."""
    from data_ingestor_web_app_spark.llm.vector_common import dot, norm

    e = table(spark, sf_dir, "embeddings")
    base = e.select(
        "vec_id", "label", "embedding", norm(F.col("embedding")).alias("nrm")
    )
    q = base.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    pairs = base.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
    cos = F.round(
        dot(F.col("qe"), F.col("embedding")) / (F.col("qn") * F.col("nrm")), 6
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("nid"))
    top = (
        pairs.select(
            "qid",
            F.col("vec_id").alias("nid"),
            cos.alias("cosine"),
            F.when(F.col("label") == F.col("qlabel"), 1).otherwise(0).alias("rel"),
        )
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 10)
    )
    warr = F.array(*[F.lit(x) for x in _DCG_W])
    carr = F.array(*[F.lit(x) for x in _DCG_CUM])
    scored = top.groupBy("qid").agg(
        F.sum("rel").cast("long").alias("n_rel"),
        F.sum(F.col("rel") * F.element_at(warr, F.col("rk")))
        .cast("long")
        .alias("dcg_w"),
    )
    idcg = F.when(
        F.col("n_rel") > 0, F.element_at(carr, F.col("n_rel").cast("int"))
    ).otherwise(0)
    return scored.select(
        "qid",
        "n_rel",
        "dcg_w",
        idcg.cast("long").alias("idcg_w"),
        F.round(
            F.when(
                F.col("n_rel") > 0,
                F.col("dcg_w").cast("double")
                / F.element_at(carr, F.col("n_rel").cast("int")),
            ),
            6,
        ).alias("ndcg_10"),
    )


@query(
    "warehouse_bridge_allocation",
    oracle="""
    WITH lines AS (
        SELECT l_orderkey, l_partkey,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS line_cents,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                    OVER (PARTITION BY l_orderkey) AS BIGINT) AS tot_cents
        FROM lineitem
    ),
    alloc AS (
        SELECT p.p_brand AS brand,
               l.line_cents,
               (CAST(ROUND(o.o_totalprice * 100) AS BIGINT) * l.line_cents)
                   // l.tot_cents AS alloc_cents
        FROM lines l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN part p ON p.p_partkey = l.l_partkey
    )
    SELECT brand,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           ROUND(SUM(line_cents) / 100.0, 2) AS line_revenue,
           ROUND(SUM(alloc_cents) / 100.0, 2) AS allocated_header_revenue,
           ROUND(CAST(SUM(alloc_cents) AS DOUBLE)
                 / SUM(SUM(alloc_cents)) OVER (), 6) AS brand_share
    FROM alloc GROUP BY brand
    """,
)
def warehouse_bridge_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kimball bridge-table weighted allocation (dimensional modeling,
    public): the order header's total price is spread across its line
    items' part brands in proportion to line revenue — the
    many-to-many bridge (order x part) with an allocation factor that
    makes header-grain facts additive by brand without double counting.

    Determinism: allocations are exact integer floor divisions
    (header_cents * line_cents // order_total_cents) — the documented
    floor convention; every sum is BIGINT; shares are one final division.
    Floor residue (at most one cent per line) stays reconcilable:
    allocated <= header totals by construction.

    Scale shape: the per-order weight denominator is a window over the
    natural lineitem partitioning (co-partitioned with the orders join
    key), the part dim joins to supply the brand, and one groupBy
    produces the brand rollup — two co-located shuffles total, no
    fan-out beyond the bridge's own grain."""
    li = table(spark, sf_dir, "lineitem")
    wo = Window.partitionBy("l_orderkey")
    lines = li.select(
        "l_orderkey",
        "l_partkey",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("line_cents"),
    ).withColumn("tot_cents", F.sum("line_cents").over(wo))
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", F.round(F.col("o_totalprice") * 100).cast("long").alias("o_cents")
    )
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    alloc = (
        lines.join(o, lines.l_orderkey == o.o_orderkey)
        .join(p, lines.l_partkey == p.p_partkey)
        .select(
            F.col("p_brand").alias("brand"),
            "line_cents",
            F.floor(
                (F.col("o_cents") * F.col("line_cents")) / F.col("tot_cents")
            ).alias("alloc_cents"),
        )
    )
    out = alloc.groupBy("brand").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.round(F.sum("line_cents") / 100.0, 2).alias("line_revenue"),
        F.round(F.sum("alloc_cents") / 100.0, 2).alias("allocated_header_revenue"),
        F.sum("alloc_cents").alias("_alloc"),
    )
    wall = Window.partitionBy()
    return out.select(
        "brand",
        "n_lines",
        "line_revenue",
        "allocated_header_revenue",
        F.round(
            F.col("_alloc").cast("double") / F.sum("_alloc").over(wall), 6
        ).alias("brand_share"),
    )


@query(
    "mm_hist_equalize",
    oracle="""
    WITH docs AS (
        SELECT doc_id, 16 + doc_id % 16 AS width, 16 + (doc_id * 3) % 16 AS height
        FROM documents WHERE doc_id < 200
    ),
    ys AS (SELECT doc_id, width, height, UNNEST(RANGE(height)) AS y FROM docs),
    px AS (SELECT doc_id, width, height, y, UNNEST(RANGE(width)) AS x FROM ys),
    vals AS (
        SELECT doc_id, width, height,
               (x * 7 + y * 13 + doc_id) % 256 AS v
        FROM px
    ),
    hist AS (
        SELECT doc_id, width, height, v, CAST(COUNT(*) AS BIGINT) AS c
        FROM vals GROUP BY doc_id, width, height, v
    ),
    lut AS (
        SELECT doc_id, width, height, v, c,
               (255 * SUM(c) OVER (PARTITION BY doc_id ORDER BY v))
                   // (width * height) AS eq
        FROM hist
    )
    SELECT doc_id, CAST(width AS INT) AS width, CAST(height AS INT) AS height,
           CAST(COUNT(*) AS BIGINT) AS n_levels_pre,
           CAST(COUNT(DISTINCT eq) AS BIGINT) AS n_levels_post,
           CAST(SUM(c * v) AS BIGINT) AS pre_sum,
           CAST(SUM(c * eq) AS BIGINT) AS post_sum,
           CAST(MIN(eq) AS BIGINT) AS post_min,
           CAST(MAX(eq) AS BIGINT) AS post_max
    FROM lut GROUP BY doc_id, width, height
    """,
)
def mm_hist_equalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram equalization audit over REAL decoded PNGs (textbook
    image normalization, public): decode each image with the strict
    stdlib PNG decoder, build its 256-bin intensity histogram, apply the
    integer equalization LUT eq(v) = 255 * cdf(v) // n_pixels, and report
    pre/post level counts, intensity sums, and the post range — the
    contrast-normalization preprocessing step of a multimodal training
    pipeline, verified bit-exact against the analytic pixel formula.

    Determinism: the LUT is integer floor arithmetic on exact counts;
    every readout is an integer.

    Scale shape: decode + per-image histogram run inside one
    Arrow-batched mapInPandas pass (each image's state is 256 counters);
    nothing leaves the executor but the 9-column feature row per image —
    the oracle's exploded-pixel SQL is the spec, not the plan."""
    import numpy as np
    import pandas as pd

    from data_ingestor_web_app_spark.llm.codecs import png_decode_gray
    from data_ingestor_web_app_spark.llm.multimodal import _image_payloads

    payloads = _image_payloads(spark, sf_dir)

    def eq_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {
                k: []
                for k in (
                    "doc_id",
                    "width",
                    "height",
                    "n_levels_pre",
                    "n_levels_post",
                    "pre_sum",
                    "post_sum",
                    "post_min",
                    "post_max",
                )
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, pix = png_decode_gray(bytes(payload))
                arr = np.array(bytearray(pix), dtype=np.int64)
                hist = np.bincount(arr, minlength=256)
                cdf = np.cumsum(hist)
                lut = (255 * cdf) // (w * h)
                eq = lut[arr]
                rows["doc_id"].append(doc_id)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["n_levels_pre"].append(int((hist > 0).sum()))
                rows["n_levels_post"].append(int(len(np.unique(eq))))
                rows["pre_sum"].append(int(arr.sum()))
                rows["post_sum"].append(int(eq.sum()))
                rows["post_min"].append(int(eq.min()))
                rows["post_max"].append(int(eq.max()))
            yield pd.DataFrame(rows)

    return payloads.mapInPandas(
        eq_batches,
        schema=(
            "doc_id long, width int, height int, n_levels_pre long, "
            "n_levels_post long, pre_sum long, post_sum long, "
            "post_min long, post_max long"
        ),
    )
