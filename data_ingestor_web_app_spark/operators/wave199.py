"""Wave-199: duplicate-5-gram character coverage (the RefinedWeb
repetition filter), reciprocal-rank fusion of two retrieval rankings,
and closed-form business-day counts.

The dup-ngram coverage metric is the exact character-span union the
RefinedWeb/MassiveText pipelines compute: what FRACTION of a document's
characters sits inside some 5-gram that repeats within the document.
Span union runs as gaps-and-islands per document — every offset is an
exact integer prefix sum, and island detection orders by the strictly
increasing span start, so there is no tie to break.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_N = 5  # n-gram size for the repetition filter
_RRF_K = 60  # standard reciprocal-rank-fusion constant
_NPROBE = 3
_TOPK = 5


@query(
    "pipeline_dupngram_char_coverage",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, i - 1 AS pos, toks[i] AS tok,
               CAST(LEN(toks[i]) AS BIGINT) AS tlen
        FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS toks
              FROM documents),
             UNNEST(GENERATE_SERIES(1, LEN(toks))) AS t(i)
    ),
    offs AS (
        SELECT doc_id, pos, tok, tlen,
               CAST(COALESCE(SUM(tlen + 1) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cstart
        FROM toks
    ),
    grams AS (
        SELECT doc_id, pos, cstart,
               LEAD(cstart, {_N - 1}) OVER (PARTITION BY doc_id
                   ORDER BY pos)
               + LEAD(tlen, {_N - 1}) OVER (PARTITION BY doc_id
                   ORDER BY pos) AS cend,
               tok || ' ' ||
               LEAD(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) || ' '
               || LEAD(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos) ||
               ' ' ||
               LEAD(tok, 3) OVER (PARTITION BY doc_id ORDER BY pos) || ' '
               || LEAD(tok, 4) OVER (PARTITION BY doc_id ORDER BY pos)
                   AS gram
        FROM offs
    ),
    valid AS (SELECT * FROM grams WHERE cend IS NOT NULL),
    dup AS (
        SELECT doc_id, gram FROM valid
        GROUP BY doc_id, gram HAVING COUNT(*) >= 2
    ),
    spans AS (
        SELECT v.doc_id, v.pos, v.cstart, v.cend
        FROM valid v JOIN dup d
          ON d.doc_id = v.doc_id AND d.gram = v.gram
    ),
    isl AS (
        SELECT doc_id, cstart, cend,
               CASE WHEN cstart > COALESCE(MAX(cend) OVER (
                        PARTITION BY doc_id ORDER BY cstart
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        -1)
                    THEN 1 ELSE 0 END AS is_new
        FROM spans
    ),
    grp AS (
        SELECT doc_id, cstart, cend,
               SUM(is_new) OVER (PARTITION BY doc_id ORDER BY cstart
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS island
        FROM isl
    ),
    cov AS (
        SELECT doc_id,
               CAST(SUM(ilen) AS BIGINT) AS dup_chars
        FROM (SELECT doc_id, island,
                     MAX(cend) - MIN(cstart) AS ilen
              FROM grp GROUP BY doc_id, island)
        GROUP BY doc_id
    )
    SELECT d.doc_id, CAST(LEN(d.text) AS BIGINT) AS n_chars,
           COALESCE(c.dup_chars, 0) AS dup_ngram_chars,
           ROUND(COALESCE(c.dup_chars, 0)
                 / CAST(LEN(d.text) AS DOUBLE), 6) AS coverage
    FROM documents d LEFT JOIN cov c ON c.doc_id = d.doc_id
    WHERE LEN(d.text) > 0
    """,
)
def pipeline_dupngram_char_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb/MassiveText repetition filter: the fraction of each
    document's characters covered by the UNION of all {_N}-gram spans
    that occur at least twice within the document. Docs above ~0.10-0.15
    are boilerplate/spam and get dropped before training; unlike a
    top-ngram fraction, the span union doesn't double-count overlaps.

    Determinism: character offsets are exact integer prefix sums of
    token lengths; span union is gaps-and-islands ordered by the
    STRICTLY increasing span start (each token advances the offset by
    len+1 >= 1, so no ordering tie exists); one rounded division.

    Scale shape: every window partitions BY DOCUMENT — embarrassingly
    parallel across docs; the duplicate-gram check is a per-doc groupBy
    (map-side combinable). Nothing global, nothing quadratic."""
    docs = table(spark, sf_dir, "documents").where(F.length("text") > 0)
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    ).withColumn("tlen", F.length("tok").cast("long"))
    bydoc = Window.partitionBy("doc_id").orderBy("pos")
    offs = toks.withColumn(
        "cstart",
        F.coalesce(
            F.sum(F.col("tlen") + 1).over(
                bydoc.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).cast("long"),
    )
    grams = offs.select(
        "doc_id",
        "pos",
        "cstart",
        (
            F.lead("cstart", _N - 1).over(bydoc)
            + F.lead("tlen", _N - 1).over(bydoc)
        ).alias("cend"),
        F.concat_ws(
            " ",
            F.col("tok"),
            F.lead("tok", 1).over(bydoc),
            F.lead("tok", 2).over(bydoc),
            F.lead("tok", 3).over(bydoc),
            F.lead("tok", 4).over(bydoc),
        ).alias("gram"),
    ).where(F.col("cend").isNotNull())
    dup = (
        grams.groupBy("doc_id", "gram")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") >= 2)
        .select("doc_id", "gram")
    )
    spans = grams.join(dup, ["doc_id", "gram"]).select(
        "doc_id", "cstart", "cend"
    )
    bystart = Window.partitionBy("doc_id").orderBy("cstart")
    isl = spans.withColumn(
        "is_new",
        F.when(
            F.col("cstart")
            > F.coalesce(
                F.max("cend").over(
                    bystart.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(-1),
            ),
            1,
        ).otherwise(0),
    )
    grp = isl.withColumn(
        "island",
        F.sum("is_new").over(
            bystart.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    cov = (
        grp.groupBy("doc_id", "island")
        .agg((F.max("cend") - F.min("cstart")).alias("ilen"))
        .groupBy("doc_id")
        .agg(F.sum("ilen").cast("long").alias("dup_chars"))
    )
    return docs.join(cov, "doc_id", "left").select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.coalesce("dup_chars", F.lit(0)).cast("long").alias(
            "dup_ngram_chars"
        ),
        F.round(
            F.coalesce("dup_chars", F.lit(0))
            / F.length("text").cast("double"),
            6,
        ).alias("coverage"),
    )


@query(
    "sim_rank_fusion_rrf",
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
    xx AS (
        SELECT vec_id, CAST(SUM(qv * qv) AS BIGINT) AS xx
        FROM qd GROUP BY vec_id
    ),
    probes AS (SELECT vec_id AS pid FROM q ORDER BY vec_id
               LIMIT {_NPROBE}),
    dots AS (
        SELECT p.pid, o.vec_id AS nid,
               CAST(SUM(a.qv * b.qv) AS BIGINT) AS dot
        FROM probes p
        JOIN q o ON o.vec_id <> p.pid
        JOIN qd a ON a.vec_id = p.pid
        JOIN qd b ON b.vec_id = o.vec_id AND b.i = a.i
        GROUP BY p.pid, o.vec_id
    ),
    ranked AS (
        SELECT d.pid, d.nid,
               ROW_NUMBER() OVER (PARTITION BY d.pid
                   ORDER BY d.dot DESC, d.nid) AS rank_dot,
               ROW_NUMBER() OVER (PARTITION BY d.pid
                   ORDER BY pq.xx + nx.xx - 2 * d.dot ASC, d.nid)
                   AS rank_l2
        FROM dots d
        JOIN xx pq ON pq.vec_id = d.pid
        JOIN xx nx ON nx.vec_id = d.nid
    ),
    fused AS (
        SELECT pid, nid, rank_dot, rank_l2,
               CAST(FLOOR(1e9 / ({_RRF_K} + rank_dot)) AS BIGINT)
               + CAST(FLOOR(1e9 / ({_RRF_K} + rank_l2)) AS BIGINT)
                   AS rrf_nano,
               ROW_NUMBER() OVER (PARTITION BY pid
                   ORDER BY CAST(FLOOR(1e9 / ({_RRF_K} + rank_dot))
                                 AS BIGINT)
                            + CAST(FLOOR(1e9 / ({_RRF_K} + rank_l2))
                                   AS BIGINT) DESC, nid) AS fused_rank
        FROM ranked
    )
    SELECT pid AS probe_id, nid AS neighbor_id,
           CAST(rank_dot AS BIGINT) AS rank_dot,
           CAST(rank_l2 AS BIGINT) AS rank_l2,
           rrf_nano, CAST(fused_rank AS BIGINT) AS fused_rank
    FROM fused WHERE fused_rank <= {_TOPK}
    """,
)
def sim_rank_fusion_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two retrieval rankings — inner-product
    and L2 — per probe: RRF(x) = sum_r 1/({_RRF_K} + rank_r(x)), the
    standard zero-tuning way to combine heterogeneous retrievers
    (Cormack et al.); here it demonstrably re-orders results the two
    metrics disagree on (L2 penalizes long corpus vectors, dot rewards
    them).

    Determinism: both input ranks come from exact-integer scores with
    id tie-breaks; the fused score floors each reciprocal to a nano-int
    so the sum and its ordering are exact.

    Scale shape: probes broadcast against the corpus (linear scan);
    ranks are per-probe windows over per-probe partitions."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * F.lit(1e6)).cast("long"),
        ).alias("qx"),
    )
    xx = q.select(
        "vec_id",
        F.aggregate(
            F.transform("qx", lambda v: v * v),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("xx"),
    )
    probes = (
        q.join(xx, "vec_id")
        .orderBy("vec_id")
        .limit(_NPROBE)
        .select(
            F.col("vec_id").alias("pid"),
            F.col("qx").alias("px"),
            F.col("xx").alias("pxx"),
        )
    )
    dot = F.aggregate(
        F.zip_with("px", "qx", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    dots = (
        q.join(xx, "vec_id")
        .crossJoin(F.broadcast(probes))
        .where(F.col("vec_id") != F.col("pid"))
        .select(
            "pid",
            F.col("vec_id").alias("nid"),
            dot.alias("dot"),
            (F.col("pxx") + F.col("xx") - 2 * dot).alias("l2sq"),
        )
    )
    wd = Window.partitionBy("pid").orderBy(F.col("dot").desc(), "nid")
    wl = Window.partitionBy("pid").orderBy(F.col("l2sq").asc(), "nid")
    ranked = dots.withColumn(
        "rank_dot", F.row_number().over(wd).cast("long")
    ).withColumn("rank_l2", F.row_number().over(wl).cast("long"))
    rrf = (
        F.floor(F.lit(1e9) / (F.lit(_RRF_K) + F.col("rank_dot"))).cast("long")
        + F.floor(F.lit(1e9) / (F.lit(_RRF_K) + F.col("rank_l2"))).cast(
            "long"
        )
    )
    fused = ranked.withColumn("rrf_nano", rrf).withColumn(
        "fused_rank",
        F.row_number()
        .over(
            Window.partitionBy("pid").orderBy(
                F.col("rrf_nano").desc(), "nid"
            )
        )
        .cast("long"),
    )
    return fused.where(F.col("fused_rank") <= _TOPK).select(
        F.col("pid").alias("probe_id"),
        F.col("nid").alias("neighbor_id"),
        "rank_dot",
        "rank_l2",
        "rrf_nano",
        "fused_rank",
    )


@query(
    "fn_networkdays",
    oracle="""
    WITH li AS (
        SELECT l.l_orderkey, l.l_linenumber,
               CAST(DATEDIFF('day', DATE '1990-01-01', o.o_orderdate)
                    AS BIGINT) AS k1,
               CAST(DATEDIFF('day', DATE '1990-01-01', l.l_shipdate)
                    AS BIGINT) AS k2
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT l_orderkey, l_linenumber,
           k2 - k1 AS calendar_days,
           (5 * ((k2 + 1) // 7) + LEAST((k2 + 1) % 7, 5))
           - (5 * ((k1 + 1) // 7) + LEAST((k1 + 1) % 7, 5))
               AS business_days
    FROM li
    """,
)
def fn_networkdays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NETWORKDAYS-style business-day count from order date to ship date
    per lineitem (weekdays in (order, ship], weekends excluded)
    via the closed form g(k) = 5*floor(k/7) + min(k mod 7, 5) counted
    from a Monday anchor — no calendar table, no per-day explode. The
    spreadsheet-parity function every SLA/lead-time report needs.

    Determinism: pure integer arithmetic on exact datediffs. The anchor
    1990-01-01 is a Monday BEFORE every TPC-H date, so every shifted
    value is positive and // and % agree between the engines'
    division semantics.

    Scale shape: one orderkey equi-join (co-partitioned fact tables),
    then a row-local codegen expression — no further shuffle."""
    orders = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        F.datediff("o_orderdate", F.lit("1990-01-01").cast("date"))
        .cast("long")
        .alias("k1"),
    )
    li = (
        table(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            "l_linenumber",
            F.datediff("l_shipdate", F.lit("1990-01-01").cast("date"))
            .cast("long")
            .alias("k2"),
        )
        .join(orders, "l_orderkey")
    )

    def g(k):
        s = k + 1
        return 5 * (s / 7).cast("long") + F.least(s % 7, F.lit(5))

    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("k2") - F.col("k1")).alias("calendar_days"),
        (g(F.col("k2")) - g(F.col("k1"))).cast("long").alias("business_days"),
    )
