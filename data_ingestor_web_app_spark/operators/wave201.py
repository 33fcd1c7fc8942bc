"""Wave-201: clustering-agreement metrics (ARI / Fowlkes-Mallows /
purity and NMI / V-measure) between the embedding labels and a
derandomized 3-plane LSH partition, plus a sequential quality-filter
funnel with per-rule attrition.

The agreement pair answers "does my cheap LSH partition recover the real
clusters?" — the exact question before trusting bucket-local ops
(sim_lof_bucketed, dedup_embedding) at 100 TB. Every pair-counting core
is an exact integer (C(n,2) sums cross-multiplied before the one double
division); the information-theoretic set runs ordered ln-folds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query
from data_ingestor_web_app_spark.llm.vector_common import (
    hyperplanes,
    plane_micro_dot,
    planes_values_sql,
)

_DEC = "decimal(38,0)"
_NPL = 3  # sub-LSH planes -> 8 partitions


def _bucket3_ctes() -> str:
    """DuckDB CTE: 3-plane sign-bit bucket per vector (planes 0..2 of the
    shared seeded hyperplane matrix, exact micro-int projections)."""
    return f"""planes(p, pv) AS (VALUES {planes_values_sql()}),
    ex AS (SELECT vec_id, label, UNNEST(embedding) AS x,
                  GENERATE_SUBSCRIPTS(embedding, 1) AS i
           FROM embeddings),
    pd AS (
        SELECT ex.vec_id, ex.label, pl.p,
               SUM(CAST(FLOOR(CAST(ex.x AS DOUBLE) * pl.pv[ex.i] * 1e9)
                   AS BIGINT)) AS d
        FROM ex CROSS JOIN planes pl
        WHERE pl.p < {_NPL}
        GROUP BY ex.vec_id, ex.label, pl.p
    ),
    asg AS (
        SELECT vec_id, label AS u,
               CAST(SUM(CASE WHEN d > 0 THEN 1 << p ELSE 0 END) AS BIGINT)
                   AS v
        FROM pd GROUP BY vec_id, label
    ),
    cont AS (
        SELECT u, v, CAST(COUNT(*) AS BIGINT) AS nij
        FROM asg GROUP BY u, v
    ),
    au AS (SELECT u, CAST(SUM(nij) AS BIGINT) AS ai FROM cont GROUP BY u),
    bv AS (SELECT v, CAST(SUM(nij) AS BIGINT) AS bj FROM cont GROUP BY v),
    tot AS (SELECT CAST(SUM(nij) AS BIGINT) AS n FROM cont)"""


def _spark_contingency(spark: SparkSession, sf_dir: str):
    emb = table(spark, sf_dir, "embeddings")
    # r11: projections via the shared one-literal plane matrix
    # (vector_common.micro_dots_all; entries 1.._NPL are bit-equal to the
    # old per-plane folds) — same Catalyst planning-cost fix as sim_ann_lsh.
    from data_ingestor_web_app_spark.llm.vector_common import micro_dots_all

    pd_base = emb.select("label", micro_dots_all("embedding").alias("pd"))
    bucket = sum(
        F.when(F.element_at(F.col("pd"), p + 1) > 0, 1 << p).otherwise(0)
        for p in range(_NPL)
    )
    asg = pd_base.select(
        F.col("label").alias("u"), bucket.cast("long").alias("v")
    )
    cont = asg.groupBy("u", "v").agg(F.count("*").cast("long").alias("nij"))
    au = cont.groupBy("u").agg(F.sum("nij").cast("long").alias("ai"))
    bv = cont.groupBy("v").agg(F.sum("nij").cast("long").alias("bj"))
    tot = cont.agg(F.sum("nij").cast("long").alias("n"))
    return cont, au, bv, tot


@query(
    "sim_cluster_agreement",
    oracle=f"""
    WITH {_bucket3_ctes()},
    s AS (
        SELECT CAST(SUM(nij * (nij - 1) / 2) AS HUGEINT) AS sij
        FROM cont
    ),
    sa AS (SELECT CAST(SUM(ai * (ai - 1) / 2) AS HUGEINT) AS sa FROM au),
    sb AS (SELECT CAST(SUM(bj * (bj - 1) / 2) AS HUGEINT) AS sb FROM bv),
    pur AS (
        SELECT CAST(SUM(mx) AS BIGINT) AS pure
        FROM (SELECT v, MAX(nij) AS mx FROM cont GROUP BY v)
    )
    SELECT t.n,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM au) AS k_true,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM bv) AS k_pred,
           ROUND(CAST(2 * (sij * (CAST(t.n AS HUGEINT) * (t.n - 1) / 2)
                           - sa.sa * sb.sb) AS DOUBLE)
                 / CAST((sa.sa + sb.sb)
                        * (CAST(t.n AS HUGEINT) * (t.n - 1) / 2)
                        - 2 * sa.sa * sb.sb AS DOUBLE), 6) AS ari,
           ROUND(CAST(s.sij AS DOUBLE)
                 / SQRT(CAST(sa.sa AS DOUBLE) * CAST(sb.sb AS DOUBLE)),
                 6) AS fowlkes_mallows,
           ROUND(pur.pure / CAST(t.n AS DOUBLE), 6) AS purity
    FROM s, sa, sb, pur, tot t
    """,
)
def sim_cluster_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair-counting agreement between the ground-truth labels and the
    3-plane LSH sign partition: Adjusted Rand Index (chance-corrected
    pair agreement), Fowlkes-Mallows (geometric mean of pair
    precision/recall), and purity. The go/no-go check before running
    bucket-local algorithms on an LSH partition at scale — if ARI is
    near 0, cell-local dedup/LOF results are meaningless.

    Determinism: the contingency table and every C(x,2) sum are exact
    integers; ARI cross-multiplies to an integer numerator/denominator
    (x2 to clear the /2) before its single double division; the bucket
    bits ride the shared exact micro-int projections (vector_common).

    Scale shape: one groupBy(label, bucket) builds the contingency table
    (k*2^planes rows); everything downstream is constant-size."""
    cont, au, bv, tot = _spark_contingency(spark, sf_dir)
    c2 = lambda c: (F.col(c).cast(_DEC) * (F.col(c) - 1) / 2).cast(_DEC)  # noqa: E731
    s = cont.agg(F.sum(c2("nij")).alias("sij"))
    sa = au.agg(F.sum(c2("ai")).alias("sa"))
    sb = bv.agg(F.sum(c2("bj")).alias("sb"))
    ku = au.agg(F.count("*").cast("long").alias("k_true"))
    kv = bv.agg(F.count("*").cast("long").alias("k_pred"))
    pur = (
        cont.groupBy("v")
        .agg(F.max("nij").alias("mx"))
        .agg(F.sum("mx").cast("long").alias("pure"))
    )
    j = (
        s.crossJoin(sa)
        .crossJoin(sb)
        .crossJoin(pur)
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ku))
        .crossJoin(F.broadcast(kv))
    )
    cn = (F.col("n").cast(_DEC) * (F.col("n") - 1) / 2).cast(_DEC)
    return j.select(
        "n",
        "k_true",
        "k_pred",
        F.round(
            (2 * (F.col("sij") * cn - F.col("sa") * F.col("sb"))).cast(
                "double"
            )
            / (
                (F.col("sa") + F.col("sb")) * cn
                - 2 * F.col("sa") * F.col("sb")
            ).cast("double"),
            6,
        ).alias("ari"),
        F.round(
            F.col("sij").cast("double")
            / F.sqrt(F.col("sa").cast("double") * F.col("sb").cast("double")),
            6,
        ).alias("fowlkes_mallows"),
        F.round(F.col("pure") / F.col("n").cast("double"), 6).alias(
            "purity"
        ),
    )


@query(
    "sim_cluster_nmi",
    oracle=f"""
    WITH {_bucket3_ctes()},
    mi AS (
        SELECT LIST_REDUCE(
                   LIST(nij * LN(CAST(t.n AS DOUBLE) * nij
                                 / (CAST(au.ai AS DOUBLE) * bv.bj))
                        ORDER BY cont.u, cont.v),
                   (x, y) -> x + y) / t.n AS i_uv
        FROM cont JOIN au ON au.u = cont.u
        JOIN bv ON bv.v = cont.v, tot t
        GROUP BY t.n
    ),
    hu AS (
        SELECT LN(CAST(t.n AS DOUBLE))
               - LIST_REDUCE(LIST(ai * LN(CAST(ai AS DOUBLE))
                                  ORDER BY u), (x, y) -> x + y) / t.n
                   AS h_u
        FROM au, tot t GROUP BY t.n
    ),
    hv AS (
        SELECT LN(CAST(t.n AS DOUBLE))
               - LIST_REDUCE(LIST(bj * LN(CAST(bj AS DOUBLE))
                                  ORDER BY v), (x, y) -> x + y) / t.n
                   AS h_v
        FROM bv, tot t GROUP BY t.n
    )
    SELECT ROUND(i_uv, 6) AS mutual_info,
           ROUND(i_uv / SQRT(h_u * h_v), 6) AS nmi_sqrt,
           ROUND(i_uv / h_u, 6) AS homogeneity,
           ROUND(i_uv / h_v, 6) AS completeness,
           ROUND(2 * (i_uv / h_u) * (i_uv / h_v)
                 / (i_uv / h_u + i_uv / h_v), 6) AS v_measure
    FROM mi, hu, hv
    """,
)
def sim_cluster_nmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Information-theoretic agreement between labels and the 3-plane
    LSH partition: mutual information, sqrt-normalized NMI, homogeneity
    (= I/H(labels)), completeness (= I/H(buckets)), and the V-measure
    harmonic mean. The pair-counting twin (sim_cluster_agreement) is
    blind to cluster-size structure; NMI/V-measure weight it.

    Determinism: the only float work is ln over exact integer ratios,
    accumulated by ORDERED (u, v) folds in both engines, then four
    divisions; no unordered float SUM anywhere.

    Scale shape: identical to sim_cluster_agreement — contingency table
    then constant-size arithmetic."""
    cont, au, bv, tot = _spark_contingency(spark, sf_dir)
    mi = (
        cont.join(au, "u")
        .join(bv, "v")
        .crossJoin(F.broadcast(tot))
        .select(
            "u",
            "v",
            (
                F.col("nij")
                * F.log(
                    F.col("n").cast("double")
                    * F.col("nij")
                    / (F.col("ai").cast("double") * F.col("bj"))
                )
            ).alias("term"),
            "n",
        )
        .groupBy("n")
        .agg(
            (
                F.aggregate(
                    F.transform(
                        F.sort_array(
                            F.collect_list(F.struct("u", "v", "term"))
                        ),
                        lambda t: t.term,
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                / F.col("n")
            ).alias("i_uv")
        )
    )
    ent = lambda df, key, cnt: (  # noqa: E731
        df.crossJoin(F.broadcast(tot))
        .select(
            key,
            (F.col(cnt) * F.log(F.col(cnt).cast("double"))).alias("t"),
            "n",
        )
        .groupBy("n")
        .agg(
            (
                F.log(F.col("n").cast("double"))
                - F.aggregate(
                    F.transform(
                        F.sort_array(F.collect_list(F.struct(key, "t"))),
                        lambda s: s.t,
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                / F.col("n")
            ).alias("h")
        )
        .select("h")
    )
    hu = ent(au, "u", "ai").withColumnRenamed("h", "h_u")
    hv = ent(bv, "v", "bj").withColumnRenamed("h", "h_v")
    j = mi.crossJoin(hu).crossJoin(hv)
    h = F.col("i_uv") / F.col("h_u")
    c = F.col("i_uv") / F.col("h_v")
    return j.select(
        F.round("i_uv", 6).alias("mutual_info"),
        F.round(F.col("i_uv") / F.sqrt(F.col("h_u") * F.col("h_v")), 6).alias(
            "nmi_sqrt"
        ),
        F.round(h, 6).alias("homogeneity"),
        F.round(c, 6).alias("completeness"),
        F.round(2 * h * c / (h + c), 6).alias("v_measure"),
    )


_RULES = [
    ("min_chars_100", "n_chars >= 100"),
    ("min_tokens_20", "n_toks >= 20"),
    ("mean_toklen_2p5_8", "10 * sum_len >= 25 * n_toks AND 10 * sum_len <= 80 * n_toks"),
    ("top_token_frac_10pct", "10 * max_tok <= n_toks"),
    ("exact_dedup_keep_first", "rn = 1"),
]


@query(
    "pipeline_filter_funnel",
    oracle=f"""
    WITH m AS (
        SELECT doc_id,
               CAST(LEN(text) AS BIGINT) AS n_chars,
               CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_toks,
               CAST(LEN(REPLACE(text, ' ', '')) AS BIGINT) AS sum_len,
               (SELECT CAST(MAX(c) AS BIGINT) FROM (
                    SELECT COUNT(*) AS c
                    FROM UNNEST(STRING_SPLIT(text, ' ')) AS t(tok)
                    GROUP BY tok)) AS max_tok,
               ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id)
                   AS rn
        FROM documents
    ),
    flags AS (
        SELECT doc_id,
               CASE WHEN {_RULES[0][1]} THEN 1 ELSE 0 END AS p1,
               CASE WHEN {_RULES[0][1]} AND {_RULES[1][1]}
                    THEN 1 ELSE 0 END AS p2,
               CASE WHEN {_RULES[0][1]} AND {_RULES[1][1]}
                         AND {_RULES[2][1]} THEN 1 ELSE 0 END AS p3,
               CASE WHEN {_RULES[0][1]} AND {_RULES[1][1]}
                         AND {_RULES[2][1]} AND {_RULES[3][1]}
                    THEN 1 ELSE 0 END AS p4,
               CASE WHEN {_RULES[0][1]} AND {_RULES[1][1]}
                         AND {_RULES[2][1]} AND {_RULES[3][1]}
                         AND {_RULES[4][1]} THEN 1 ELSE 0 END AS p5
        FROM m
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS s0,
               CAST(SUM(p1) AS BIGINT) AS s1,
               CAST(SUM(p2) AS BIGINT) AS s2,
               CAST(SUM(p3) AS BIGINT) AS s3,
               CAST(SUM(p4) AS BIGINT) AS s4,
               CAST(SUM(p5) AS BIGINT) AS s5
        FROM flags
    )
    SELECT 1 AS stage, '{_RULES[0][0]}' AS rule, s0 AS docs_in,
           s0 - s1 AS dropped, s1 AS docs_out FROM agg
    UNION ALL SELECT 2, '{_RULES[1][0]}', s1, s1 - s2, s2 FROM agg
    UNION ALL SELECT 3, '{_RULES[2][0]}', s2, s2 - s3, s3 FROM agg
    UNION ALL SELECT 4, '{_RULES[3][0]}', s3, s3 - s4, s4 FROM agg
    UNION ALL SELECT 5, '{_RULES[4][0]}', s4, s4 - s5, s5 FROM agg
    ORDER BY stage
    """,
)
def pipeline_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential quality-filter funnel with per-rule attrition — the
    shape every production corpus pipeline reports: min length, min
    tokens, mean-token-length band, top-token concentration, then exact
    dedup (keep first). Each row shows docs entering the stage, dropped
    BY that stage (given all earlier stages passed), and surviving —
    so the owner can see which rule is eating the corpus.

    Determinism: every rule is an exact-integer comparison (the
    mean-token-length band and top-token fraction cross-multiply instead
    of dividing); dedup keep-first orders by doc_id.

    Scale shape: one pass computes all per-doc metrics (the top-token
    count is a per-doc groupBy, document-partitioned); the dedup window
    partitions by text hash; the funnel itself is one aggregate row
    exploded to 5."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "text", F.posexplode(F.split("text", " ")).alias("i", "tok")
    )
    maxtok = (
        toks.groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").cast("long").alias("max_tok"))
    )
    m = (
        docs.select(
            "doc_id",
            "text",
            F.length("text").cast("long").alias("n_chars"),
            F.size(F.split("text", " ")).cast("long").alias("n_toks"),
            F.length(F.regexp_replace("text", " ", ""))
            .cast("long")
            .alias("sum_len"),
            F.row_number()
            .over(Window.partitionBy("text").orderBy("doc_id"))
            .alias("rn"),
        )
        .join(maxtok, "doc_id")
    )
    conds = [
        F.col("n_chars") >= 100,
        F.col("n_toks") >= 20,
        (10 * F.col("sum_len") >= 25 * F.col("n_toks"))
        & (10 * F.col("sum_len") <= 80 * F.col("n_toks")),
        10 * F.col("max_tok") <= F.col("n_toks"),
        F.col("rn") == 1,
    ]
    flags = m
    acc = F.lit(True)
    for i, cond in enumerate(conds, 1):
        acc = acc & cond
        flags = flags.withColumn(
            f"p{i}", F.when(acc, 1).otherwise(0)
        )
    agg = flags.agg(
        F.count("*").cast("long").alias("s0"),
        *[F.sum(f"p{i}").cast("long").alias(f"s{i}") for i in range(1, 6)],
    )
    stages = None
    for i, (rule, _) in enumerate(_RULES, 1):
        row = agg.select(
            F.lit(i).cast("int").alias("stage"),
            F.lit(rule).alias("rule"),
            F.col(f"s{i - 1}").alias("docs_in"),
            (F.col(f"s{i - 1}") - F.col(f"s{i}")).alias("dropped"),
            F.col(f"s{i}").alias("docs_out"),
        )
        stages = row if stages is None else stages.unionAll(row)
    return stages.orderBy("stage")
