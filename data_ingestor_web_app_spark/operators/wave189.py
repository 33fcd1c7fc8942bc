"""Wave-189: consistent-hash shard assignment with a re-shard movement
audit, Theil's uncertainty coefficient, and weekend odds ratios with
Woolf confidence intervals.

The consistent-hash ring is built in Python from md5 (public, identical
in hashlib / Spark / DuckDB) and injected as sorted literal arrays into
both plans — the ring is metadata (K*V entries), so baking it into the
plan is exactly what a real router does; only the per-document hash is
computed in-engine.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


def _ring(n_shards: int, vnodes: int) -> list[tuple[int, int]]:
    """(position, shard) pairs: 56-bit md5 of 'shard-{k}-vnode-{v}'."""
    pts = []
    for k in range(n_shards):
        for v in range(vnodes):
            h = hashlib.md5(f"shard-{k}-vnode-{v}".encode()).hexdigest()
            pts.append((int(h[:14], 16), k))
    pts.sort()
    return pts


_K8 = _ring(8, 16)
_K9 = _ring(9, 16)


def _ring_sql(pts: list[tuple[int, int]]) -> tuple[str, str]:
    """(positions array literal, shards array literal) — same text both
    engines. A sentinel entry (2^56, shard-of-ring-head) is appended so
    the clockwise-successor lookup ALWAYS finds an element: the wrap-
    around case needs no null branch (Spark's optimizer mis-folds
    element_at(arr, nullable-index) inside coalesce)."""
    wrapped = pts + [(1 << 56, pts[0][1])]
    pos = ", ".join(str(p) for p, _ in wrapped)
    shd = ", ".join(str(s) for _, s in wrapped)
    return pos, shd


_P8, _S8 = _ring_sql(_K8)
_P9, _S9 = _ring_sql(_K9)


@query(
    "pipeline_consistent_hash_shards",
    oracle=f"""
    WITH docs2 AS (
        SELECT doc_id,
               CAST(CONCAT('0x', SUBSTR(MD5(CAST(doc_id AS VARCHAR)),
                    1, 14)) AS BIGINT) AS pos
        FROM documents
    ),
    assigned AS (
        SELECT doc_id, pos,
               ([{_S8}])[LIST_POSITION(LIST_TRANSFORM([{_P8}],
                   p -> CASE WHEN p >= pos THEN 1 ELSE 0 END), 1)] AS shard8,
               ([{_S9}])[LIST_POSITION(LIST_TRANSFORM([{_P9}],
                   p -> CASE WHEN p >= pos THEN 1 ELSE 0 END), 1)] AS shard9
        FROM docs2
    )
    SELECT CAST(shard8 AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN shard9 <> shard8 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_moved,
           CAST(SUM(CASE WHEN shard9 = 8 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_moved_to_new
    FROM assigned GROUP BY shard8
    """,
)
def pipeline_consistent_hash_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent-hash shard router with the movement audit that justifies
    it: every document hashes onto a 56-bit ring (md5), lands on the
    first virtual node clockwise (8 shards x 16 vnodes), and the query
    simultaneously assigns under a 9th-shard expansion — the consistent-
    hashing contract says ONLY keys claimed by the new shard move, so
    n_moved must equal n_moved_to_new per shard (pinned in pytest).

    Determinism: the ring is Python-md5-precomputed and injected as
    identical sorted literal arrays; the per-doc position is md5 in both
    engines (same bytes); successor lookup is the first ring position >=
    pos via a pure array scan, wrapping to the ring head.

    Scale shape: embarrassingly parallel map over documents (the ring is
    a 128-element plan literal — the broadcast-dim pattern degenerated to
    a constant); one groupBy(shard) with map-side partials. This is the
    routing layer a 100 TB ingest fans out through."""
    docs = table(spark, sf_dir, "documents")
    pos8 = f"array({_P8})"
    shd8 = f"array({_S8})"
    pos9 = f"array({_P9})"
    shd9 = f"array({_S9})"
    d2 = docs.select(
        "doc_id",
        F.expr(
            "cast(conv(substring(md5(cast(doc_id as string)), 1, 14), 16, 10)"
            " as bigint)"
        ).alias("pos"),
    )
    assigned = d2.select(
        "doc_id",
        F.expr(
            f"element_at({shd8}, cast(array_position(transform({pos8},"
            f" p -> case when p >= pos then 1 else 0 end), 1) as int))"
        ).alias("shard8"),
        F.expr(
            f"element_at({shd9}, cast(array_position(transform({pos9},"
            f" p -> case when p >= pos then 1 else 0 end), 1) as int))"
        ).alias("shard9"),
    )
    return assigned.groupBy(F.col("shard8").cast("long").alias("shard")).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum((F.col("shard9") != F.col("shard8")).cast("long"))
        .cast("long")
        .alias("n_moved"),
        F.sum((F.col("shard9") == 8).cast("long")).cast("long").alias(
            "n_moved_to_new"
        ),
    )


@query(
    "model_theil_u",
    oracle="""
    WITH cells AS (
        SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
        FROM documents GROUP BY source, lang
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
    hx AS (
        SELECT LIST_REDUCE(LIST_TRANSFORM(
                   LIST(CAST(sc AS DOUBLE) / n ORDER BY source),
                   p -> -p * LN(p)), (a, b) -> a + b) AS h_source
        FROM (SELECT source, CAST(SUM(c) AS BIGINT) AS sc, MIN(tot.n) AS n
              FROM cells CROSS JOIN tot GROUP BY source)
    ),
    hy AS (
        SELECT LIST_REDUCE(LIST_TRANSFORM(
                   LIST(CAST(lc AS DOUBLE) / n ORDER BY lang),
                   p -> -p * LN(p)), (a, b) -> a + b) AS h_lang
        FROM (SELECT lang, CAST(SUM(c) AS BIGINT) AS lc, MIN(tot.n) AS n
              FROM cells CROSS JOIN tot GROUP BY lang)
    ),
    hxy AS (
        SELECT LIST_REDUCE(LIST_TRANSFORM(
                   LIST(CAST(c AS DOUBLE) / n ORDER BY source, lang),
                   p -> -p * LN(p)), (a, b) -> a + b) AS h_joint
        FROM cells CROSS JOIN tot
    )
    SELECT ROUND(h_source, 6) AS h_source,
           ROUND(h_lang, 6) AS h_lang,
           ROUND(h_joint, 6) AS h_joint,
           ROUND((h_source + h_lang - h_joint) / h_lang, 6)
               AS u_lang_given_source,
           ROUND((h_source + h_lang - h_joint) / h_source, 6)
               AS u_source_given_lang
    FROM hx CROSS JOIN hy CROSS JOIN hxy
    """,
)
def model_theil_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's uncertainty coefficient between document source and
    language: U(lang|source) = I(source;lang)/H(lang) — the ASYMMETRIC
    "how much does knowing the source tell you about the language"
    answer that the symmetric agg_mutual_info and agg_cramers_v cannot
    give. The feature-selection primitive for categorical columns.

    Determinism: all probabilities are exact-count ratios; each entropy
    is an ORDERED fold over the category-sorted probability list, so
    both engines sum in the same association order; I = Hx + Hy - Hxy
    composed from those three identical doubles.

    Scale shape: one groupBy(source, lang) with map-side partials; folds
    run over the category axes (|sources| x |langs| cells)."""
    docs = table(spark, sf_dir, "documents")
    cells = docs.groupBy("source", "lang").agg(
        F.count("*").cast("long").alias("c")
    )
    tot = cells.agg(F.sum("c").cast("long").alias("n"))

    def _entropy(df: DataFrame, keys: list[str]) -> DataFrame:
        probs = (
            df.groupBy(*keys)
            .agg(F.sum("c").cast("long").alias("kc"))
            .crossJoin(F.broadcast(tot))
            .select(
                F.struct(*keys).alias("k"),
                (F.col("kc").cast("double") / F.col("n")).alias("p"),
            )
        )
        return probs.agg(
            F.expr(
                "aggregate(transform(sort_array(collect_list(struct(k, p))),"
                " s -> -s.p * ln(s.p)), 0d, (a, b) -> a + b)"
            ).alias("h")
        )

    hx = _entropy(cells, ["source"]).select(F.col("h").alias("h_source"))
    hy = _entropy(cells, ["lang"]).select(F.col("h").alias("h_lang"))
    hxy = _entropy(cells, ["source", "lang"]).select(F.col("h").alias("h_joint"))
    j = hx.crossJoin(hy).crossJoin(hxy)
    mi = F.col("h_source") + F.col("h_lang") - F.col("h_joint")
    return j.select(
        F.round("h_source", 6).alias("h_source"),
        F.round("h_lang", 6).alias("h_lang"),
        F.round("h_joint", 6).alias("h_joint"),
        F.round(mi / F.col("h_lang"), 6).alias("u_lang_given_source"),
        F.round(mi / F.col("h_source"), 6).alias("u_source_given_lang"),
    )


@query(
    "agg_odds_ratio_woolf",
    oracle="""
    WITH flags AS (
        SELECT event_type,
               CASE WHEN EXTRACT(DOW FROM ts) IN (0, 6) THEN 1 ELSE 0 END
                   AS wknd
        FROM events
    ),
    types AS (SELECT DISTINCT event_type FROM flags),
    cells AS (
        SELECT t.event_type,
               CAST(SUM(CASE WHEN f.event_type = t.event_type
                             AND f.wknd = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS a,
               CAST(SUM(CASE WHEN f.event_type <> t.event_type
                             AND f.wknd = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS b,
               CAST(SUM(CASE WHEN f.event_type = t.event_type
                             AND f.wknd = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c,
               CAST(SUM(CASE WHEN f.event_type <> t.event_type
                             AND f.wknd = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS d
        FROM types t CROSS JOIN flags f GROUP BY t.event_type
    )
    SELECT event_type, a, b, c, d,
           ROUND(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c), 6)
               AS odds_ratio,
           ROUND(EXP(LN(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c))
                 - 1.96e0 * SQRT(1.0e0 / a + 1.0e0 / b + 1.0e0 / c
                                 + 1.0e0 / d)), 6) AS ci_lo,
           ROUND(EXP(LN(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c))
                 + 1.96e0 * SQRT(1.0e0 / a + 1.0e0 / b + 1.0e0 / c
                                 + 1.0e0 / d)), 6) AS ci_hi
    FROM cells
    """,
)
def agg_odds_ratio_woolf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type weekend odds ratio with the Woolf 95% confidence
    interval: for each type, the 2x2 table (is-this-type x is-weekend)
    gives OR = ad/bc and CI exp(ln OR +/- 1.96*sqrt(1/a+1/b+1/c+1/d)) —
    the epidemiology-style association readout (CI covering 1 = no
    weekend effect).

    Determinism: the four cells are exact counts (weekend via DOW with
    the engines' numbering difference pinned: Spark dayofweek 1/7 =
    DuckDB DOW 0/6); OR and CI are one identical-shape double expression
    from exact integers.

    Scale shape: the per-type 2x2 cells come from one pass over events
    against the broadcast type list (k=5), with map-side partials; no
    per-pair scan."""
    ev = table(spark, sf_dir, "events")
    flags = ev.select(
        "event_type",
        F.when(F.dayofweek("ts").isin(1, 7), F.lit(1)).otherwise(F.lit(0)).alias(
            "wknd"
        ),
    )
    types = flags.select("event_type").distinct().select(
        F.col("event_type").alias("t_type")
    )
    cells = (
        F.broadcast(types)
        .crossJoin(flags)
        .groupBy("t_type")
        .agg(
            F.sum(
                F.when(
                    (F.col("event_type") == F.col("t_type")) & (F.col("wknd") == 1),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("a"),
            F.sum(
                F.when(
                    (F.col("event_type") != F.col("t_type")) & (F.col("wknd") == 1),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("b"),
            F.sum(
                F.when(
                    (F.col("event_type") == F.col("t_type")) & (F.col("wknd") == 0),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("c"),
            F.sum(
                F.when(
                    (F.col("event_type") != F.col("t_type")) & (F.col("wknd") == 0),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("d"),
        )
    )
    orr = F.col("a").cast("double") * F.col("d") / (
        F.col("b").cast("double") * F.col("c")
    )
    se = F.sqrt(
        1.0 / F.col("a") + 1.0 / F.col("b") + 1.0 / F.col("c") + 1.0 / F.col("d")
    )
    return cells.select(
        F.col("t_type").alias("event_type"),
        "a",
        "b",
        "c",
        "d",
        F.round(orr, 6).alias("odds_ratio"),
        F.round(F.exp(F.log(orr) - F.lit(1.96) * se), 6).alias("ci_lo"),
        F.round(F.exp(F.log(orr) + F.lit(1.96) * se), 6).alias("ci_hi"),
    )
