"""Wave-105: Kruskal-Wallis k-group rank test, quadtree image
decomposition, and a pseudonymization audit.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def _kw_oracle() -> str:
    rsum_cols = ",\n               ".join(
        f"CAST(SUM(CASE WHEN grp = '{p}' THEN dblrank ELSE 0 END) AS BIGINT)"
        f" AS r2_{i}, "
        f"CAST(SUM(CASE WHEN grp = '{p}' THEN 1 ELSE 0 END) AS BIGINT) AS n_{i}"
        for i, p in enumerate(_PRIORITIES)
    )
    h_terms = " + ".join(
        f"CAST(r2_{i} AS DOUBLE) * r2_{i} / (4.0 * n_{i})"
        for i in range(len(_PRIORITIES))
    )
    return f"""
    WITH vals AS (
        SELECT o_orderpriority AS grp,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    ranked AS (
        SELECT grp,
               CAST(2 * RANK() OVER (ORDER BY cents)
                    + COUNT(*) OVER (PARTITION BY cents) - 1 AS BIGINT)
                   AS dblrank,
               CAST(COUNT(*) OVER (PARTITION BY cents) AS BIGINT) AS tie
        FROM vals
    ),
    piv AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               {rsum_cols}
        FROM ranked
    ),
    ties AS (
        SELECT CAST(SUM(t * t * t - t) AS BIGINT) AS tsum FROM (
            SELECT CAST(COUNT(*) AS BIGINT) AS t FROM vals GROUP BY cents)
    ),
    h AS (
        SELECT n,
               (12.0 / (CAST(n AS DOUBLE) * (n + 1))) * ({h_terms})
                   - 3.0 * (n + 1) AS h_raw,
               1.0 - CAST(tsum AS DOUBLE)
                   / (CAST(n AS DOUBLE) * n * n - n) AS c
        FROM piv, ties
    )
    SELECT n,
           ROUND(h_raw, 6) AS h_uncorrected,
           ROUND(c, 6) AS tie_correction,
           ROUND(h_raw / c, 6) AS h_statistic,
           h_raw / c > 9.487729 AS reject_equal_medians
    FROM h
    """


@query("agg_kruskal_wallis", oracle=_kw_oracle())
def agg_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H test (1952, public): the k-group rank ANOVA —
    do order values differ across the five priorities? — with the
    standard tie correction, the nonparametric extension of
    agg_mann_whitney (2 groups) the way agg_anova_oneway extends the
    t-test. The alarm threshold is the literal chi2(4) 95th percentile
    (9.487729).

    Determinism: doubled midranks (2·rank + ties - 1) are exact
    BIGINTs; the five rank sums pivot into FIXED literal-priority
    columns, so the H statistic is a fixed-order expression (the /4
    undoes the rank doubling: (R*2)² / (4n)); the tie term Σ(t³-t) is
    an exact integer; display rounds 6dp.

    Scale shape (r8 rework, VERDICT r7 item 4): collapse to distinct
    cents with per-priority tie counts FIRST; every row tied at v
    carries the same doubled midrank 2·below(v) + t(v) + 1, so the five
    rank sums are weighted sums over the distinct-value frame — the
    global cumulative window's input is an Aggregate, never raw rows,
    and the tie term rides the same collapsed frame."""
    vals = table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    per_cents = vals.groupBy("cents").agg(
        F.count("*").cast("long").alias("t"),
        *[
            F.sum(F.when(F.col("grp") == p, 1).otherwise(0))
            .cast("long")
            .alias(f"k_{i}")
            for i, p in enumerate(_PRIORITIES)
        ],
    )
    wv = Window.orderBy("cents")
    cum = per_cents.select(
        "t",
        *[f"k_{i}" for i in range(len(_PRIORITIES))],
        (F.sum("t").over(wv) - F.col("t")).alias("below"),
    )
    dblrank = 2 * F.col("below") + F.col("t") + 1
    aggs = [F.sum("t").cast("long").alias("n")]
    for i in range(len(_PRIORITIES)):
        aggs.append(
            F.sum(F.col(f"k_{i}") * dblrank).cast("long").alias(f"r2_{i}")
        )
        aggs.append(F.sum(f"k_{i}").cast("long").alias(f"n_{i}"))
    piv = cum.agg(*aggs)
    ties = per_cents.agg(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("long")
        .alias("tsum")
    )

    def h_term(i):
        return F.col(f"r2_{i}").cast("double") * F.col(f"r2_{i}") / (4.0 * F.col(f"n_{i}"))

    h_sum = sum([h_term(i) for i in range(1, len(_PRIORITIES))], start=h_term(0))
    nd = F.col("n").cast("double")
    h_raw = (12.0 / (nd * (F.col("n") + 1))) * h_sum - 3.0 * (F.col("n") + 1)
    c = 1.0 - F.col("tsum").cast("double") / (nd * F.col("n") * F.col("n") - F.col("n"))
    return piv.crossJoin(F.broadcast(ties)).select(
        "n",
        F.round(h_raw, 6).alias("h_uncorrected"),
        F.round(c, 6).alias("tie_correction"),
        F.round(h_raw / c, 6).alias("h_statistic"),
        (h_raw / c > 9.487729).alias("reject_equal_medians"),
    )


@query(
    "mm_image_quadtree",
    oracle="""
    WITH docs AS (
        SELECT doc_id, 16 + doc_id % 16 AS w, 16 + (doc_id * 3) % 16 AS h
        FROM documents WHERE doc_id < 200
    ),
    ys AS (SELECT doc_id, w, h, UNNEST(RANGE(h)) AS y FROM docs),
    px AS (SELECT doc_id, w, h, y, UNNEST(RANGE(w)) AS x FROM ys),
    vals AS (
        SELECT doc_id, w, h, x, y,
               (x * 7 + y * 13 + doc_id) % 256 AS v,
               CASE WHEN x < w // 2 THEN 0 ELSE 1 END
                 + 2 * (CASE WHEN y < h // 2 THEN 0 ELSE 1 END) AS q1,
               CASE WHEN x < w // 2
                    THEN CASE WHEN x < w // 4 THEN 0 ELSE 1 END
                    ELSE CASE WHEN x < w // 2 + (w - w // 2) // 2
                              THEN 0 ELSE 1 END END
                 + 2 * (CASE WHEN y < h // 2
                        THEN CASE WHEN y < h // 4 THEN 0 ELSE 1 END
                        ELSE CASE WHEN y < h // 2 + (h - h // 2) // 2
                                  THEN 0 ELSE 1 END END) AS q2
        FROM px
    ),
    lvl1 AS (
        SELECT doc_id, q1,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v) AS BIGINT) AS s,
               CAST(SUM(v * v) AS BIGINT) AS ss
        FROM vals GROUP BY doc_id, q1
    ),
    split1 AS (
        SELECT doc_id, q1, n * ss - s * s > 400 * n * n AS split
        FROM lvl1
    ),
    lvl2 AS (
        SELECT v.doc_id, v.q1, v.q2,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v.v) AS BIGINT) AS s,
               CAST(SUM(v.v * v.v) AS BIGINT) AS ss
        FROM vals v JOIN split1 sp
          ON sp.doc_id = v.doc_id AND sp.q1 = v.q1 AND sp.split
        GROUP BY v.doc_id, v.q1, v.q2
    )
    SELECT d.doc_id,
           CAST(4 AS INT) AS level1_nodes,
           CAST((SELECT COUNT(*) FROM split1 s
                 WHERE s.doc_id = d.doc_id AND s.split) AS BIGINT)
               AS level1_splits,
           CAST(COALESCE((SELECT COUNT(*) FROM lvl2 l
                          WHERE l.doc_id = d.doc_id), 0) AS BIGINT)
               AS level2_nodes,
           CAST((SELECT COUNT(*) FROM split1 s
                 WHERE s.doc_id = d.doc_id AND NOT s.split) AS BIGINT)
               + CAST(COALESCE((SELECT COUNT(*) FROM lvl2 l
                                WHERE l.doc_id = d.doc_id), 0) AS BIGINT)
               AS n_leaves
    FROM docs d
    ORDER BY doc_id
    """,
)
def mm_image_quadtree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level quadtree decomposition (Finkel & Bentley 1974 /
    image-compression adaptive tiling, public) per REAL decoded PNG:
    split each of the 4 level-1 quadrants again only when its pixel
    variance exceeds a literal threshold (n·Σv² - (Σv)² > 400·n², i.e.
    variance > 400) — the adaptive-resolution primitive under quadtree
    codecs and spatial indexes. Reports split counts and total leaves
    (uniform quadrants stay whole; busy ones refine).

    Determinism: quadrant membership is integer floor geometry
    (identical // arithmetic in both engines, including odd-size
    halves); the variance test is an exact integer comparison; counts
    are exact.

    Scale shape: Arrow-batched mapInPandas (numpy region sums per
    image), one row per image, no shuffle; the relational region
    grouping exists only in the oracle."""
    import numpy as np

    from data_ingestor_web_app_spark.llm.codecs import png_decode_gray
    from data_ingestor_web_app_spark.llm.multimodal import _image_payloads

    payloads = _image_payloads(spark, sf_dir)

    def quad_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def regions(w, h):
            xs = [(0, w // 2), (w // 2, w)]
            ys_ = [(0, h // 2), (h // 2, h)]
            return [(x0, x1, y0, y1) for (y0, y1) in ys_ for (x0, x1) in xs]

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, pix = png_decode_gray(bytes(payload))
                img = np.frombuffer(pix, dtype=np.uint8).reshape(h, w).astype(np.int64)
                splits = 0
                lvl2 = 0
                for (x0, x1, y0, y1) in regions(w, h):
                    reg = img[y0:y1, x0:x1]
                    n = reg.size
                    s = int(reg.sum())
                    ss = int((reg * reg).sum())
                    if n * ss - s * s > 400 * n * n:
                        splits += 1
                        lvl2 += 4  # every split quadrant re-tiles into 4
                rows.append((doc_id, 4, splits, lvl2, (4 - splits) + lvl2))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "level1_nodes",
                    "level1_splits",
                    "level2_nodes",
                    "n_leaves",
                ],
            )

    return payloads.mapInPandas(
        quad_batches,
        schema=(
            "doc_id long, level1_nodes int, level1_splits long, "
            "level2_nodes long, n_leaves long"
        ),
    )


@query(
    "privacy_pseudonym_audit",
    oracle="""
    WITH users AS (SELECT DISTINCT user_id FROM events),
    pseudo AS (
        SELECT user_id,
               SUBSTR(MD5(CAST(user_id AS VARCHAR) || '|pseudo-key-v1'), 1, 12)
                   AS pid
        FROM users
    ),
    rederived AS (
        SELECT DISTINCT
               SUBSTR(MD5(CAST(user_id AS VARCHAR) || '|pseudo-key-v1'), 1, 12)
                   AS pid
        FROM events
    )
    SELECT CAST((SELECT COUNT(*) FROM users) AS BIGINT) AS n_users,
           CAST((SELECT COUNT(DISTINCT pid) FROM pseudo) AS BIGINT)
               AS n_pseudonyms,
           CAST((SELECT COUNT(*) FROM users)
                - (SELECT COUNT(DISTINCT pid) FROM pseudo) AS BIGINT)
               AS n_collisions,
           (SELECT COUNT(*) FROM rederived)
               = (SELECT COUNT(DISTINCT pid) FROM pseudo) AS consistent
    """,
)
def privacy_pseudonym_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudonymization audit (GDPR-style keyed tokenization, public
    practice): derive stable pseudonyms as a salted-hash prefix of the
    user id, then verify the two properties that make pseudonyms safe
    to join on — INJECTIVITY (no two users collide at the chosen 48-bit
    prefix width) and CONSISTENCY (re-deriving from the raw fact table
    yields exactly the same token set, so pipelines can re-key
    independently without a lookup table).

    Determinism: tokens are salted-MD5 prefixes; all checks are exact
    set cardinalities.

    Scale shape: two distinct-aggregates over projections — the token
    derivation itself is a stateless map, which is the operational
    point (no shared mapping table to shuffle or leak)."""
    users = table(spark, sf_dir, "events").select("user_id").distinct()
    pid = F.substring(
        F.md5(F.concat(F.col("user_id").cast("string"), F.lit("|pseudo-key-v1"))), 1, 12
    )
    pseudo = users.select(pid.alias("pid"))
    rederived = table(spark, sf_dir, "events").select(pid.alias("pid")).distinct()
    # the three cardinalities folded in as 1-row broadcasts — the audit is
    # one deferred plan, no build-time count jobs (VERDICT r8 item 7)
    uf = users.agg(F.count("*").cast("long").alias("n_users"))
    pf = pseudo.distinct().agg(F.count("*").cast("long").alias("n_pseudonyms"))
    rf = rederived.agg(F.count("*").cast("long").alias("n_rederived"))
    return (
        uf.crossJoin(F.broadcast(pf))
        .crossJoin(F.broadcast(rf))
        .select(
            "n_users",
            "n_pseudonyms",
            (F.col("n_users") - F.col("n_pseudonyms"))
            .cast("long")
            .alias("n_collisions"),
            (F.col("n_rederived") == F.col("n_pseudonyms")).alias("consistent"),
        )
    )
