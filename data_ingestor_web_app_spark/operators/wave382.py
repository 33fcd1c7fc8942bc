"""Wave-382: Knox space-time interaction statistic (Knox, Applied
Statistics 1964 — the epidemic clustering test) and Lempel-Ziv LZ76
sequence complexity (Lempel & Ziv, IEEE IT 1976; Kaspar & Schuster,
Phys. Rev. A 1987 parsing algorithm).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_GRID = 32  # same behaviour grid as wave374's point-pattern shelf
_D2 = 16  # space-close: squared cell distance <= 4^2
_DT = 3  # time-close: circular hour-of-day distance <= 3

# Each user is a space-time point: (x, y) = (#clicks mod 32, #views mod 32)
# (the wave374 construction) and t = hour-of-day of the user's first event.
_TRIPLES_SQL = f"""
    pts AS (
        SELECT user_id,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    % {_GRID} AS BIGINT) AS x,
               CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                    % {_GRID} AS BIGINT) AS y,
               CAST(EXTRACT(hour FROM MIN(ts)) AS BIGINT) AS t
        FROM events GROUP BY user_id
    ),
    triples AS (
        SELECT x, y, t, CAST(COUNT(*) AS BIGINT) AS m
        FROM pts GROUP BY x, y, t
    )
"""


@query(
    "spatial_knox_spacetime",
    oracle=f"""
    WITH {_TRIPLES_SQL},
    n AS (SELECT CAST(SUM(m) AS BIGINT) AS n_pts FROM triples),
    xcnt AS (
        SELECT SUM(CASE
            WHEN a.x = b.x AND a.y = b.y AND a.t = b.t THEN a.m * (a.m - 1)
            ELSE a.m * b.m END) AS x_ord
        FROM triples a
        JOIN triples b
          ON ABS(a.x - b.x) <= 4 AND ABS(a.y - b.y) <= 4
         AND (a.x - b.x) * (a.x - b.x)
             + (a.y - b.y) * (a.y - b.y) <= {_D2}
         AND LEAST(ABS(a.t - b.t), 24 - ABS(a.t - b.t)) <= {_DT}
    ),
    sm AS (SELECT x, y, CAST(SUM(m) AS BIGINT) AS m FROM triples GROUP BY x, y),
    scnt AS (
        SELECT SUM(CASE
            WHEN a.x = b.x AND a.y = b.y THEN a.m * (a.m - 1)
            ELSE a.m * b.m END) AS s_ord
        FROM sm a
        JOIN sm b
          ON ABS(a.x - b.x) <= 4 AND ABS(a.y - b.y) <= 4
         AND (a.x - b.x) * (a.x - b.x)
             + (a.y - b.y) * (a.y - b.y) <= {_D2}
    ),
    tm AS (SELECT t, CAST(SUM(m) AS BIGINT) AS m FROM triples GROUP BY t),
    tcnt AS (
        SELECT SUM(CASE
            WHEN a.t = b.t THEN a.m * (a.m - 1)
            ELSE a.m * b.m END) AS t_ord
        FROM tm a
        JOIN tm b ON LEAST(ABS(a.t - b.t), 24 - ABS(a.t - b.t)) <= {_DT}
    )
    SELECT n.n_pts,
           CAST(xcnt.x_ord AS BIGINT) AS n_pairs_spacetime,
           CAST(scnt.s_ord AS BIGINT) AS n_pairs_space,
           CAST(tcnt.t_ord AS BIGINT) AS n_pairs_time,
           ROUND(CAST(scnt.s_ord AS DOUBLE) * tcnt.t_ord
                 / (n.n_pts * (n.n_pts - 1)), 6) AS expected_spacetime,
           ROUND(CAST(xcnt.x_ord AS DOUBLE)
                 / (CAST(scnt.s_ord AS DOUBLE) * tcnt.t_ord
                    / (n.n_pts * (n.n_pts - 1))), 6) AS knox_ratio
    FROM n, xcnt, scnt, tcnt
    """,
)
def spatial_knox_spacetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Knox space-time interaction: among all ordered point pairs, count
    those close in space (cell distance² ≤ 16), close in time (circular
    hour-of-day distance ≤ 3), and close in BOTH; under the null of no
    interaction E[X] = S·T / P (pair-count independence), and the ratio
    X/E[X] > 1 is the epidemic-clustering signal Knox built the test
    around. All counts are exact ordered-pair integers computed on the
    collapsed (x, y, t) grid — same-cell pairs contribute m(m−1),
    cross-cell pairs m_a·m_b.

    Determinism: pure integer pair arithmetic on a deterministic grid;
    the two doubles are single expressions ROUND 6.

    Scale shape: points collapse to ≤ 32·32·24 space-time cells FIRST
    (one map-side-combined groupBy over users), so every pair stage is a
    banded join over bounded frames — the space join is |Δ| ≤ 4-banded
    over ≤ 1,024 cells, the time join is 24×24, and corpus row count
    never enters any join (the wave374 grid-collapse discipline)."""
    pts = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            (
                F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
                % _GRID
            )
            .cast("long")
            .alias("x"),
            (
                F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
                % _GRID
            )
            .cast("long")
            .alias("y"),
            F.hour(F.min("ts")).cast("long").alias("t"),
        )
    )
    triples = pts.groupBy("x", "y", "t").agg(F.count("*").cast("long").alias("m"))
    n = triples.agg(F.sum("m").cast("long").alias("n_pts"))

    def _pairs(cells: DataFrame, keys: list[str], cond) -> DataFrame:
        a = cells.select(*[F.col(k).alias(f"a{k}") for k in keys], F.col("m").alias("am"))
        b = cells.select(*[F.col(k).alias(f"b{k}") for k in keys], F.col("m").alias("bm"))
        same = None
        for k in keys:
            eq = F.col(f"a{k}") == F.col(f"b{k}")
            same = eq if same is None else (same & eq)
        return a.join(b, cond).select(
            F.when(same, F.col("am") * (F.col("am") - 1))
            .otherwise(F.col("am") * F.col("bm"))
            .alias("p")
        ).agg(F.sum("p").cast("long").alias("ord"))

    space_cond = (
        (F.abs(F.col("ax") - F.col("bx")) <= 4)
        & (F.abs(F.col("ay") - F.col("by")) <= 4)
        & (
            (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx"))
            + (F.col("ay") - F.col("by")) * (F.col("ay") - F.col("by"))
            <= _D2
        )
    )
    time_cond = (
        F.least(
            F.abs(F.col("at") - F.col("bt")),
            24 - F.abs(F.col("at") - F.col("bt")),
        )
        <= _DT
    )
    x_ord = _pairs(triples, ["x", "y", "t"], space_cond & time_cond).select(
        F.col("ord").alias("n_pairs_spacetime")
    )
    sm = triples.groupBy("x", "y").agg(F.sum("m").cast("long").alias("m"))
    s_ord = _pairs(sm, ["x", "y"], space_cond).select(
        F.col("ord").alias("n_pairs_space")
    )
    tm = triples.groupBy("t").agg(F.sum("m").cast("long").alias("m"))
    t_ord = _pairs(tm, ["t"], time_cond).select(F.col("ord").alias("n_pairs_time"))

    out = (
        n.crossJoin(F.broadcast(x_ord))
        .crossJoin(F.broadcast(s_ord))
        .crossJoin(F.broadcast(t_ord))
    )
    expected = (
        F.col("n_pairs_space").cast("double")
        * F.col("n_pairs_time")
        / (F.col("n_pts") * (F.col("n_pts") - 1))
    )
    return out.select(
        "n_pts",
        "n_pairs_spacetime",
        "n_pairs_space",
        "n_pairs_time",
        F.round(expected, 6).alias("expected_spacetime"),
        F.round(F.col("n_pairs_spacetime").cast("double") / expected, 6).alias(
            "knox_ratio"
        ),
    )


_LZ_CAP = 60  # complexity is computed on the first 60 lowercased chars
_LZ_DOCS = 40  # bounded doc sample (doc_id < 40), the text-pair shelf cap


def _lz76_phrases(s: str) -> int:
    """Kaspar-Schuster LZ76 parse: extend the current phrase while it
    already occurs in the prefix ending just before the phrase's last
    char; on a miss, close the phrase and start the next. The trailing
    (possibly still-reproducible) phrase counts."""
    n = len(s)
    p, k, c = 1, 1, 0
    while p + k - 1 <= n:
        if s[p - 1 : p - 1 + k] in s[0 : p + k - 2]:
            k += 1
        else:
            c += 1
            p += k
            k = 1
    return c + (1 if p <= n else 0)


@query(
    "text_lz76_complexity",
    oracle=f"""
    WITH RECURSIVE docs AS (
        SELECT doc_id, SUBSTR(LOWER(text), 1, {_LZ_CAP}) AS s
        FROM documents
        WHERE doc_id < {_LZ_DOCS} AND LENGTH(text) >= 4
    ),
    st AS (
        SELECT doc_id, s, LENGTH(s) AS n,
               1 AS p, 1 AS k, 0 AS c
        FROM docs
        UNION ALL
        SELECT doc_id, s, n,
               CASE WHEN found THEN p ELSE p + k END,
               CASE WHEN found THEN k + 1 ELSE 1 END,
               CASE WHEN found THEN c ELSE c + 1 END
        FROM (
            SELECT *,
                   POSITION(SUBSTR(s, p, k) IN SUBSTR(s, 1, p + k - 2)) > 0
                       AS found
            FROM st WHERE p + k - 1 <= n
        )
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_chars,
           CAST(c + CASE WHEN p <= n THEN 1 ELSE 0 END AS BIGINT) AS lz_phrases,
           ROUND((c + CASE WHEN p <= n THEN 1 ELSE 0 END)
                 * LOG2(n) / n, 6) AS lz_norm
    FROM st
    WHERE p + k - 1 > n
    ORDER BY doc_id
    """,
)
def text_lz76_complexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LZ76 sequence complexity per document: the number of phrases in the
    Lempel-Ziv exhaustive-history parse of the first 60 lowercased chars,
    plus the standard normalization c·log2(n)/n (≈1 for random text, ≪1
    for repetitive text) — the complexity measure EEG/symbolic-dynamics
    pipelines use, applied to corpus quality scoring (boilerplate scores
    low). The oracle replays the identical Kaspar-Schuster parse as a
    per-doc recursive CTE, so the sequential parsing loop itself is
    hash-verified across engines — not just the final score.

    Determinism: the parse is pure integer/string stepping; the single
    double is ROUND 6 on one expression.

    Scale shape: the parse is per-document (embarrassingly parallel,
    Arrow-batched pandas UDF over a documented bounded sample of
    {_LZ_DOCS} docs × {_LZ_CAP} chars); production corpus scoring runs
    the same UDF over every doc — per-doc cost is O(cap²) with a fixed
    cap, so the stage stays corpus-linear with zero shuffle."""

    @F.pandas_udf("long")
    def lz76_udf(s: pd.Series) -> pd.Series:
        return s.map(_lz76_phrases)

    docs = (
        table(spark, sf_dir, "documents")
        .where((F.col("doc_id") < _LZ_DOCS) & (F.length("text") >= 4))
        .select(
            "doc_id",
            F.substring(F.lower(F.col("text")), 1, _LZ_CAP).alias("s"),
        )
    )
    return (
        docs.select(
            "doc_id",
            F.length("s").cast("long").alias("n_chars"),
            lz76_udf("s").alias("lz_phrases"),
        )
        .select(
            "doc_id",
            "n_chars",
            "lz_phrases",
            F.round(
                F.col("lz_phrases") * F.log2("n_chars") / F.col("n_chars"), 6
            ).alias("lz_norm"),
        )
        .orderBy("doc_id")
    )
