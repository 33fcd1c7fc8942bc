"""Wave-334: unrestricted Damerau-Levenshtein distance (Damerau 1964;
Lowrance & Wagner, JACM 1975) as an Arrow-batched pandas UDF checked
against DuckDB's builtin, and Huffman code lengths (Huffman, Proc. IRE
1952) by unrolled greedy merges over the 5-symbol event-type alphabet.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


def _dl_distance(a: str, b: str) -> int:
    """Unrestricted Damerau-Levenshtein (Lowrance-Wagner 1975): edit
    distance with insert/delete/substitute/adjacent-transposition where
    transposed blocks may be edited again — the variant DuckDB's
    damerau_levenshtein implements (DL('CA','ABC') = 2, OSA gives 3)."""
    la, lb = len(a), len(b)
    maxdist = la + lb
    # charmap of last row index where each char of `a` was seen
    last_a: dict[str, int] = {}
    # (la+2) x (lb+2) DP with a sentinel border row/col of maxdist
    d = [[maxdist] * (lb + 2) for _ in range(la + 2)]
    for i in range(la + 1):
        d[i + 1][1] = i
    for j in range(lb + 1):
        d[1][j + 1] = j
    for i in range(1, la + 1):
        last_b_match = 0  # last column in b matching a[i-1] row scan
        for j in range(1, lb + 1):
            i1 = last_a.get(b[j - 1], 0)
            j1 = last_b_match
            if a[i - 1] == b[j - 1]:
                cost = 0
                last_b_match = j
            else:
                cost = 1
            d[i + 1][j + 1] = min(
                d[i][j] + cost,  # substitute / match
                d[i + 1][j] + 1,  # insert
                d[i][j + 1] + 1,  # delete
                d[i1][j1] + (i - i1 - 1) + 1 + (j - j1 - 1),  # transpose
            )
        last_a[a[i - 1]] = i
    return d[la + 1][lb + 1]


@pandas_udf(LongType())
def _dl_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(
        [_dl_distance(x, y) for x, y in zip(a, b)], dtype="int64"
    )


@query(
    "fn_damerau_levenshtein",
    oracle="""
    WITH pairs AS (
        SELECT c1.c_custkey AS k1, c2.c_custkey AS k2,
               c1.c_name AS n1, c2.c_name AS n2
        FROM customer c1
        JOIN customer c2 ON c2.c_custkey = c1.c_custkey + 3
        WHERE c1.c_custkey % 7 = 0
    )
    SELECT k1, k2,
           CAST(DAMERAU_LEVENSHTEIN(n1, n2) AS BIGINT) AS dl_distance,
           CAST(LEVENSHTEIN(n1, n2) AS BIGINT) AS lev_distance,
           CAST(LEVENSHTEIN(n1, n2) - DAMERAU_LEVENSHTEIN(n1, n2)
                AS BIGINT) AS transposition_gain
    FROM pairs
    """,
)
def fn_damerau_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unrestricted Damerau-Levenshtein distance (Damerau, CACM 1964;
    Lowrance & Wagner, JACM 1975) between customer-name pairs (every
    7th key against key+3), reported next to plain Levenshtein so the
    transposition_gain column shows exactly how many edits adjacent
    swaps recover — the fuzzy-matching upgrade every entity-resolution
    pipeline wants over plain edit distance. Spark lacks the builtin,
    so the DP runs as an Arrow-batched pandas UDF (the declared
    Python-UDF slow path, like udf_quote); the oracle is DuckDB's
    native damerau_levenshtein, making this a true cross-implementation
    check of the Lowrance-Wagner recurrence.

    Determinism: pure integer DP on both sides.

    Scale shape: the pair build is a shifted-key equi self-join (no
    cross product); the UDF is a per-row scalar batched by Arrow —
    linear in pairs, embarrassingly parallel."""
    c = table(spark, sf_dir, "customer")
    c1 = c.select(
        F.col("c_custkey").alias("k1"), F.col("c_name").alias("n1")
    ).where(F.col("k1") % 7 == 0)
    c2 = c.select(
        F.col("c_custkey").alias("k2"), F.col("c_name").alias("n2")
    )
    pairs = c1.join(c2, c2.k2 == c1.k1 + 3)
    dl = _dl_udf(F.col("n1"), F.col("n2"))
    lev = F.levenshtein("n1", "n2").cast("long")
    return pairs.select(
        "k1",
        "k2",
        dl.alias("dl_distance"),
        lev.alias("lev_distance"),
        (lev - dl).cast("long").alias("transposition_gain"),
    )


# Huffman over the k=5 event-type alphabet: k-1 = 4 greedy merges,
# each picking the two lightest clusters by the (weight, min-symbol)
# total order. Unrolled like the fixed-k graph walks; for a general
# alphabet the driver loop runs k-1 times (alphabet-bounded, never
# corpus-bounded).
def _huffman_round_sql(i: int) -> str:
    p = i - 1
    return f"""
    c{i} AS (
        SELECT cl, SUM(w) AS wc FROM s{p} GROUP BY cl
    ),
    r{i} AS (
        SELECT cl, ROW_NUMBER() OVER (ORDER BY wc, cl) AS rk FROM c{i}
    ),
    m{i} AS (SELECT MIN(cl) AS ncl FROM r{i} WHERE rk <= 2),
    s{i} AS (
        SELECT s.sym, s.w,
               CASE WHEN r.rk <= 2 THEN m.ncl ELSE s.cl END AS cl,
               s.depth + CASE WHEN r.rk <= 2 THEN 1 ELSE 0 END AS depth
        FROM s{p} s JOIN r{i} r ON r.cl = s.cl CROSS JOIN m{i} m
    )"""


@query(
    "text_huffman_code_lengths",
    oracle=f"""
    WITH s0 AS (
        SELECT event_type AS sym, CAST(COUNT(*) AS BIGINT) AS w,
               event_type AS cl, 0 AS depth
        FROM events GROUP BY event_type
    ),{",".join(_huffman_round_sql(i) for i in range(1, 5))},
    fin AS (SELECT sym, w, CAST(depth AS BIGINT) AS code_len FROM s4),
    tot AS (
        SELECT CAST(SUM(w) AS BIGINT) AS n,
               SUM(CAST(w AS DOUBLE) * code_len) AS wl,
               SUM(POW(2.0, -code_len)) AS kraft,
               SUM(CAST(w AS DOUBLE)
                   * LN(CAST((SELECT SUM(w) FROM fin) AS DOUBLE) / w))
                   / LN(2.0) AS hbits
        FROM fin
    )
    SELECT f.sym AS event_type, f.w AS votes, f.code_len,
           ROUND(t.wl / t.n, 6) AS avg_code_len,
           ROUND(t.hbits / t.n, 6) AS entropy_bits,
           ROUND(t.kraft, 6) AS kraft_sum
    FROM fin f CROSS JOIN tot t
    ORDER BY f.sym
    """,
)
def text_huffman_code_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Huffman code lengths (Huffman, Proc. IRE 1952) for the
    event-type alphabet weighted by event counts: k−1 = 4 greedy
    merges, each collapsing the two lightest clusters under the
    (weight, min-symbol) total order; a symbol's code length is the
    number of merges its cluster participated in. Reported against the
    Shannon entropy lower bound and the Kraft sum Σ2^-len (exactly 1
    for a complete prefix code — pinned in pytest). The merge ladder is
    unrolled into the plan exactly like the fixed-k graph walks.

    Determinism: weights are exact integer counts; every merge pick is
    a row_number over a (weight, symbol) total order; only the three
    summary ratios are doubles, rounded 6dp.

    Scale shape: ONE corpus-wide groupBy(event_type); all 4 merge
    rounds run on the k=5 cluster frame — alphabet-sized, never
    corpus-sized."""
    # r11: the ONE corpus-wide pass is this groupBy — checkpoint it so no
    # downstream reference can re-run it (cache() deduped execution but the
    # logical plan still re-expanded per reference, so Catalyst re-analyzed
    # the ladder each round and per output consumer — the plackett_luce
    # lesson; the merge ladder runs on a 5-row frame either way).
    s = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("event_type").alias("sym"))
        .agg(F.count("*").cast("long").alias("w"))
        .select(
            "sym", "w", F.col("sym").alias("cl"), F.lit(0).alias("depth")
        )
        .localCheckpoint(eager=True)
    )
    from pyspark.sql import Window

    for i in range(1, 5):
        c = s.groupBy("cl").agg(F.sum("w").alias("wc"))
        r = c.select(
            F.col("cl").alias("rcl"),
            F.row_number().over(Window.orderBy("wc", "cl")).alias("rk"),
        )
        m = r.where(F.col("rk") <= 2).agg(F.min("rcl").alias("ncl"))
        s = (
            s.join(r, s.cl == r.rcl)
            .crossJoin(F.broadcast(m))
            .select(
                "sym",
                "w",
                F.when(F.col("rk") <= 2, F.col("ncl"))
                .otherwise(F.col("cl"))
                .alias("cl"),
                (
                    F.col("depth")
                    + F.when(F.col("rk") <= 2, 1).otherwise(0)
                ).alias("depth"),
            )
            # 5-row frame; truncate per round (s feeds both the rank frame
            # and the rewrite join, so lineage doubles per round otherwise)
            .localCheckpoint(eager=True)
        )
    fin = s.select("sym", "w", F.col("depth").cast("long").alias("code_len"))
    tot = fin.agg(
        F.sum("w").cast("long").alias("n"),
        F.sum(F.col("w").cast("double") * F.col("code_len")).alias("wl"),
        F.sum(F.pow(F.lit(2.0), -F.col("code_len"))).alias("kraft"),
        F.sum("w").cast("double").alias("nw"),
    )
    hb = fin.crossJoin(F.broadcast(tot.select("nw"))).agg(
        (
            F.sum(
                F.col("w").cast("double") * F.log(F.col("nw") / F.col("w"))
            )
            / F.log(F.lit(2.0))
        ).alias("hbits")
    )
    return (
        fin.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(hb))
        .select(
            F.col("sym").alias("event_type"),
            F.col("w").alias("votes"),
            "code_len",
            F.round(F.col("wl") / F.col("n"), 6).alias("avg_code_len"),
            F.round(F.col("hbits") / F.col("n"), 6).alias("entropy_bits"),
            F.round(F.col("kraft"), 6).alias("kraft_sum"),
        )
        .orderBy("event_type")
    )
