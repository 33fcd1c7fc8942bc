"""Wave-336: Black-Scholes option pricing (Black & Scholes, JPE 1973;
Merton 1973) on a deterministic parameter grid with the established
A&S erfc normal CDF, and Jaro-Winkler string similarity (Jaro 1989;
Winkler 1990) as a pandas UDF cross-checked against DuckDB's native
implementation.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

# A&S 7.1.26 erfc (same literal chain as wave295/wave330); the normal
# CDF is Phi(x) = 1 - erfc(x/sqrt(2))/2 for x >= 0, erfc(-x/sqrt(2))/2
# mirrored for x < 0 — the polynomial itself is only valid for z >= 0,
# so both engines branch on the sign identically.
_ERFC_POS = (
    "((1.0 / (1.0 + 0.3275911 * ({z}))) * (0.254829592 "
    "+ (1.0 / (1.0 + 0.3275911 * ({z}))) * (-0.284496736 "
    "+ (1.0 / (1.0 + 0.3275911 * ({z}))) * (1.421413741 "
    "+ (1.0 / (1.0 + 0.3275911 * ({z}))) * (-1.453152027 "
    "+ (1.0 / (1.0 + 0.3275911 * ({z}))) * 1.061405429)))) "
    "* EXP(-({z}) * ({z})))"
)


def _phi_sql(x: str) -> str:
    za = f"(ABS({x}) / SQRT(2.0))"
    half_erfc = f"(0.5 * {_ERFC_POS.format(z=za)})"
    return f"(CASE WHEN ({x}) >= 0 THEN 1.0 - {half_erfc} ELSE {half_erfc} END)"


def _phi_col(x):
    za = F.abs(x) / F.sqrt(F.lit(2.0))
    t = 1.0 / (1.0 + 0.3275911 * za)
    half_erfc = 0.5 * (
        t
        * (
            0.254829592
            + t
            * (
                -0.284496736
                + t * (1.421413741 + t * (-1.453152027 + t * 1.061405429))
            )
        )
        * F.exp(-za * za)
    )
    return F.when(x >= 0, 1.0 - half_erfc).otherwise(half_erfc)


_BS_GRID_SQL = """
    grid AS (
        SELECT p_partkey,
               p_retailprice AS s,
               ROUND(p_retailprice * (0.85 + (p_partkey % 7) * 0.05), 2)
                   AS k,
               0.15 + (p_partkey % 5) * 0.05 AS sigma,
               0.25 + (p_partkey % 4) * 0.25 AS t
        FROM part WHERE p_partkey % 4 = 0
    )
"""


@query(
    "fn_black_scholes",
    oracle=f"""
    WITH {_BS_GRID_SQL},
    d AS (
        SELECT p_partkey, s, k, sigma, t,
               (LN(s / k) + (0.03 + sigma * sigma / 2.0) * t)
                   / (sigma * SQRT(t)) AS d1,
               (LN(s / k) + (0.03 - sigma * sigma / 2.0) * t)
                   / (sigma * SQRT(t)) AS d2
        FROM grid
    )
    SELECT p_partkey, ROUND(s, 2) AS spot, k AS strike,
           ROUND(sigma, 2) AS sigma, ROUND(t, 2) AS maturity,
           ROUND(s * {_phi_sql('d1')}
                 - k * EXP(-0.03 * t) * {_phi_sql('d2')}, 6) AS call_price,
           ROUND(k * EXP(-0.03 * t) * {_phi_sql('(-d2)')}
                 - s * {_phi_sql('(-d1)')}, 6) AS put_price,
           ROUND(ABS((s * {_phi_sql('d1')}
                      - k * EXP(-0.03 * t) * {_phi_sql('d2')})
                     - s + k * EXP(-0.03 * t)
                     - (k * EXP(-0.03 * t) * {_phi_sql('(-d2)')}
                        - s * {_phi_sql('(-d1)')})), 6) AS parity_residual,
           ROUND({_phi_sql('d1')}, 6) AS call_delta
    FROM d
    """,
)
def fn_black_scholes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Black-Scholes-Merton European option pricing (JPE 1973) over a
    deterministic parameter grid keyed by part: spot = retail price,
    strike/vol/maturity derived from the part key, r = 3%. Reports
    call, put, the call delta Φ(d1), and the put-call parity residual
    C − S + Ke^{{-rT}} − P, which the A&S polynomial leaves at exactly
    0 by construction (Φ(x) + Φ(−x) = 1 in the mirrored-branch form) —
    pinned in pytest against math.erf to 1e-6.

    Determinism: the grid is exact arithmetic on part keys; d1/d2 and
    both prices are fixed LN/EXP/SQRT chains with the established erfc
    polynomial, identical literals both engines; rounded 6dp.

    Scale shape: a pure per-row projection over a pruned scan — no
    shuffle at all; the closed form IS the map."""
    grid = (
        table(spark, sf_dir, "part")
        .where(F.col("p_partkey") % 4 == 0)
        .select(
            "p_partkey",
            F.col("p_retailprice").alias("s"),
            F.round(
                F.col("p_retailprice")
                * (0.85 + (F.col("p_partkey") % 7) * 0.05),
                2,
            ).alias("k"),
            (0.15 + (F.col("p_partkey") % 5) * 0.05).alias("sigma"),
            (0.25 + (F.col("p_partkey") % 4) * 0.25).alias("t"),
        )
    )
    s, k, sg, t = (F.col(x) for x in ("s", "k", "sigma", "t"))
    d1 = (F.log(s / k) + (0.03 + sg * sg / 2.0) * t) / (sg * F.sqrt(t))
    d2 = (F.log(s / k) + (0.03 - sg * sg / 2.0) * t) / (sg * F.sqrt(t))
    disc = F.exp(-0.03 * t)
    call = s * _phi_col(d1) - k * disc * _phi_col(d2)
    put = k * disc * _phi_col(-d2) - s * _phi_col(-d1)
    return grid.select(
        "p_partkey",
        F.round(s, 2).alias("spot"),
        k.alias("strike"),
        F.round(sg, 2).alias("sigma"),
        F.round(t, 2).alias("maturity"),
        F.round(call, 6).alias("call_price"),
        F.round(put, 6).alias("put_price"),
        F.round(F.abs(call - s + k * disc - put), 6).alias("parity_residual"),
        F.round(_phi_col(d1), 6).alias("call_delta"),
    )


def _jaro(a: str, b: str) -> float:
    """Textbook Jaro similarity (Jaro, JASA 1989)."""
    la, lb = len(a), len(b)
    if la == 0 and lb == 0:
        return 1.0
    if la == 0 or lb == 0:
        return 0.0
    window = max(la, lb) // 2 - 1
    if window < 0:
        window = 0
    ma = [False] * la
    mb = [False] * lb
    m = 0
    for i in range(la):
        lo, hi = max(0, i - window), min(lb, i + window + 1)
        for j in range(lo, hi):
            if not mb[j] and a[i] == b[j]:
                ma[i] = mb[j] = True
                m += 1
                break
    if m == 0:
        return 0.0
    t = 0
    j = 0
    for i in range(la):
        if ma[i]:
            while not mb[j]:
                j += 1
            if a[i] != b[j]:
                t += 1
            j += 1
    t //= 2
    return (m / la + m / lb + (m - t) / m) / 3.0


def _jaro_winkler(a: str, b: str) -> float:
    """Winkler's prefix boost (Winkler 1990): jw = j + l·0.1·(1−j) for
    common prefix l ≤ 4, applied when j exceeds the 0.7 threshold —
    the parameterization DuckDB implements (pinned in pytest)."""
    j = _jaro(a, b)
    if j > 0.7:
        l = 0
        for x, y in zip(a[:4], b[:4]):
            if x != y:
                break
            l += 1
        j = j + l * 0.1 * (1.0 - j)
    return j


@pandas_udf(DoubleType())
def _jw_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(
        [_jaro_winkler(x, y) for x, y in zip(a, b)], dtype="float64"
    )


@query(
    "fn_jaro_winkler",
    oracle="""
    WITH pairs AS (
        SELECT p1.p_partkey AS k1, p2.p_partkey AS k2,
               p1.p_name AS n1, p2.p_name AS n2
        FROM part p1 JOIN part p2 ON p2.p_partkey = p1.p_partkey + 1
        WHERE p1.p_partkey % 5 = 0
    )
    SELECT k1, k2,
           ROUND(JARO_SIMILARITY(n1, n2), 6) AS jaro,
           ROUND(JARO_WINKLER_SIMILARITY(n1, n2), 6) AS jaro_winkler,
           JARO_WINKLER_SIMILARITY(n1, n2) >= 0.85 AS match_085
    FROM pairs
    """,
)
def fn_jaro_winkler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaro-Winkler similarity (Jaro 1989; Winkler 1990 — the Census
    Bureau record-linkage standard) between adjacent part names (every
    5th key against key+1), with the 0.85 match flag typical of
    linkage rules. Spark lacks the builtin, so the match-window scan
    and prefix boost run as an Arrow-batched pandas UDF; the oracle is
    DuckDB's native jaro_winkler_similarity — a genuine
    cross-implementation check of window, transposition, threshold and
    boost semantics (canonical MARTHA/MARHTA-class cases pinned in
    pytest).

    Determinism: match/transposition counts are exact integers; the
    closing ratio is the same 4-term chain in both implementations,
    rounded 6dp (cross-checked exact on both fixture SFs).

    Scale shape: shifted-key equi self-join, then a linear Arrow
    batch over pairs — no cross product."""
    p = table(spark, sf_dir, "part")
    p1 = p.select(
        F.col("p_partkey").alias("k1"), F.col("p_name").alias("n1")
    ).where(F.col("k1") % 5 == 0)
    p2 = p.select(F.col("p_partkey").alias("k2"), F.col("p_name").alias("n2"))
    pairs = p1.join(p2, p2.k2 == p1.k1 + 1)
    jw = _jw_udf(F.col("n1"), F.col("n2"))
    ja = _jaro_udf(F.col("n1"), F.col("n2"))
    return pairs.select(
        "k1",
        "k2",
        F.round(ja, 6).alias("jaro"),
        F.round(jw, 6).alias("jaro_winkler"),
        (jw >= 0.85).alias("match_085"),
    )


@pandas_udf(DoubleType())
def _jaro_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series([_jaro(x, y) for x, y in zip(a, b)], dtype="float64")
