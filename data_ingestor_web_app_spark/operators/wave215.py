"""Wave-215: competing-risks cumulative incidence (Aalen-Johansen for
two terminal causes) and the Verhoeff check digit.

Kaplan-Meier (registered) treats every exit as one kind of event; with
COMPETING terminal causes (here: does a user's first terminal action
come as a purchase or as an error?), 1 - KM per cause overestimates
both — the Aalen-Johansen cumulative incidence CIF_k(t) =
sum_{s<=t} S(s-) * d_k(s)/n(s) is the correct decomposition, and the
two CIFs plus the survivor share must sum to exactly 1 at the horizon.

Verhoeff completes the check-digit family (Luhn, Damm, ISO 7064): the
dihedral-group D5 scheme that catches ALL single-digit and adjacent-
transposition errors — implemented as an ordered fold over digit
positions with the d/p group tables as literal arrays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

# Verhoeff dihedral group D5 multiplication table (row-major 10x10)
_D = [
    0, 1, 2, 3, 4, 5, 6, 7, 8, 9,
    1, 2, 3, 4, 0, 6, 7, 8, 9, 5,
    2, 3, 4, 0, 1, 7, 8, 9, 5, 6,
    3, 4, 0, 1, 2, 8, 9, 5, 6, 7,
    4, 0, 1, 2, 3, 9, 5, 6, 7, 8,
    5, 9, 8, 7, 6, 0, 4, 3, 2, 1,
    6, 5, 9, 8, 7, 1, 0, 4, 3, 2,
    7, 6, 5, 9, 8, 2, 1, 0, 4, 3,
    8, 7, 6, 5, 9, 3, 2, 1, 0, 4,
    9, 8, 7, 6, 5, 4, 3, 2, 1, 0,
]
# permutation table (row-major 8x10): p[i][j] = p applied i times
_P = [
    0, 1, 2, 3, 4, 5, 6, 7, 8, 9,
    1, 5, 7, 6, 2, 8, 3, 0, 9, 4,
    5, 8, 0, 3, 7, 9, 6, 1, 4, 2,
    8, 9, 1, 6, 0, 4, 3, 5, 2, 7,
    9, 4, 5, 3, 1, 2, 6, 8, 7, 0,
    4, 2, 8, 6, 5, 7, 3, 9, 0, 1,
    2, 7, 9, 3, 8, 0, 6, 4, 1, 5,
    7, 0, 4, 6, 9, 1, 3, 2, 5, 8,
]
_INV = [0, 4, 3, 2, 1, 5, 6, 7, 8, 9]


@query(
    "events_competing_risks",
    oracle="""
    WITH firsts AS (
        SELECT user_id, t, cause FROM (
            SELECT user_id,
                   CAST(DATEDIFF('day', DATE '2024-01-01',
                                 CAST(ts AS DATE)) AS BIGINT) AS t,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 2 END
                       AS cause,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                       ORDER BY DATEDIFF('day', DATE '2024-01-01',
                                         CAST(ts AS DATE)), event_id)
                       AS rn
            FROM events WHERE event_type IN ('purchase', 'error'))
        WHERE rn = 1
    ),
    nuser AS (
        SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS nu FROM events
    ),
    byday AS (
        SELECT t,
               CAST(SUM(CASE WHEN cause = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS d1,
               CAST(SUM(CASE WHEN cause = 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS d2
        FROM firsts GROUP BY t
    ),
    risk AS (
        SELECT t, d1, d2,
               nu - CAST(COALESCE(SUM(d1 + d2) OVER (ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) AS n_risk
        FROM byday, nuser
    ),
    surv AS (
        SELECT t, d1, d2, n_risk,
               -- once a prior day exhausts the risk set, S(s-) is
               -- exactly 0 (never ln(0): the factor-0 day is flagged)
               CASE WHEN COALESCE(MAX(CASE WHEN d1 + d2 >= n_risk
                                       THEN 1 ELSE 0 END)
                    OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) = 1 THEN 0.0e0
               ELSE EXP(COALESCE(SUM(LN(
                        -- argument is vector-evaluated before any
                        -- FILTER in DuckDB, so make it safe inline
                        CASE WHEN d1 + d2 < n_risk
                             THEN 1.0e0 - (d1 + d2)
                                  / CAST(n_risk AS DOUBLE)
                             ELSE 1.0e0 END))
                    OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0.0e0)) END AS s_minus
        FROM risk
    )
    SELECT t AS day_idx, n_risk, d1 AS d_purchase, d2 AS d_error,
           ROUND(SUM(s_minus * d1 / CAST(n_risk AS DOUBLE))
                 OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW), 6) AS cif_purchase,
           ROUND(SUM(s_minus * d2 / CAST(n_risk AS DOUBLE))
                 OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW), 6) AS cif_error
    FROM surv ORDER BY day_idx
    """,
)
def events_competing_risks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aalen-Johansen cumulative incidence for two competing terminal
    causes: each user's FIRST purchase-or-error decides their cause and
    time; CIF_k(t) = sum over event days s <= t of S(s-) * d_k(s)/n(s)
    where S is the all-cause Kaplan-Meier survivor. The pair of curves
    answers "by day t, what FRACTION of users have converted vs errored
    first" — which 1 - KM per cause gets wrong whenever both risks are
    live (it double-counts the competing exits).

    Determinism: death counts and risk sets are exact integers; S(s-)
    accumulates ln terms in the strictly increasing day order (identical
    window order in both engines), and each CIF is the same ordered
    running sum of identical doubles.

    Scale shape: one groupBy(user) for first events (map-side
    combinable), then all windows run over the bounded per-day frame."""
    events = table(spark, sf_dir, "events")
    day = F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).cast(
        "long"
    )
    term = events.where(
        F.col("event_type").isin("purchase", "error")
    ).select(
        "user_id",
        day.alias("t"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(2).alias(
            "cause"
        ),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    firsts = (
        term.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select("user_id", "t", "cause")
    )
    nu = events.agg(
        F.countDistinct("user_id").cast("long").alias("nu")
    )
    byday = firsts.groupBy("t").agg(
        F.sum(F.when(F.col("cause") == 1, 1).otherwise(0))
        .cast("long")
        .alias("d1"),
        F.sum(F.when(F.col("cause") == 2, 1).otherwise(0))
        .cast("long")
        .alias("d2"),
    )
    byt = Window.orderBy("t")  # bounded: one row per calendar day
    risk = byday.crossJoin(F.broadcast(nu)).withColumn(
        "n_risk",
        F.col("nu")
        - F.coalesce(
            F.sum(F.col("d1") + F.col("d2")).over(
                byt.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).cast("long"),
    )
    prefix = byt.rowsBetween(Window.unboundedPreceding, -1)
    dead = F.coalesce(
        F.max(
            F.when(F.col("d1") + F.col("d2") >= F.col("n_risk"), 1).otherwise(
                0
            )
        ).over(prefix),
        F.lit(0),
    )
    # once a prior day exhausts the risk set, S(s-) is exactly 0; the
    # factor-0 day never reaches ln()
    surv = risk.withColumn(
        "s_minus",
        F.when(dead == 1, F.lit(0.0)).otherwise(
            F.exp(
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("d1") + F.col("d2") < F.col("n_risk"),
                            F.log(
                                F.lit(1.0)
                                - (F.col("d1") + F.col("d2"))
                                / F.col("n_risk").cast("double")
                            ),
                        )
                    ).over(prefix),
                    F.lit(0.0),
                )
            )
        ),
    )
    return surv.select(
        F.col("t").alias("day_idx"),
        "n_risk",
        F.col("d1").alias("d_purchase"),
        F.col("d2").alias("d_error"),
        F.round(
            F.sum(
                F.col("s_minus") * F.col("d1") / F.col("n_risk").cast("double")
            ).over(byt.rowsBetween(Window.unboundedPreceding, 0)),
            6,
        ).alias("cif_purchase"),
        F.round(
            F.sum(
                F.col("s_minus") * F.col("d2") / F.col("n_risk").cast("double")
            ).over(byt.rowsBetween(Window.unboundedPreceding, 0)),
            6,
        ).alias("cif_error"),
    ).orderBy("day_idx")


@query(
    "fn_verhoeff",
    oracle=f"""
    WITH dt AS (SELECT [{", ".join(str(v) for v in _D)}] AS d,
                       [{", ".join(str(v) for v in _P)}] AS p,
                       [{", ".join(str(v) for v in _INV)}] AS inv),
    ids AS (
        SELECT event_id, LPAD(CAST(event_id AS VARCHAR), 10, '0') AS s
        FROM events
    ),
    folded AS (
        -- fold right-to-left with position weights: c = d[c][p[(i%8)][digit]]
        SELECT i.event_id, i.s,
               LIST_REDUCE(
                   LIST_PREPEND(0, LIST_TRANSFORM(
                       GENERATE_SERIES(1, 10),
                       k -> CAST(STRPOS('0123456789',
                                SUBSTR(i.s, 11 - k, 1)) - 1 AS INTEGER)
                            * 100 + CAST(k % 8 AS INTEGER))),
                   (c, enc) -> t.d[c * 10
                       + t.p[(enc % 100) * 10 + (enc // 100) + 1] + 1]
               ) AS chk
        FROM ids i, dt t
    )
    SELECT event_id, s AS padded_id,
           CAST(t.inv[f.chk + 1] AS BIGINT) AS check_digit,
           -- validation fold = check ∘ c_gen in D5 (check processed
           -- first at weight 0 where p is the identity): d[check][c]
           t.d[t.inv[f.chk + 1] * 10 + f.chk + 1] = 0 AS self_validates
    FROM folded f, dt t
    """,
)
def fn_verhoeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verhoeff check digit over zero-padded event ids: the dihedral-D5
    scheme that detects ALL single-digit and ALL adjacent-transposition
    errors (Luhn misses 09<->90; Damm needs a quasigroup — Verhoeff is
    the classical group-theoretic answer, used by India's Aadhaar).
    Emits the check digit and a self-validation flag (appending the
    digit and re-running the checksum must yield 0 — asserted per row).

    Determinism: the whole computation is table lookups on literal
    integer arrays driven by an ORDERED fold over digit positions
    (LIST_REDUCE / F.aggregate with identical position encoding) — no
    arithmetic that could differ by representation.

    Scale shape: row-local fold over 10 digits, codegen-friendly, no
    shuffle."""
    events = table(spark, sf_dir, "events")
    d_arr = F.array(*[F.lit(v) for v in _D])
    p_arr = F.array(*[F.lit(v) for v in _P])
    inv_arr = F.array(*[F.lit(v) for v in _INV])
    ids = events.select(
        "event_id",
        F.lpad(F.col("event_id").cast("string"), 10, "0").alias("s"),
    )
    # position-encoded digit list (digit*100 + weight), right-to-left;
    # fold c -> d[c][p[i%8][digit]]
    digits = F.transform(
        F.sequence(F.lit(1), F.lit(10)),
        lambda k: F.substring(F.col("s"), 11 - k, 1).cast("int") * 100
        + (k % 8).cast("int"),
    )
    chk = F.aggregate(
        digits,
        F.lit(0),
        lambda c, e: F.element_at(
            d_arr,
            c * 10
            + F.element_at(p_arr, (e % 100) * 10 + (e / 100).cast("int") + 1)
            + 1,
        ),
    )
    folded = ids.select("event_id", "s", chk.alias("chk"))
    check = F.element_at(inv_arr, F.col("chk") + 1)
    # validation fold = check ∘ c_gen in D5 (check digit is processed
    # first at weight 0, where the permutation is the identity)
    validate = (
        F.element_at(d_arr, check * 10 + F.col("chk") + 1) == 0
    )
    return folded.select(
        "event_id",
        F.col("s").alias("padded_id"),
        check.cast("long").alias("check_digit"),
        validate.alias("self_validates"),
    )
