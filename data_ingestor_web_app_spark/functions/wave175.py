"""Wave-175: check-digit schemes — Luhn, Damm, and ISO 7064 mod-97 —
as pure integer folds.

Data-quality engines validate identifiers (cards, IBANs, device serials)
at ingest; these are the three classic schemes, each exactly replayable:
Luhn (catches all single-digit and most adjacent-transposition errors),
Damm (catches ALL single-digit and adjacent-transposition errors via an
antisymmetric quasigroup), and ISO 7064 mod-97 (the IBAN scheme, catching
longer error bursts). Synthetic 10-digit identifiers derive from
o_orderkey so every engine sees identical inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

# zero-padded 10-digit payload from the order key (deterministic input)
_PAYLOAD_SPARK = "lpad(CAST(o_orderkey AS STRING), 10, '0')"
_PAYLOAD_DUCK = "LPAD(CAST(o_orderkey AS VARCHAR), 10, '0')"

# The Damm quasigroup (Damm 2004 doctoral thesis table, public): a 10x10
# antisymmetric Latin square with zero diagonal, flattened row-major.
_DAMM = [
    0, 3, 1, 7, 5, 9, 8, 6, 4, 2,
    7, 0, 9, 2, 1, 5, 4, 8, 6, 3,
    4, 2, 0, 6, 8, 7, 1, 3, 5, 9,
    1, 7, 5, 0, 9, 8, 3, 4, 2, 6,
    6, 1, 2, 3, 0, 4, 5, 9, 7, 8,
    3, 6, 7, 4, 2, 0, 9, 5, 8, 1,
    5, 8, 6, 9, 7, 2, 0, 1, 3, 4,
    8, 9, 4, 5, 3, 6, 2, 0, 1, 7,
    9, 4, 3, 8, 6, 1, 7, 2, 0, 5,
    2, 5, 8, 1, 4, 3, 6, 7, 9, 0,
]
_DAMM_SPARK = "array(" + ",".join(map(str, _DAMM)) + ")"
_DAMM_DUCK = "[" + ",".join(map(str, _DAMM)) + "]"


@query(
    "fn_luhn_checksum",
    oracle=f"""
    WITH ids AS (
        SELECT o_orderkey, {_PAYLOAD_DUCK} AS payload
        FROM orders WHERE o_orderkey % 97 = 0
    ),
    digs AS (
        SELECT o_orderkey, payload, i,
               CAST(SUBSTR(payload, 11 - i, 1) AS BIGINT) AS d
        FROM ids CROSS JOIN (SELECT UNNEST(RANGE(1, 11)) AS i)
    ),
    summed AS (
        SELECT o_orderkey, payload,
               CAST(SUM(CASE WHEN i % 2 = 1 THEN
                        CASE WHEN d * 2 > 9 THEN d * 2 - 9 ELSE d * 2 END
                    ELSE d END) AS BIGINT) AS s
        FROM digs GROUP BY o_orderkey, payload
    )
    SELECT o_orderkey, payload,
           CAST((10 - s % 10) % 10 AS BIGINT) AS check_digit,
           payload || CAST((10 - s % 10) % 10 AS VARCHAR) AS full_id
    FROM summed
    """,
)
def fn_luhn_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luhn check digit (Luhn 1960 patent, public — the card-number
    scheme): starting AT the rightmost payload digit (which lands on an
    even position once the check digit is appended) and moving left,
    double every second digit (subtracting 9 on overflow), sum, and
    append the digit
    that brings the total to a multiple of 10. Catches every single-digit
    error and all adjacent transpositions except 09↔90.

    Determinism: pure digit arithmetic over a zero-padded key.

    Scale shape: per-row projection (the digit sweep is a bounded
    explode/fold); no shuffle."""
    ids = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 97 == 0)
        .select("o_orderkey", F.expr(_PAYLOAD_SPARK).alias("payload"))
    )
    s = F.expr(
        """aggregate(sequence(1, 10), CAST(0 AS BIGINT), (acc, i) ->
             acc + (CASE WHEN i % 2 = 1 THEN
                      CASE WHEN CAST(substring(payload, 11 - i, 1) AS BIGINT) * 2 > 9
                           THEN CAST(substring(payload, 11 - i, 1) AS BIGINT) * 2 - 9
                           ELSE CAST(substring(payload, 11 - i, 1) AS BIGINT) * 2 END
                    ELSE CAST(substring(payload, 11 - i, 1) AS BIGINT) END))"""
    )
    chk = (10 - s % 10) % 10
    return ids.select(
        "o_orderkey",
        "payload",
        chk.cast("long").alias("check_digit"),
        F.concat(F.col("payload"), chk.cast("string")).alias("full_id"),
    )


@query(
    "fn_damm_checksum",
    oracle=f"""
    WITH ids AS (
        SELECT o_orderkey, {_PAYLOAD_DUCK} AS payload
        FROM orders WHERE o_orderkey % 97 = 0
    )
    SELECT o_orderkey, payload,
           list_reduce(
               list_prepend(CAST(0 AS BIGINT), RANGE(1, 11)),
               (acc, i) -> CAST(({_DAMM_DUCK})[
                   acc * 10 + CAST(SUBSTR(payload, i, 1) AS BIGINT) + 1]
                   AS BIGINT)) AS check_digit,
           payload || CAST(list_reduce(
               list_prepend(CAST(0 AS BIGINT), RANGE(1, 11)),
               (acc, i) -> CAST(({_DAMM_DUCK})[
                   acc * 10 + CAST(SUBSTR(payload, i, 1) AS BIGINT) + 1]
                   AS BIGINT)) AS VARCHAR) AS full_id
    FROM ids
    """,
)
def fn_damm_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damm check digit (Damm 2004, public): fold the digits left-to-
    right through a 10x10 antisymmetric quasigroup; the final interim
    value IS the check digit, and a valid full id folds to 0. Detects
    ALL single-digit errors and ALL adjacent transpositions — the
    property Luhn lacks — with no weighting tricks.

    Determinism: a table-lookup fold over the flattened Latin square
    (literal array in both engines, 1-based indexing).

    Scale shape: per-row bounded fold; no shuffle."""
    ids = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 97 == 0)
        .select("o_orderkey", F.expr(_PAYLOAD_SPARK).alias("payload"))
    )
    chk = F.expr(
        f"""aggregate(sequence(1, 10), CAST(0 AS BIGINT), (acc, i) ->
              CAST(element_at({_DAMM_SPARK},
                   CAST(acc * 10 + CAST(substring(payload, i, 1) AS BIGINT) + 1
                        AS INT)) AS BIGINT))"""
    )
    return ids.select(
        "o_orderkey",
        "payload",
        chk.alias("check_digit"),
        F.concat(F.col("payload"), chk.cast("string")).alias("full_id"),
    )


@query(
    "fn_mod97_check",
    oracle=f"""
    WITH ids AS (
        SELECT o_orderkey, {_PAYLOAD_DUCK} AS payload
        FROM orders WHERE o_orderkey % 97 = 0
    ),
    r AS (
        SELECT o_orderkey, payload,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT), RANGE(1, 11)),
                   (acc, i) -> (acc * 10
                       + CAST(SUBSTR(payload, i, 1) AS BIGINT)) % 97)
                   AS rem
        FROM ids
    )
    SELECT o_orderkey, payload,
           CAST(98 - (rem * 100) % 97 AS BIGINT) AS check_pair,
           (CAST(98 - (rem * 100) % 97 AS BIGINT) * 1 + (rem * 100) % 97) = 98
               AS self_validates
    FROM r
    """,
)
def fn_mod97_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO 7064 mod-97-10 check pair (the IBAN scheme, public): compute
    the payload's remainder mod 97 by Horner's rule (the standard
    streaming-digit trick — no bignum needed, (acc·10+d) mod 97 per
    digit), then the two-digit check 98 − (rem·100 mod 97). A full
    number payload||check ≡ 1 (mod 97) validates — asserted as the
    self_validates column. Catches all single errors and ~99% of burst
    errors, which is why banking chose it.

    Determinism: exact modular integer fold.

    Scale shape: per-row bounded fold; no shuffle."""
    ids = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 97 == 0)
        .select("o_orderkey", F.expr(_PAYLOAD_SPARK).alias("payload"))
    )
    rem = F.expr(
        """aggregate(sequence(1, 10), CAST(0 AS BIGINT), (acc, i) ->
             (acc * 10 + CAST(substring(payload, i, 1) AS BIGINT)) % 97)"""
    )
    check = 98 - (rem * 100) % 97
    return ids.select(
        "o_orderkey",
        "payload",
        check.cast("long").alias("check_pair"),
        ((check * 1 + (rem * 100) % 97) == 98).alias("self_validates"),
    )
