"""Scale-safe global row ranks (r8, VERDICT r7 item 4).

``row_number() OVER (ORDER BY value, tiebreak)`` with no partition key moves
the whole input into ONE task — a corpus-sized partition at 100 TB. This
helper computes the identical index with the two-phase sharded prefix-rank:

1. rank WITHIN each distinct value (``Window.partitionBy(value)`` — per-key
   parallel, the hot partition is a tie group, not the corpus);
2. ADD the cumulative count of strictly-smaller values, taken from the
   distinct-value frame (a global window whose input is an Aggregate — a
   barrier for the ``window-global-scan`` rule of plans/lint.py).

The result is bit-identical to the single-partition ``row_number`` for any
total order (value, tiebreak), so oracle SQL that ranks per-row still
matches exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def global_row_index(
    df: DataFrame,
    value_col: str,
    tiebreak: Column | str | list,
    *,
    descending: bool = False,
    index_col: str = "__i",
) -> DataFrame:
    """Append ``index_col`` = 1-based global rank by (value [DESC],
    tiebreak...) without a corpus-wide single-partition window."""
    tiebreaks = tiebreak if isinstance(tiebreak, list) else [tiebreak]
    per = df.groupBy(value_col).agg(F.count("*").alias("__k"))
    order = F.col(value_col).desc() if descending else F.col(value_col).asc()
    w_off = Window.orderBy(order)
    off = per.select(
        value_col, (F.sum("__k").over(w_off) - F.col("__k")).alias("__below")
    )
    w_in = Window.partitionBy(value_col).orderBy(*tiebreaks)
    return (
        df.join(off, value_col)
        .withColumn(index_col, F.col("__below") + F.row_number().over(w_in))
        .drop("__below")
    )


def ntile_from_index(index: Column, n_rows: Column, tiles: int) -> Column:
    """The tile ``NTILE(tiles)`` assigns to global row ``index`` out of
    ``n_rows`` — closed form of Spark/DuckDB's front-loaded tile sizing
    (first ``n % tiles`` tiles get ``n div tiles + 1`` rows)."""
    base = (n_rows / tiles).cast("long")  # floor for non-negative n
    rem = n_rows - base * tiles
    head = rem * (base + 1)
    return (
        F.when(index <= head, F.ceil(index / (base + 1)))
        .otherwise(rem + F.ceil((index - head) / F.greatest(base, F.lit(1))))
        .cast("int")
    )


# Shared oracle-SQL prelude: three "voters" rank the event types (daily
# count, milli-value total, distinct-user reach) — the multi-metric ranking
# fusion every leaderboard faces.
RANKERS_SQL = """
    m AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT)) AS BIGINT)
                   AS v_milli,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS reach
        FROM events GROUP BY event_type
    ),
    r AS (
        SELECT event_type,
               ROW_NUMBER() OVER (ORDER BY n_events DESC, event_type) AS r1,
               ROW_NUMBER() OVER (ORDER BY v_milli DESC, event_type) AS r2,
               ROW_NUMBER() OVER (ORDER BY reach DESC, event_type) AS r3,
               COUNT(*) OVER () AS k
        FROM m
    )
"""
