"""Wave-39: SQL-string API surface, Arrow grouped model fitting,
hash-reservoir sampling, map functions, accumulator audit.

API-breadth wave: proves the SAME engine answers through spark.sql()
over registered views (sql_tpch_q1_via_sql), fits per-group models in
grouped Arrow batches (udaf_group_ols_pandas — numerically pinned to the
SQL regr_* aggregates), and shows deterministic distributed sampling
(hash-rank reservoir — portable across engines AND across reruns, unlike
rand()-based sampling).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "sql_tpch_q1_via_sql",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
           ROUND(AVG(l_discount), 6) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def sql_tpch_q1_via_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship pricing summary expressed through the SQL-STRING API:
    tables register as temp views, the query is one spark.sql() call —
    proving the string surface compiles to the same Catalyst plan as the
    DataFrame DSL (a reference user can bring raw SQL untouched).

    Scale shape: identical to agg_groupby — pushed filter, partial+final
    hash aggregation."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
               ROUND(AVG(l_discount), 6) AS avg_disc,
               COUNT(*) AS count_order
        FROM v_lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        """
    )


@query(
    "udaf_group_ols_pandas",
    oracle="""
    SELECT l_returnflag,
           ROUND(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
           ROUND(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def udaf_group_ols_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group model fitting in grouped Arrow batches: each return-flag
    group arrives as ONE pandas frame and numpy computes the OLS fit from
    the closed-form moments — the applyInPandas pattern for anything
    scikit-shaped. Numerically pinned to the SQL regr_* aggregates (the
    oracle), so the Python path provably matches the JVM algebraic path
    to 6dp.

    Scale shape: groups must fit in executor memory (fine for k=3 flags
    of any size via the moment formulation — the kernel reduces to 5
    sums); for huge groups the same math moves into agg_linreg's pure-SQL
    form. This operator exists to pin the Arrow-grouped API."""
    import numpy as np
    import pandas as pd

    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf["l_quantity"].to_numpy(dtype=np.float64)
        y = pdf["l_extendedprice"].to_numpy(dtype=np.float64)
        n = len(x)
        # centered moments — raw Σx², Σxy cancel catastrophically at n~1e5
        # and would miss the 6dp pin against DuckDB's stable regr_slope
        dx = x - x.mean()
        dy = y - y.mean()
        slope = (dx * dy).sum() / (dx * dx).sum()
        intercept = y.mean() - slope * x.mean()
        return pd.DataFrame(
            {
                "l_returnflag": [pdf["l_returnflag"].iloc[0]],
                "slope": [round(slope, 6)],
                "intercept": [round(intercept, 6)],
                "n": [n],
            }
        )

    return li.groupBy("l_returnflag").applyInPandas(
        fit, schema="l_returnflag string, slope double, intercept double, n long"
    )


@query(
    "sample_hash_reservoir",
    oracle="""
    WITH ranked AS (
        SELECT event_type, event_id, user_id,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type
                   ORDER BY MD5(CAST(event_id AS VARCHAR) || '|rsv'), event_id
               ) AS rk
        FROM events
    )
    SELECT event_type, event_id, user_id, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= 20
    """,
)
def sample_hash_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group 'reservoir' sample: rank rows by a salted
    MD5 of their key and keep the 20 smallest per event type. Unlike
    rand()-based sampling this is REPRODUCIBLE across engines, reruns,
    and cluster layouts (pure function of the data), composable with
    incremental runs, and uniform because the hash is — the sampling
    primitive a debugging/eval pipeline actually wants.

    Scale shape: one shuffle on the group key; WindowGroupLimit pushes
    rk<=20 into the sort so only 20 rows per group survive the window."""
    e = table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy(
        F.md5(F.concat(F.col("event_id").cast("string"), F.lit("|rsv"))), "event_id"
    )
    return (
        e.select("event_type", "event_id", "user_id")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 20)
    )


@query(
    "fn_map_functions",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               STRING_SPLIT(text, ' ')[1:4] AS ks
        FROM documents WHERE doc_id < 300
    ),
    entries AS (
        SELECT doc_id, k, CAST(LEN(k) AS BIGINT) AS v
        FROM (SELECT doc_id, UNNEST(LIST_DISTINCT(ks)) AS k FROM t)
    )
    SELECT doc_id,
           ARRAY_TO_STRING(LIST_SORT(LIST(k || '=' || CAST(v AS VARCHAR))), ',')
               AS entries_sorted,
           CAST(COUNT(*) AS INT) AS n_keys,
           CAST(SUM(v) AS BIGINT) AS total_len,
           COALESCE(ARRAY_TO_STRING(LIST_SORT(LIST(k) FILTER (WHERE v >= 5)), ','),
                    '') AS long_keys
    FROM entries GROUP BY doc_id
    """,
)
def fn_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-type function family: build a token→length map per document
    (map_from_arrays over distinct tokens), then map_entries /
    map_keys / map_filter / aggregate-over-values — emitted as sorted
    entry strings so map iteration order (undefined in both engines)
    never touches the hash.

    Scale shape: per-row JVM map kernels, no shuffle."""
    d = table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    t = d.select(
        "doc_id",
        F.array_distinct(F.slice(F.split("text", " "), 1, 4)).alias("ks"),
    )
    m = t.select(
        "doc_id",
        F.map_from_arrays(
            "ks", F.transform("ks", lambda k: F.length(k).cast("long"))
        ).alias("mp"),
    )
    entries_sorted = F.array_join(
        F.array_sort(
            F.transform(
                F.map_entries("mp"),
                lambda e: F.concat(e["key"], F.lit("="), e["value"].cast("string")),
            )
        ),
        ",",
    )
    long_keys = F.array_join(
        F.array_sort(F.map_keys(F.map_filter("mp", lambda k, v: v >= 5))), ","
    )
    total_len = F.aggregate(
        F.map_values("mp"), F.lit(0).cast("long"), lambda acc, v: acc + v
    )
    return m.select(
        "doc_id",
        entries_sorted.alias("entries_sorted"),
        F.size("mp").alias("n_keys"),
        total_len.alias("total_len"),
        long_keys.alias("long_keys"),
    )
