"""Wave-350: the lambda higher-order-function shelf — transform /
filter / exists / forall / aggregate / zip_with over per-document
token arrays, the SQL:2016-era array-lambda surface (Spark HOFs vs
DuckDB list lambdas).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "fn_lambda_hof_shelf",
    oracle="""
    WITH t AS (
        SELECT doc_id, STRING_SPLIT(text, ' ') AS tokens
        FROM documents
    ),
    lens AS (
        SELECT doc_id, tokens,
               list_transform(tokens, x -> length(x)) AS ls
        FROM t
    )
    SELECT doc_id,
           CAST(len(tokens) AS BIGINT) AS n_tokens,
           CAST(list_sum(ls) AS BIGINT) AS total_chars,
           CAST(len(list_filter(tokens, x -> length(x) > 4)) AS BIGINT)
               AS n_long_tokens,
           len(list_filter(tokens, x -> x = 'the')) > 0 AS has_the,
           len(list_filter(tokens, x -> length(x) = 0)) = 0
               AS all_nonempty,
           CAST(list_sum(list_transform(ls, x -> x * x)) AS BIGINT)
               AS sum_sq_lens,
           CAST(list_dot_product(
                    list_transform(ls, x -> CAST(x AS DOUBLE)),
                    list_transform(list_reverse(ls),
                                   x -> CAST(x AS DOUBLE))) AS BIGINT)
               AS palindrome_dot
    FROM lens
    """,
)
def fn_lambda_hof_shelf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The array-lambda shelf over per-document token arrays — the
    higher-order functions a modern engine must expose (Spark's
    transform/filter/exists/forall/aggregate/zip_with vs DuckDB's
    list_transform/list_filter/list_sum/list_dot_product): token
    count, total characters via a transform+aggregate, long-token
    count via a lambda filter, exists/forall predicates, the sum of
    squared lengths, and a zip_with 'palindrome dot' of the length
    vector against its reverse (equal for palindromic shapes).

    Determinism: every column is exact integer/boolean lambda algebra
    on the same split; no floats survive to the output.

    Scale shape: pure per-row array projections — lambdas run inside
    whole-stage codegen, no explode, no shuffle, no UDF."""
    t = table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("tokens")
    )
    lens = t.withColumn(
        "ls", F.transform("tokens", lambda x: F.length(x))
    )
    return lens.select(
        "doc_id",
        F.size("tokens").cast("long").alias("n_tokens"),
        F.aggregate(
            "ls", F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("total_chars"),
        F.size(F.filter("tokens", lambda x: F.length(x) > 4))
        .cast("long")
        .alias("n_long_tokens"),
        F.exists("tokens", lambda x: x == F.lit("the")).alias("has_the"),
        F.forall("tokens", lambda x: F.length(x) > 0).alias("all_nonempty"),
        F.aggregate(
            F.transform("ls", lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("sum_sq_lens"),
        F.aggregate(
            F.zip_with("ls", F.reverse("ls"), lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("palindrome_dot"),
    )
