"""Wave-177: primary-key uniqueness audit across the warehouse.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

# declared primary keys per table (composite for lineitem)
_KEYS = [
    ("region", ["r_regionkey"]),
    ("nation", ["n_nationkey"]),
    ("customer", ["c_custkey"]),
    ("supplier", ["s_suppkey"]),
    ("part", ["p_partkey"]),
    ("orders", ["o_orderkey"]),
    ("lineitem", ["l_orderkey", "l_linenumber"]),
    ("events", ["event_id"]),
    ("documents", ["doc_id"]),
    ("embeddings", ["vec_id"]),
]


def _one_oracle(tbl: str, keys: list[str]) -> str:
    kexpr = ", ".join(keys)
    return f"""
    SELECT '{tbl}' AS table_name,
           '{",".join(keys)}' AS key_columns,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT ({kexpr})) AS BIGINT) AS n_distinct_keys,
           COUNT(*) = COUNT(DISTINCT ({kexpr})) AS is_unique,
           CAST(SUM(CASE WHEN {" OR ".join(f"{k} IS NULL" for k in keys)}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_null_keys
    FROM {tbl}"""


@query(
    "dq_uniqueness_audit",
    oracle="\nUNION ALL\n".join(_one_oracle(t, ks) for t, ks in _KEYS),
)
def dq_uniqueness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key uniqueness audit across ALL ten warehouse tables in
    one result: declared key columns, row vs distinct-key counts, the
    uniqueness verdict, and null-key counts — the first data-quality
    check any ingest pipeline runs, here as the per-table contract made
    queryable (completing the dq_ family: expectations, cross-field
    rules, referential integrity, freshness, and now key uniqueness).

    Determinism: exact counts; composite keys compared as tuples in both
    engines. Finding: the synthetic lineitem fixture does NOT enforce
    TPC-H's composite (l_orderkey, l_linenumber) key — the audit reports
    is_unique = false there, and the pytest pins that detection (an
    audit that only ever passes proves nothing).

    Scale shape: one count-distinct aggregation per table (map-side
    partials; at 100 TB the distinct check is the one real shuffle per
    table and is exactly what a constraint validator must pay — or
    delegate to agg_kmv_distinct's sketch for a probabilistic fast
    path)."""
    parts = []
    for tbl, keys in _KEYS:
        t = table(spark, sf_dir, tbl)
        kc = F.struct(*[F.col(k) for k in keys])
        null_pred = reduce(
            lambda a, b: a | b, [F.col(k).isNull() for k in keys]
        )
        parts.append(
            t.agg(
                F.lit(tbl).alias("table_name"),
                F.lit(",".join(keys)).alias("key_columns"),
                F.count("*").cast("long").alias("n_rows"),
                F.count_distinct(kc).cast("long").alias("n_distinct_keys"),
                (F.count("*") == F.count_distinct(kc)).alias("is_unique"),
                F.sum(null_pred.cast("long")).cast("long").alias("n_null_keys"),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), parts)
