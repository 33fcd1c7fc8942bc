"""Wave-256: kernel-herding coreset selection over the embedding table
(moment-matching greedy, 3 unrolled steps — the deterministic
complement to sim_kcenter_greedy's coverage greedy) and the Cucconi
location-scale rank test (the one two-sample test that catches BOTH
shift and spread in a single statistic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_HERD_STEPS = 3


def _dot_sql(a: str, b: str) -> str:
    return f"LIST_DOT_PRODUCT({a}, {b})"


@query(
    "sim_kernel_herding",
    oracle=f"""
    WITH emb AS (
        SELECT vec_id,
               LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    dims AS (
        SELECT i, AVG(v[i]) AS mu_i
        FROM emb, UNNEST(RANGE(1, 65)) AS r(i)
        GROUP BY i
    ),
    mu AS (SELECT LIST(mu_i ORDER BY i) AS mu FROM dims),
    s1 AS (
        SELECT vec_id, v, {_dot_sql('v', 'mu.mu')} AS score
        FROM emb CROSS JOIN mu
        ORDER BY score DESC, vec_id LIMIT 1
    ),
    w1 AS (
        SELECT LIST_TRANSFORM(mu.mu, (x, i) -> 2 * x - s1.v[i]) AS w
        FROM mu CROSS JOIN s1
    ),
    s2 AS (
        SELECT vec_id, v, {_dot_sql('v', 'w1.w')} AS score
        FROM emb CROSS JOIN w1
        WHERE vec_id <> (SELECT vec_id FROM s1)
        ORDER BY score DESC, vec_id LIMIT 1
    ),
    w2 AS (
        SELECT LIST_TRANSFORM(mu.mu, (x, i) -> 3 * x - s1.v[i] - s2.v[i])
                   AS w
        FROM mu CROSS JOIN s1 CROSS JOIN s2
    ),
    s3 AS (
        SELECT vec_id, v, {_dot_sql('v', 'w2.w')} AS score
        FROM emb CROSS JOIN w2
        WHERE vec_id NOT IN (SELECT vec_id FROM s1
                             UNION ALL SELECT vec_id FROM s2)
        ORDER BY score DESC, vec_id LIMIT 1
    ),
    gaps AS (
        SELECT 1 AS step, s1.vec_id, s1.score,
               {_dot_sql(
                   "LIST_TRANSFORM(mu.mu, (x, i) -> x - s1.v[i])",
                   "LIST_TRANSFORM(mu.mu, (x, i) -> x - s1.v[i])")} AS gap2
        FROM s1 CROSS JOIN mu
        UNION ALL
        SELECT 2, s2.vec_id, s2.score,
               {_dot_sql(
                   "LIST_TRANSFORM(mu.mu, (x, i) -> x - (s1.v[i] + s2.v[i]) / 2)",
                   "LIST_TRANSFORM(mu.mu, (x, i) -> x - (s1.v[i] + s2.v[i]) / 2)")}
        FROM s1 CROSS JOIN s2 CROSS JOIN mu
        UNION ALL
        SELECT 3, s3.vec_id, s3.score,
               {_dot_sql(
                   "LIST_TRANSFORM(mu.mu, (x, i) -> x - (s1.v[i] + s2.v[i] + s3.v[i]) / 3)",
                   "LIST_TRANSFORM(mu.mu, (x, i) -> x - (s1.v[i] + s2.v[i] + s3.v[i]) / 3)")}
        FROM s1 CROSS JOIN s2 CROSS JOIN s3 CROSS JOIN mu
    )
    SELECT step, vec_id,
           ROUND(score, 6) AS score,
           ROUND(gap2, 6) AS mmd2_to_mean
    FROM gaps ORDER BY step
    """,
)
def sim_kernel_herding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kernel herding coreset selection (Chen, Welling & Smola, UAI
    2010, public) with the linear kernel, 3 greedy steps unrolled:
    w_0 = mu (the mean embedding); each step picks argmax <w_t, x>
    (ties to the smaller vec_id) and updates w_{t+1} = w_t + mu - x —
    the moment-matching coreset whose sample mean converges to mu at
    O(1/T) instead of Monte Carlo's O(1/sqrt(T)). mmd2_to_mean =
    ||mu - mean(selected)||^2 after each step is the objective, and
    the test asserts it shrinks. Complements sim_kcenter_greedy:
    coverage picks the hull, herding picks the CENTER of mass.

    Exactness device: per-dimension means and dot products are the
    identical double chains in both engines; each argmax has a total
    order (score desc, vec_id).

    Scale shape: per step, one broadcast of the 64-float w and one
    map-side argmax over the corpus — T scans, no pairwise anything."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    )
    dims = (
        emb.select(F.posexplode("v").alias("i", "x"))
        .groupBy("i")
        .agg(F.avg("x").alias("mu_i"))
    )
    mu = dims.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(i, mu_i))),"
            " s -> s.mu_i)"
        ).alias("mu")
    )

    def dot(a: str, b: str):
        return F.expr(
            f"aggregate(zip_with({a}, {b}, (x, y) -> x * y),"
            " cast(0.0 as double), (acc, t) -> acc + t)"
        )

    # state: 1-row frame carrying mu plus every chosen (vec_id_j, v_j).
    # r11 lineage truncation (wave124 idiom): each per-step 1-row state is
    # eagerly localCheckpointed — the final 3-branch union otherwise embeds
    # step k's WHOLE chain prefix per branch (3 posexplode mu passes + 6
    # corpus argmax scans instead of 1 + 3), and every crossJoin(state)
    # re-expanded the prefix subtree during analysis. Values are untouched:
    # the checkpoint materializes the same 1-row frame.
    state = mu.localCheckpoint(eager=True)
    out_rows = []
    for step in range(1, _HERD_STEPS + 1):
        minus = "".join(
            f" - element_at(v{j}, i + 1)" for j in range(1, step)
        )
        w_expr = f"transform(mu, (x, i) -> {step} * x{minus})"
        cand = emb.crossJoin(F.broadcast(state))
        for j in range(1, step):
            cand = cand.where(F.col("vec_id") != F.col(f"vec_id{j}"))
        top = (
            cand.withColumn("score", dot("v", w_expr))
            .orderBy(F.col("score").desc(), "vec_id")
            .limit(1)
            .withColumnRenamed("vec_id", f"vec_id{step}")
            .withColumnRenamed("v", f"v{step}")
            .withColumnRenamed("score", f"score{step}")
        )
        state = top.localCheckpoint(eager=True)
        plus = " + ".join(
            f"element_at(v{j}, i + 1)" for j in range(1, step + 1)
        )
        mean_gap = f"transform(mu, (x, i) -> x - ({plus}) / {step})"
        out_rows.append(
            state.select(
                F.lit(step).cast("int").alias("step"),
                F.col(f"vec_id{step}").alias("vec_id"),
                F.round(F.col(f"score{step}"), 6).alias("score"),
                F.round(dot(mean_gap, mean_gap), 6).alias("mmd2_to_mean"),
            )
        )
    out = out_rows[0]
    for r in out_rows[1:]:
        out = out.unionAll(r)
    return out


@query(
    "agg_cucconi_test",
    oracle="""
    WITH tagged AS (
        SELECT value, (event_type = 'view')::INT AS in_a
        FROM events WHERE event_type IN ('view', 'click')
    ),
    by_val AS (
        SELECT value,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(SUM(in_a) AS BIGINT) AS cnt_a,
               CAST(COUNT(*) - SUM(in_a) AS BIGINT) AS cnt_b
        FROM tagged GROUP BY value
    ),
    cum AS (
        SELECT cnt, cnt_a, cnt_b,
               SUM(cnt) OVER (ORDER BY value) - cnt AS bef
        FROM by_val
    ),
    mid AS (
        SELECT cnt_a, cnt_b, bef + (cnt + 1) / 2.0 AS m FROM cum
    ),
    tot AS (SELECT CAST(SUM(cnt_a + cnt_b) AS BIGINT) AS nn FROM mid),
    mom AS (
        SELECT CAST(SUM(cnt_a) AS BIGINT) AS n1,
               CAST(SUM(cnt_b) AS BIGINT) AS n2,
               ANY_VALUE(t.nn) AS nn,
               SUM(cnt_b * m * m) AS s2,
               SUM(cnt_b * (t.nn + 1 - m) * (t.nn + 1 - m)) AS s2c
        FROM mid CROSS JOIN tot t
    ),
    uv AS (
        SELECT n1, n2, nn,
               (6 * s2 - n2 * (nn + 1.0) * (2 * nn + 1))
               / SQRT(n1 * CAST(n2 AS DOUBLE) * (nn + 1) * (2 * nn + 1)
                      * (8 * nn + 11) / 5) AS u,
               (6 * s2c - n2 * (nn + 1.0) * (2 * nn + 1))
               / SQRT(n1 * CAST(n2 AS DOUBLE) * (nn + 1) * (2 * nn + 1)
                      * (8 * nn + 11) / 5) AS v,
               2.0 * (CAST(nn AS DOUBLE) * nn - 4)
                   / ((2 * nn + 1.0) * (8 * nn + 11)) - 1 AS rho
        FROM mom
    )
    SELECT n1, n2,
           ROUND(u, 6) AS u,
           ROUND(v, 6) AS v,
           ROUND(rho, 6) AS rho,
           ROUND((u * u + v * v - 2 * rho * u * v)
                 / (2 * (1 - rho * rho)), 6) AS c_stat,
           (u * u + v * v - 2 * rho * u * v) / (2 * (1 - rho * rho))
               > 2.995732 AS location_scale_differs
    FROM uv
    """,
)
def agg_cucconi_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cucconi two-sample location-scale test (Cucconi, Giorn. Econom.
    1968; Marozzi, J. Stat. Comput. Simul. 2009, public): U from the
    squared midranks of the second sample, V from its squared
    CONTRA-ranks (N+1-S), combined through their exact null correlation
    rho = 2(N^2-4)/((2N+1)(8N+11)) - 1 into C = (U^2 + V^2 - 2*rho*U*V)
    / (2(1-rho^2)), which is asymptotically standard-exponential under
    the null — so the 5% point is the literal -ln(0.05) = 2.995732. One
    statistic that responds to BOTH a shift (Mann-Whitney territory)
    and a spread change (Ansari-Bradley territory), and predates
    Lepage by several years.

    Exactness device: the wave239 grouped-midrank device (integer
    counts, .5-rational midranks); the moment constants are exact
    rational chains in doubles; the flag compares the identical
    unrounded C.

    Scale shape: distinct-value rollup, one prefix window on the
    bounded value frame, one moment aggregate."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events").where(
        F.col("event_type").isin("view", "click")
    )
    by_val = e.groupBy("value").agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum((F.col("event_type") == "view").cast("int"))
        .cast("long")
        .alias("cnt_a"),
        (F.count("*") - F.sum((F.col("event_type") == "view").cast("int")))
        .cast("long")
        .alias("cnt_b"),
    )
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    mid = by_val.select(
        "cnt_a",
        "cnt_b",
        (F.sum("cnt").over(w) - F.col("cnt") + (F.col("cnt") + 1) / 2.0).alias(
            "m"
        ),
    )
    tot = mid.agg(
        F.sum(F.col("cnt_a") + F.col("cnt_b")).cast("long").alias("nn")
    )
    mom = mid.crossJoin(F.broadcast(tot)).agg(
        F.sum("cnt_a").cast("long").alias("n1"),
        F.sum("cnt_b").cast("long").alias("n2"),
        F.first("nn").alias("nn"),
        F.sum(F.col("cnt_b") * F.col("m") * F.col("m")).alias("s2"),
        F.sum(
            F.col("cnt_b")
            * (F.col("nn") + 1 - F.col("m"))
            * (F.col("nn") + 1 - F.col("m"))
        ).alias("s2c"),
    )
    nn = F.col("nn")
    den = F.sqrt(
        F.col("n1")
        * F.col("n2").cast("double")
        * (nn + 1)
        * (2 * nn + 1)
        * (8 * nn + 11)
        / 5
    )
    u = (6 * F.col("s2") - F.col("n2") * (nn + 1.0) * (2 * nn + 1)) / den
    v = (6 * F.col("s2c") - F.col("n2") * (nn + 1.0) * (2 * nn + 1)) / den
    rho = 2.0 * (nn.cast("double") * nn - 4) / ((2 * nn + 1.0) * (8 * nn + 11)) - 1
    c = (u * u + v * v - 2 * rho * u * v) / (2 * (1 - rho * rho))
    return mom.select(
        "n1",
        "n2",
        F.round(u, 6).alias("u"),
        F.round(v, 6).alias("v"),
        F.round(rho, 6).alias("rho"),
        F.round(c, 6).alias("c_stat"),
        (c > 2.995732).alias("location_scale_differs"),
    )
