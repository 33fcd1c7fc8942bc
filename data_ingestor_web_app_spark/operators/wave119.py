"""Wave-119: detrended fluctuation analysis alpha, token diversity
indices (Simpson / Berger-Parker), and an integer Page-Hinkley drift
detector.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


def _dfa_size_sql(m: int) -> str:
    # per-box least-squares residual SSE from exact integer sums:
    # m*Sxx is the constant m^2(m^2-1)/12 scaled by m
    msxx = m * m * (m * m - 1) // 12
    return f"""
        SELECT {m} AS m, box,
               SQRT(GREATEST(
                   (CAST(msyy AS DOUBLE)
                    - CAST(msxy AS DOUBLE) * msxy / {msxx}) / {m}, 0)) AS fm
        FROM (
            SELECT box,
                   {m} * SUM(CAST(y AS HUGEINT) * y)
                       - SUM(CAST(y AS HUGEINT)) * SUM(CAST(y AS HUGEINT))
                       AS msyy,
                   {m} * SUM(CAST(j AS HUGEINT) * y)
                       - SUM(CAST(j AS HUGEINT)) * SUM(CAST(y AS HUGEINT))
                       AS msxy
            FROM (
                SELECT (i - 1) // {m} AS box, ((i - 1) % {m}) + 1 AS j, y,
                       COUNT(*) OVER (PARTITION BY (i - 1) // {m}) AS cnt
                FROM prof
            ) WHERE cnt = {m}
            GROUP BY box
        )
    """


@query(
    "events_dfa_alpha",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY day
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s
        FROM daily
    ),
    prof AS (
        SELECT ROW_NUMBER() OVER (ORDER BY day) AS i,
               CAST((SELECT n FROM tot)
                    * SUM(x) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                    - ROW_NUMBER() OVER (ORDER BY day) * (SELECT s FROM tot)
                    AS BIGINT) AS y
        FROM daily
    ),
    boxes AS (
        {_dfa_size_sql(4)}
        UNION ALL
        {_dfa_size_sql(16)}
    ),
    med AS (
        SELECT m, fm, ROW_NUMBER() OVER (PARTITION BY m ORDER BY fm, box) AS r,
               COUNT(*) OVER (PARTITION BY m) AS n
        FROM boxes
    ),
    sel AS (
        SELECT m, CAST(MAX(n) AS BIGINT) AS n_boxes,
               MAX(CASE WHEN r = (n + 1) // 2 THEN fm END) AS med_fm
        FROM med GROUP BY m
    )
    SELECT CAST(MAX(CASE WHEN m = 4 THEN n_boxes END) AS BIGINT) AS n_boxes_4,
           ROUND(MAX(CASE WHEN m = 4 THEN med_fm END), 4) AS f_med_4,
           CAST(MAX(CASE WHEN m = 16 THEN n_boxes END) AS BIGINT) AS n_boxes_16,
           ROUND(MAX(CASE WHEN m = 16 THEN med_fm END), 4) AS f_med_16,
           ROUND(LN(MAX(CASE WHEN m = 16 THEN med_fm END)
                    / MAX(CASE WHEN m = 4 THEN med_fm END)) / LN(4), 6)
               AS dfa_alpha
    FROM sel
    """,
)
def events_dfa_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detrended fluctuation analysis (Peng et al. 1994, public) of the
    daily event-count series: integrate the mean-centered series into a
    profile, split into boxes of 4 and 16 days, remove the per-box linear
    trend by least squares, and compare the median RMS residual across
    scales — alpha = ln(F16/F4)/ln 4, the long-range-correlation exponent
    that (unlike Hurst R/S) is robust to nonstationary level shifts.

    Determinism: the profile is pre-scaled by n (y_i = n*cum_i - i*S) so
    it stays an exact integer; each box's residual SSE comes from the
    closed form Syy - Sxy^2/Sxx over exact HUGEINT/DECIMAL sums (Sxx is a
    compile-time constant per box size); per-size medians are
    rank-selected; alpha is one log ratio. The engines never sum floats.

    Scale shape: identical posture to events_hurst_rs — the stream
    collapses to the daily frame once, and all box math is
    partition-local arithmetic on that tiny frame."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("x"))
    )
    tot = daily.agg(
        F.count("*").cast("long").alias("n"), F.sum("x").cast("long").alias("s")
    )
    wday = Window.orderBy("day")
    prof = (
        daily.crossJoin(F.broadcast(tot))
        .select(
            F.row_number().over(wday).alias("i"),
            (
                F.col("n") * F.sum("x").over(wday.rowsBetween(Window.unboundedPreceding, 0))
                - F.row_number().over(wday) * F.col("s")
            ).alias("y"),
        )
    )
    per_size = []
    for m in (4, 16):
        msxx = m * m * (m * m - 1) // 12
        box = ((F.col("i") - 1) / m).cast("long")
        j = ((F.col("i") - 1) % m) + 1
        rows = prof.select(box.alias("box"), j.alias("j"), "y")
        rows = rows.withColumn(
            "cnt", F.count("*").over(Window.partitionBy("box"))
        ).where(F.col("cnt") == m)
        dec = lambda c: F.col(c).cast("decimal(38,0)")
        sums = rows.groupBy("box").agg(
            (
                m * F.sum(dec("y") * F.col("y"))
                - F.sum(dec("y")) * F.sum(dec("y"))
            ).alias("msyy"),
            (
                m * F.sum(dec("j") * F.col("y"))
                - F.sum(dec("j")) * F.sum(dec("y"))
            ).alias("msxy"),
        )
        per_size.append(
            sums.select(
                F.lit(m).alias("m"),
                "box",
                F.sqrt(
                    F.greatest(
                        (
                            F.col("msyy").cast("double")
                            - F.col("msxy").cast("double")
                            * F.col("msxy").cast("double")
                            / msxx
                        )
                        / m,
                        F.lit(0.0),
                    )
                ).alias("fm"),
            )
        )
    boxes = per_size[0].unionByName(per_size[1])
    wm = Window.partitionBy("m").orderBy("fm", "box")
    med = boxes.select(
        "m",
        "fm",
        F.row_number().over(wm).alias("r"),
        F.count("*").over(Window.partitionBy("m")).alias("n"),
    )
    sel = med.groupBy("m").agg(
        F.max("n").cast("long").alias("n_boxes"),
        F.max(
            F.when(F.col("r") == F.floor((F.col("n") + 1) / 2), F.col("fm"))
        ).alias("med_fm"),
    )
    med4 = F.max(F.when(F.col("m") == 4, F.col("med_fm")))
    med16 = F.max(F.when(F.col("m") == 16, F.col("med_fm")))
    return sel.agg(
        F.max(F.when(F.col("m") == 4, F.col("n_boxes"))).cast("long").alias("n_boxes_4"),
        F.round(med4, 4).alias("f_med_4"),
        F.max(F.when(F.col("m") == 16, F.col("n_boxes")))
        .cast("long")
        .alias("n_boxes_16"),
        F.round(med16, 4).alias("f_med_16"),
        F.round(F.log(med16 / med4) / F.log(F.lit(4.0)), 6).alias("dfa_alpha"),
    )


@query(
    "text_diversity_indices",
    oracle="""
    WITH toks AS (
        SELECT d.source, t.tok
        FROM documents d, UNNEST(STRING_SPLIT(d.text, ' ')) AS t(tok)
    ),
    counts AS (
        SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
        FROM toks GROUP BY source, tok
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           ROUND(CAST(SUM(c * (c - 1)) AS DOUBLE)
                 / (SUM(c) * (SUM(c) - 1)), 6) AS simpson_d,
           ROUND((SUM(c) * (SUM(c) - 1))
                 / CAST(SUM(c * (c - 1)) AS DOUBLE), 4) AS inv_simpson,
           ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS berger_parker,
           ROUND((CAST(COUNT(*) AS DOUBLE) - 1) / LN(SUM(c)), 4) AS margalef
    FROM counts GROUP BY source
    """,
)
def text_diversity_indices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ecology-style diversity panel over each source's token
    distribution (all public): unbiased Simpson concentration
    D = sum c(c-1) / N(N-1) (the probability two tokens drawn without
    replacement coincide), its inverse (effective vocabulary under
    Simpson weighting), Berger-Parker dominance (top token share), and
    Margalef richness (vocab-1)/ln N — the concentration-vs-richness
    complement to entropy-based profiles for spotting template-heavy or
    boilerplate-dominated sources.

    Determinism: c(c-1) sums and N are exact integers; each index is a
    single division (plus one ln for Margalef), rounded at readout.

    Scale shape: one explode -> (source, token) count with map-side
    partials, then a per-source fold over count-of-counts — the same
    single-shuffle profile as text_hapax_profile, and the two share the
    counts frame when run in one job."""
    toks = table(spark, sf_dir, "documents").select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    )
    counts = toks.groupBy("source", "tok").agg(F.count("*").cast("long").alias("c"))
    n = F.sum("c")
    rep = F.sum(F.col("c") * (F.col("c") - 1))
    return counts.groupBy("source").agg(
        n.cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("vocab"),
        F.round(rep.cast("double") / (n * (n - 1)), 6).alias("simpson_d"),
        F.round((n * (n - 1)) / rep.cast("double"), 4).alias("inv_simpson"),
        F.round(F.max("c").cast("double") / n, 6).alias("berger_parker"),
        F.round((F.count("*").cast("double") - 1) / F.log(n), 4).alias("margalef"),
    )


@query(
    "events_page_hinkley",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY day
    ),
    seq AS (
        SELECT day, x,
               ROW_NUMBER() OVER (ORDER BY day) AS i,
               SUM(x) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS cum
        FROM daily
    ),
    u_series AS (
        SELECT day, i,
               SUM(x - cum // i) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                   AS u
        FROM seq
    ),
    ph AS (
        SELECT day, i, u,
               MIN(u) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS run_min
        FROM u_series
    ),
    lam AS (
        SELECT 3 * ((SELECT MAX(cum) FROM seq) // (SELECT MAX(i) FROM seq))
                   AS lambda
    )
    SELECT CAST((SELECT MAX(i) FROM seq) AS BIGINT) AS n_days,
           CAST((SELECT lambda FROM lam) AS BIGINT) AS lambda,
           CAST(SUM(CASE WHEN u - run_min > (SELECT lambda FROM lam)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_alarm_days,
           STRFTIME(MIN(CASE WHEN u - run_min > (SELECT lambda FROM lam)
                             THEN day END), '%Y-%m-%d') AS first_alarm_day,
           CAST(MAX(u - run_min) AS BIGINT) AS max_deviation
    FROM ph
    """,
)
def events_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley upward-drift detector (Page 1954 / Hinkley 1971,
    public) on daily event counts, integer formulation: the cumulative
    deviation from the RUNNING mean U_t = sum(x_i - floor(cum_i / i))
    alarms when it exceeds its running minimum by lambda (set to 3x the
    overall floor-mean daily rate) — the classic sequential change
    detector whose memory is two scalars per stream, here replayed over
    history as windows.

    Determinism: the running mean uses integer floor division (the
    engine's floor-mean centering convention), so U, its running min, and
    lambda are all exact BIGINTs — the whole detector is integer
    arithmetic; the alarm day is a MIN over date strings.

    Scale shape: one daily collapse, then strictly cumulative windows
    over the daily frame (a linear stateful pass — exactly what the
    streaming twin runs as one scalar of state per key at 100 TB)."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("x"))
    )
    wday = Window.orderBy("day")
    cumw = wday.rowsBetween(Window.unboundedPreceding, 0)
    seq = daily.select(
        "day",
        "x",
        F.row_number().over(wday).alias("i"),
        F.sum("x").over(cumw).alias("cum"),
    )
    dev = F.col("x") - F.floor(F.col("cum") / F.col("i")).cast("long")
    ph = seq.select(
        "day",
        "i",
        F.sum(dev).over(cumw).alias("u"),
    ).select(
        "day", "i", "u", F.min("u").over(cumw).alias("run_min")
    )
    tot = seq.agg(
        F.max("i").cast("long").alias("n_days"),
        (3 * F.floor(F.max("cum") / F.max("i"))).cast("long").alias("lambda"),
    )
    return (
        ph.crossJoin(F.broadcast(tot))
        .groupBy()
        .agg(
            F.max("n_days").alias("n_days"),
            F.max("lambda").alias("lambda"),
            F.sum(
                F.when(F.col("u") - F.col("run_min") > F.col("lambda"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_alarm_days"),
            F.date_format(
                F.min(
                    F.when(
                        F.col("u") - F.col("run_min") > F.col("lambda"), F.col("day")
                    )
                ),
                "yyyy-MM-dd",
            ).alias("first_alarm_day"),
            F.max(F.col("u") - F.col("run_min")).cast("long").alias("max_deviation"),
        )
    )
