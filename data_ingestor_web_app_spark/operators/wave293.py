"""Wave-293: Hamming(7,4) error correction audited end-to-end (encode,
corrupt one md5-chosen bit, decode via syndrome, assert recovery) and
the medcouple robust skewness (the statistic behind adjusted boxplots).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

# Hamming(7,4), systematic form: codeword bits [p1 p2 d1 p3 d2 d3 d4]
# (positions 1..7); parity p1 covers {1,3,5,7}, p2 {2,3,6,7}, p3
# {4,5,6,7}. The syndrome (s3 s2 s1) reads the corrupted position
# directly — the textbook construction (Hamming, BSTJ 1950).


def _ham_sql(nib: str, flip: str) -> str:
    """Shared SQL for encode -> flip -> syndrome -> correct, written once
    and reused verbatim by both engines (pure integer bit algebra)."""
    d1 = f"(({nib}) // 8) % 2"
    d2 = f"(({nib}) // 4) % 2"
    d3 = f"(({nib}) // 2) % 2"
    d4 = f"({nib}) % 2"
    p1 = f"(({d1}) + ({d2}) + ({d4})) % 2"
    p2 = f"(({d1}) + ({d3}) + ({d4})) % 2"
    p3 = f"(({d2}) + ({d3}) + ({d4})) % 2"
    # bit at position i (1..7): [p1 p2 d1 p3 d2 d3 d4]
    bits = [p1, p2, d1, p3, d2, d3, d4]
    flipped = [
        f"((({b}) + (CASE WHEN ({flip}) = {i + 1} THEN 1 ELSE 0 END)) % 2)"
        for i, b in enumerate(bits)
    ]
    f1, f2, f3, f4, f5, f6, f7 = flipped
    s1 = f"(({f1}) + ({f3}) + ({f5}) + ({f7})) % 2"
    s2 = f"(({f2}) + ({f3}) + ({f6}) + ({f7})) % 2"
    s3 = f"(({f4}) + ({f5}) + ({f6}) + ({f7})) % 2"
    syndrome = f"(({s1}) + 2 * ({s2}) + 4 * ({s3}))"
    corrected = [
        f"((({fb}) + (CASE WHEN ({syndrome}) = {i + 1} THEN 1 ELSE 0 END))"
        f" % 2)"
        for i, fb in enumerate(flipped)
    ]
    decoded = (
        f"(8 * ({corrected[2]}) + 4 * ({corrected[4]})"
        f" + 2 * ({corrected[5]}) + ({corrected[6]}))"
    )
    return syndrome, decoded


_SYN_SQL, _DEC_SQL = _ham_sql("nib", "flip")


@query(
    "fn_hamming_code",
    oracle=f"""
    WITH ids AS (SELECT DISTINCT user_id AS uid FROM events),
    nibs AS (
        SELECT uid, uid % 16 AS nib,
               1 + CAST('0x' || SUBSTR(MD5('hb:' || uid), 1, 8) AS BIGINT)
                   % 7 AS flip
        FROM ids
    ),
    dec AS (
        SELECT uid, nib, flip,
               {_SYN_SQL} AS syndrome,
               {_DEC_SQL} AS decoded
        FROM nibs
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_codewords,
           CAST(SUM(CASE WHEN decoded = nib THEN 1 ELSE 0 END) AS BIGINT)
               AS n_corrected,
           CAST(SUM(CASE WHEN syndrome = flip THEN 1 ELSE 0 END)
                AS BIGINT) AS n_syndrome_located,
           COUNT(*) = SUM(CASE WHEN decoded = nib THEN 1 ELSE 0 END)
               AS all_recovered
    FROM dec
    """,
)
def fn_hamming_code(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming(7,4) single-error correction, audited end-to-end
    (Hamming, Bell System Technical Journal 1950, public): each user
    id's low nibble is encoded into the 7-bit codeword [p1 p2 d1 p3 d2
    d3 d4], ONE bit (chosen by an md5 coin over positions 1-7) is
    flipped, and the syndrome — which in Hamming's positional
    construction IS the corrupted bit's index — locates and repairs
    it. Every codeword must decode back to its nibble (asserted
    in-band and in the test): the minimum-distance-3 guarantee,
    exercised over the whole dataset rather than proved on paper. The
    ECC sibling of the Luhn/Damm/Verhoeff checksum family already in
    fn_* (those DETECT; Hamming CORRECTS).

    Determinism: pure integer bit algebra emitted from ONE shared SQL
    string for both engines; the flip position is an exact md5 parity.

    Scale shape: per-row arithmetic + one aggregate."""
    e = table(spark, sf_dir, "events")
    ids = e.select(F.col("user_id").alias("uid")).distinct()
    nibs = ids.select(
        "uid",
        (F.col("uid") % 16).alias("nib"),
        (
            1
            + F.expr(
                "conv(substring(md5(concat('hb:', cast(uid as string))),"
                " 1, 8), 16, 10)"
            ).cast("long")
            % 7
        ).alias("flip"),
    )
    syn_spark = _SYN_SQL.replace("//", "div")
    dec_spark = _DEC_SQL.replace("//", "div")
    dec = nibs.select(
        "nib",
        "flip",
        F.expr(syn_spark).alias("syndrome"),
        F.expr(dec_spark).alias("decoded"),
    )
    return dec.agg(
        F.count("*").cast("long").alias("n_codewords"),
        F.sum(F.when(F.col("decoded") == F.col("nib"), 1).otherwise(0))
        .cast("long")
        .alias("n_corrected"),
        F.sum(F.when(F.col("syndrome") == F.col("flip"), 1).otherwise(0))
        .cast("long")
        .alias("n_syndrome_located"),
        (
            F.count("*")
            == F.sum(
                F.when(F.col("decoded") == F.col("nib"), 1).otherwise(0)
            )
        ).alias("all_recovered"),
    )


@query(
    "agg_medcouple",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, AVG(value) AS y
        FROM events GROUP BY 1
    ),
    med AS (
        SELECT PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY y) AS m
        FROM daily
    ),
    lo AS (SELECT y FROM daily CROSS JOIN med WHERE y <= med.m),
    hi AS (SELECT y FROM daily CROSS JOIN med WHERE y >= med.m),
    kern AS (
        SELECT ((h.y - m.m) - (m.m - l.y)) / (h.y - l.y) AS k
        FROM lo l CROSS JOIN hi h CROSS JOIN med m
        WHERE h.y > l.y
    ),
    ranked AS (
        SELECT k, ROW_NUMBER() OVER (ORDER BY k, 1) AS i,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM kern
    )
    SELECT (SELECT n FROM ranked LIMIT 1) AS n_pairs,
           ROUND((SELECT m FROM med), 6) AS median,
           ROUND((SELECT k FROM ranked
                  WHERE i = CAST(CEIL(n * 0.5) AS BIGINT) LIMIT 1), 6)
               AS medcouple
    """,
)
def agg_medcouple(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The medcouple robust skewness (Brys, Hubert & Struyf, JCGS 2004,
    public): the median of the kernel h(x_i, x_j) = ((x_j - m) - (m -
    x_i))/(x_j - x_i) over pairs straddling the median m — a 25%-
    breakdown skewness measure, and the number that turns a boxplot
    into the ADJUSTED boxplot (whisker fences scale by exp(+/-3.5*MC)),
    fixing the classic boxplot's habit of flagging half a skewed
    distribution as outliers. Ties with the median (zero-denominator
    pairs) are excluded — the continuous-data convention, stated; the
    fixture's daily means carry no exact ties.

    Exactness device: the median is an exact order statistic; kernel
    values are identical rational chains; the median-of-kernels is an
    exact order statistic over the bounded pair frame.

    Scale shape: the fact scan folds to ~30 daily rows; the straddling
    pair frame is O(n^2/4) on aggregates (the agg_hoeffding_d
    discipline)."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.avg("value").alias("y"))
    )
    med = daily.agg(
        F.expr(
            "element_at(array_sort(collect_list(y)),"
            " cast(ceil(count(*) * 0.5) as int))"
        ).alias("m")
    )
    lo = daily.crossJoin(F.broadcast(med)).where(
        F.col("y") <= F.col("m")
    ).select(F.col("y").alias("yl"))
    hi = daily.crossJoin(F.broadcast(med)).where(
        F.col("y") >= F.col("m")
    ).select(F.col("y").alias("yh"))
    kern = (
        lo.crossJoin(hi)
        .crossJoin(F.broadcast(med))
        .where(F.col("yh") > F.col("yl"))
        .select(
            (
                (
                    (F.col("yh") - F.col("m")) - (F.col("m") - F.col("yl"))
                )
                / (F.col("yh") - F.col("yl"))
            ).alias("k")
        )
    )
    stats = kern.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.expr(
            "element_at(array_sort(collect_list(k)),"
            " cast(ceil(count(*) * 0.5) as int))"
        ).alias("mc"),
    )
    return stats.crossJoin(F.broadcast(med)).select(
        "n_pairs",
        F.round("m", 6).alias("median"),
        F.round("mc", 6).alias("medcouple"),
    )
