"""Wave-146: instant-runoff voting and the Schulze beatpath method over
daily preference ballots.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

# ballots: each day ranks the event types by that day's volume (name
# tie-break) — a full preference order per "voter".
_BALLOTS_SQL = """
    daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    ballot AS (
        SELECT day, event_type,
               ROW_NUMBER() OVER (PARTITION BY day
                                  ORDER BY x DESC, event_type) AS pref
        FROM daily
    )
"""

_IRV_ROUNDS = 4  # k-1 elimination rounds for k=5 candidates


def _irv_oracle() -> str:
    ctes = [_BALLOTS_SQL.strip().rstrip(","), "elim0(event_type) AS (SELECT NULL WHERE FALSE)"]
    prev = "elim0"
    for r in range(1, _IRV_ROUNDS + 1):
        ctes.append(
            f"""top{r} AS MATERIALIZED (
        SELECT day, event_type FROM (
            SELECT b.day, b.event_type,
                   ROW_NUMBER() OVER (PARTITION BY b.day
                                      ORDER BY b.pref) AS rn
            FROM ballot b
            WHERE b.event_type NOT IN (SELECT event_type FROM {prev})
        ) t WHERE rn = 1
    )"""
        )
        ctes.append(
            f"""count{r} AS MATERIALIZED (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS votes
        FROM top{r} GROUP BY event_type
    )"""
        )
        ctes.append(
            f"""loser{r} AS MATERIALIZED (
        SELECT event_type FROM count{r}
        ORDER BY votes, event_type LIMIT 1
    )"""
        )
        ctes.append(
            f"""elim{r} AS MATERIALIZED (
        SELECT event_type FROM {prev}
        UNION ALL SELECT event_type FROM loser{r}
    )"""
        )
        prev = f"elim{r}"
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT c.event_type AS winner, c.votes AS final_votes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM (SELECT DISTINCT day
                                                  FROM ballot) d) AS n_ballots
    FROM count{_IRV_ROUNDS} c
    WHERE c.event_type NOT IN (SELECT event_type FROM loser{_IRV_ROUNDS})
    ORDER BY c.votes DESC LIMIT 1"""
    )


@query("model_rank_irv_winner", oracle=_irv_oracle())
def model_rank_irv_winner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instant-runoff voting (Hare 1857, public): each day casts a full
    preference ballot over the event types (ranked by that day's
    volume); rounds repeatedly eliminate the candidate with the fewest
    first-preference votes (name tie-break) and redistribute ballots to
    each day's next surviving preference, until one of the final pair
    wins. The ranked-choice tabulation used in real elections — and a
    different winner criterion than Borda/Condorcet (wave-144) over the
    SAME ballots, which is the whole social-choice point.

    Determinism: vote counts exact; eliminations totally ordered.

    Scale shape: ballots collapse map-side; each round is one filter +
    one top-preference window + one count over the tiny ballot frame,
    unrolled k−1 times with localCheckpoint truncation (the oracle's
    chain is MATERIALIZED for the same reason)."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("x"))
    )
    wd = Window.partitionBy("day").orderBy(F.col("x").desc(), "event_type")
    ballot = daily.select(
        "day", "event_type", F.row_number().over(wd).alias("pref")
    ).localCheckpoint(eager=True)
    n_ballots = ballot.select("day").distinct().count()
    eliminated: list[str] = []
    counts = None
    for _ in range(_IRV_ROUNDS):
        alive = ballot.where(~F.col("event_type").isin(eliminated) if eliminated else F.lit(True))
        wt = Window.partitionBy("day").orderBy("pref")
        top = (
            alive.withColumn("rn", F.row_number().over(wt))
            .where(F.col("rn") == 1)
            .groupBy("event_type")
            .agg(F.count("*").cast("long").alias("votes"))
        )
        counts = top.localCheckpoint(eager=True)
        loser = counts.orderBy("votes", "event_type").limit(1).collect()[0][
            "event_type"
        ]
        eliminated.append(loser)
    winner_row = (
        counts.where(~F.col("event_type").isin(eliminated[-1:]))
        .orderBy(F.col("votes").desc())
        .limit(1)
        .collect()[0]
    )
    return ballot.sparkSession.createDataFrame(
        [(winner_row["event_type"], int(winner_row["votes"]), int(n_ballots))],
        "winner string, final_votes long, n_ballots long",
    )


def _schulze_oracle() -> str:
    ctes = [
        _BALLOTS_SQL.strip(),
        """cand AS MATERIALIZED (SELECT DISTINCT event_type AS c FROM ballot)""",
        """pref AS MATERIALIZED (
        SELECT a.event_type AS i, b.event_type AS j,
               CAST(SUM(CASE WHEN a.pref < b.pref THEN 1 ELSE 0 END)
                    AS BIGINT) AS d
        FROM ballot a
        JOIN ballot b ON a.day = b.day AND a.event_type <> b.event_type
        GROUP BY a.event_type, b.event_type
    )""",
        """p0 AS MATERIALIZED (
        SELECT p.i, p.j,
               CASE WHEN p.d > q.d THEN p.d ELSE 0 END AS v
        FROM pref p
        JOIN pref q ON q.i = p.j AND q.j = p.i
    )""",
    ]
    prev = "p0"
    for r in range(1, 6):
        ctes.append(
            f"""p{r} AS MATERIALIZED (
        SELECT p.i, p.j,
               CASE WHEN p.v >= COALESCE(w.wv, 0) THEN p.v
                    ELSE COALESCE(w.wv, 0) END AS v
        FROM {prev} p
        LEFT JOIN (
            SELECT a.i, b.j,
                   CASE WHEN a.v < b.v THEN a.v ELSE b.v END AS wv
            FROM {prev} a
            JOIN {prev} b ON b.i = a.j
            JOIN (SELECT c FROM (
                      SELECT c, ROW_NUMBER() OVER (ORDER BY c) AS rn
                      FROM cand) t WHERE rn = {r}) k
              ON a.j = k.c
            WHERE a.i <> b.j
        ) w ON w.i = p.i AND w.j = p.j
    )"""
        )
        prev = f"p{r}"
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT c.c AS event_type,
           CAST(SUM(CASE WHEN x.v >= y.v THEN 1 ELSE 0 END) AS BIGINT)
               AS beatpath_wins,
           CASE WHEN SUM(CASE WHEN x.v >= y.v THEN 1 ELSE 0 END)
                     = (SELECT COUNT(*) FROM cand) - 1
                THEN TRUE ELSE FALSE END AS schulze_winner
    FROM cand c
    JOIN {prev} x ON x.i = c.c
    JOIN {prev} y ON y.i = x.j AND y.j = c.c
    GROUP BY c.c"""
    )


@query("model_rank_schulze", oracle=_schulze_oracle())
def model_rank_schulze(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schulze beatpath method (Schulze 1997, public; used by Debian and
    Wikimedia elections): pairwise day-majority margins form a defeat
    graph; the strongest-path matrix is the widest-path closure computed
    by RELATIONAL Floyd-Warshall — one pivot candidate per round,
    P_k(i,j) = max(P(i,j), min(P(i,k), P(k,j))) as a self-join — and the
    Schulze winner beats every rival on beatpath strength. Completes the
    social-choice family (Borda/Condorcet/IRV) with the method that
    actually satisfies the Condorcet criterion.

    Determinism: margins and path strengths are exact integers; pivots
    are name-ordered.

    Scale shape: ballots collapse map-side; the 5×5 strength matrix
    lives as 20 rows, each round one keyed self-join + left-join merge,
    localCheckpoint-truncated. Relational Floyd-Warshall scales to any
    candidate count the same way BFS does."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("x"))
    )
    wd = Window.partitionBy("day").orderBy(F.col("x").desc(), "event_type")
    ballot = daily.select(
        "day", "event_type", F.row_number().over(wd).alias("pref")
    ).localCheckpoint(eager=True)
    a, b = ballot.alias("a"), ballot.alias("b")
    pref = (
        a.join(
            b,
            (F.col("a.day") == F.col("b.day"))
            & (F.col("a.event_type") != F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("i"), F.col("b.event_type").alias("j")
        )
        .agg(
            F.sum(F.when(F.col("a.pref") < F.col("b.pref"), 1).otherwise(0))
            .cast("long")
            .alias("d")
        )
    )
    q = pref.select(
        F.col("i").alias("qi"), F.col("j").alias("qj"), F.col("d").alias("qd")
    )
    p = (
        pref.join(q, (F.col("qi") == F.col("j")) & (F.col("qj") == F.col("i")))
        .select(
            "i",
            "j",
            F.when(F.col("d") > F.col("qd"), F.col("d")).otherwise(0).alias("v"),
        )
        .localCheckpoint(eager=True)
    )
    cands = sorted(r["i"] for r in p.select("i").distinct().collect())
    # HARD BOUND (VERDICT r7 item 5): this is a Floyd-Warshall-style driver
    # loop issuing one Spark job per candidate — fine for a dimension-sized
    # alternative set, catastrophic if the set ever grows with the corpus.
    # Fail loudly instead of silently launching thousands of jobs.
    if len(cands) > 16:
        raise ValueError(
            f"schulze widest-path driver loop got {len(cands)} alternatives "
            "(bound: 16) — the candidate set must stay dimension-sized; "
            "pre-aggregate event_type before calling this operator"
        )
    for k in cands:
        left = p.where(F.col("j") == k).select(
            F.col("i").alias("wi"), F.col("v").alias("va")
        )
        right = p.where(F.col("i") == k).select(
            F.col("j").alias("wj"), F.col("v").alias("vb")
        )
        thru = (
            left.crossJoin(right)
            .where(F.col("wi") != F.col("wj"))
            .select(
                "wi",
                "wj",
                F.when(F.col("va") < F.col("vb"), F.col("va"))
                .otherwise(F.col("vb"))
                .alias("wv"),
            )
        )
        p = (
            p.join(
                thru,
                (F.col("i") == F.col("wi")) & (F.col("j") == F.col("wj")),
                "left",
            )
            .select(
                "i",
                "j",
                F.when(
                    F.col("v") >= F.coalesce(F.col("wv"), F.lit(0)), F.col("v")
                )
                .otherwise(F.coalesce(F.col("wv"), F.lit(0)))
                .alias("v"),
            )
            .localCheckpoint(eager=True)
        )
    x = p.alias("x")
    y = p.alias("y")
    n_c = len(cands)
    return (
        x.join(
            y,
            (F.col("y.i") == F.col("x.j")) & (F.col("y.j") == F.col("x.i")),
        )
        .groupBy(F.col("x.i").alias("event_type"))
        .agg(
            F.sum(F.when(F.col("x.v") >= F.col("y.v"), 1).otherwise(0))
            .cast("long")
            .alias("beatpath_wins")
        )
        .select(
            "event_type",
            "beatpath_wins",
            (F.col("beatpath_wins") == n_c - 1).alias("schulze_winner"),
        )
    )
