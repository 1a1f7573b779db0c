"""UCB1 recrawl policy for the crawl loop: an optional per-host
priority boost that ``CrawlEngine`` applies to each round's links.

The reference crawl gives every request the same priority; this arm
is opt-in (``CrawlConfig.recrawl_policy = "ucb"``). It is the only
policy: on the recrawl fixture web, SES and CUSUM boosts fetched and
discovered as many URLs per round, in the same number of rounds, as
UCB1 and as no policy at all, so they were dropped.

Model: each HOST is a bandit arm. A round in which the host had at
least one fetched page is a PLAY; the reward indicator for that play
is x = 1 iff the round discovered at least one NEW frontier URL on
that host (novelty yield; new URLs are attributed to the host they
point AT, the slim relation the loop already materializes). The
per-host state is two exact integer counts, folded once per round in
round order: plays (UCB1's n) and changes (its reward sum).

Scale shape: the state is one slim row per host (the |hosts|
relation, never the frontier or the log); each round's update is one
full-outer equi-join of state with the round's per-host observation
aggregate, and the boost application is a broadcast join onto the
link batch. Resume-safe: the state table checkpoints through the
round store like every other round artifact.

Reference (public): Auer, Cesa-Bianchi & Fischer, Machine Learning
2002 (UCB1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

POLICY_STATE_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("plays", T.LongType(), False),
        T.StructField("changes", T.LongType(), False),
    ]
)

POLICIES = ("ucb",)


def empty_state(spark) -> DataFrame:
    return spark.createDataFrame([], POLICY_STATE_SCHEMA)


def round_observations(
    round_log: DataFrame, new_rows: DataFrame
) -> DataFrame:
    """(host, x) for every host PLAYED this round: x = 1 iff the
    round discovered >= 1 new frontier URL on that host. Both inputs
    are the round's already-materialized slim artifacts — one
    combinable groupBy each, no recompute of the round chain."""
    played = (
        round_log.filter(F.col("status") == "fetched")
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("_n"))
        .select("host")
    )
    yielded = new_rows.groupBy("host").agg(
        F.count(F.lit(1)).alias("_new")
    )
    return played.join(yielded, "host", "left").select(
        "host",
        F.when(F.coalesce(F.col("_new"), F.lit(0)) > 0, F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("x"),
    )


def update_state(state: DataFrame, obs: DataFrame) -> DataFrame:
    """One round's sequential fold step: full-outer join of the slim
    per-host state with the round's (host, x) observations. Hosts not
    played this round carry state forward unchanged; new hosts start
    at one play."""
    s = state.select(
        "host",
        F.col("plays").alias("_plays"),
        F.col("changes").alias("_changes"),
    )
    j = s.join(obs, "host", "full_outer")
    played_now = F.col("x").isNotNull()
    x = F.coalesce(F.col("x"), F.lit(0)).cast("long")
    return j.select(
        "host",
        F.when(
            played_now, F.coalesce(F.col("_plays"), F.lit(0)) + 1
        ).otherwise(F.col("_plays")).cast("long").alias("plays"),
        F.when(
            played_now, F.coalesce(F.col("_changes"), F.lit(0)) + x
        ).otherwise(F.col("_changes")).cast("long").alias("changes"),
    )


def policy_boosts(state: DataFrame) -> DataFrame:
    """(host, boost) dim from the current state — slim (|hosts|
    rows), broadcast onto the link batch by the caller. The boost is
    the UCB1 score changes/plays + sqrt(2 ln N / plays), N = total
    plays across hosts (exploit fast-yielding hosts, re-explore
    rarely-played ones)."""
    tot = state.agg(F.sum("plays").cast("double").alias("_n"))
    return state.crossJoin(F.broadcast(tot)).select(
        "host",
        (
            F.col("changes").cast("double") / F.col("plays")
            + F.sqrt(
                2.0 * F.log(F.greatest(F.col("_n"), F.lit(2.0)))
                / F.col("plays")
            )
        ).alias("boost"),
    )
