"""Deterministic raw-IRC-line derivation from the events corpus.

The driver's correctness harness (repo:__spark_entry__.py) checks
queries against a DuckDB oracle over the parquet corpus — which has
no raw IRC lines. This module derives them *deterministically* from
``events`` (FIXTURES.md §B maps events onto the irclog shape), with
noise rows injected by event_id residue so every ingest operator
(F1-F4, P1-P3) is exercised at scale and the whole derivation is
expressible 1:1 in ANSI SQL (irclogbot_spark.oracles.RAW_LINES_CTE
is the oracle twin — keep them in lockstep).

Mapping: user_id -> nick 'u<id>' (and user/host parts),
event_type -> channel '#<type>', props -> remark, ts -> event time.
Noise (by event_id % 97): 13 -> PING keepalive, 27 -> server NOTICE,
41 -> blank line, 55 -> >=17-char nick; event_id % 11 == 0 gets an
'ACTION ' remark prefix to exercise the /me rewrite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from irclogbot_spark.ingest import parse_pipeline
from irclogbot_spark.plans.partitioning import ensure_parallelism
from irclogbot_spark.sources.tables import load_table

NOISE_PING = "PING :irc.example.net"
NOISE_NOTICE = ":irc.example.net NOTICE * :*** Looking up your hostname..."
NOISE_BLANK = "   "
NOISE_LONGNICK = ":verylongnick12345678!~x@h3.example.com PRIVMSG #noise :dropped"


def synthesize_irc_lines(events: DataFrame) -> DataFrame:
    """events -> (ts, value) raw-line frame. Pure column expressions —
    stays in whole-stage codegen at any scale."""
    uid = F.col("user_id").cast("string")
    remark = F.when(
        F.col("event_id") % 11 == 0, F.concat(F.lit("ACTION "), F.col("props"))
    ).otherwise(F.col("props"))
    privmsg = F.concat(
        F.lit(":u"), uid,
        F.lit("!~u"), uid,
        F.lit("@h"), (F.col("user_id") % 7).cast("string"),
        F.lit(".example.com PRIVMSG #"), F.col("event_type"),
        F.lit(" :"), remark,
    )
    m = F.col("event_id") % 97
    value = (
        F.when(m == 13, F.lit(NOISE_PING))
        .when(m == 27, F.lit(NOISE_NOTICE))
        .when(m == 41, F.lit(NOISE_BLANK))
        .when(m == 55, F.lit(NOISE_LONGNICK))
        .otherwise(privmsg)
    )
    return events.select(F.col("ts"), value.alias("value"))


def raw_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the corpus ships as one small parquet file = one scan partition;
    # regex parse + sha is CPU-bound, so spread it (no-op when the
    # input is already well-split)
    return synthesize_irc_lines(ensure_parallelism(load_table(spark, sf_dir, "events")))


def irclog(spark: SparkSession, sf_dir: str, compat_id: bool = False) -> DataFrame:
    """The canonical irclog table at a scale factor: synthesized raw
    lines through the full ingest chain, event time from events.ts.
    Every call builds the whole chain; the query registry's search
    queries read a stored copy of it instead (queries._irclog)."""
    return parse_pipeline(raw_lines(spark, sf_dir), ts_col="ts", compat_id=compat_id)
