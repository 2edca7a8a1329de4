"""Driver-side build cost: py4j budgets for warm query builds and
literal (in-JVM) dimension frames.

A registry query is built on the driver through py4j, one message per
JVM call, before Spark plans anything; at small data that cost is the
query's latency. The budgets below pin it for the hot search set, so a
fixed-cost regression fails here and not in a noisy wall clock."""

from __future__ import annotations

import contextlib
import re

import pytest
from py4j.java_gateway import GatewayClient
from py4j.protocol import MEMORY_COMMAND_NAME, MEMORY_DEL_SUBCOMMAND_NAME

from irclogbot_spark.queries import queries

SF = "/root/testdata/sf0.001"

#: py4j's "release this JVM object" message: Python's garbage collector
#: decides when these go out, so they are not counted
_DETACH = MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME

#: warm-build py4j messages per query: the measured count plus 25%
#: (at sf0.001, local[4]). History: docs_bm25_atrest 333, 368 since it
#: reads the stored index statistics; docs_multi_match_atrest 927, 815
#: since the stored statistics; log_top_nicks 52 and
#: log_msgs_per_channel_day 58 on the stored log; docs_backoff_surprisal
#: 4502; log_recency_search 270 and docs_bool_search_atrest 584 before
#: the BM25 assembly moved into functions/text.py, 264 and 490 after it.
#: Before -> after the query_mix builders moved to SQL text
#: (functions/lits.py): docs_bm25_atrest 315 -> 96,
#: docs_multi_match_atrest 709 -> 160, log_recency_search 264 -> 89,
#: docs_bool_search_atrest 490 -> 115, docs_phrase_search_atrest
#: 227 -> 50, docs_fuzzy_term_search_atrest 193 -> 87,
#: log_match_phrase_prefix_atrest 334 -> 87, log_significant_terms
#: 199 -> 81, log_term_time_filter 93 -> 29, log_point_lookup 76 -> 61
BUDGETS = {
    "docs_bm25_atrest": 120,
    "docs_multi_match_atrest": 200,
    "log_top_nicks": 65,
    "log_msgs_per_channel_day": 72,
    "docs_backoff_surprisal": 5627,
    "log_recency_search": 111,
    "docs_bool_search_atrest": 143,
    "docs_phrase_search_atrest": 62,
    "docs_fuzzy_term_search_atrest": 108,
    "log_match_phrase_prefix_atrest": 108,
    "log_significant_terms": 101,
    "log_term_time_filter": 36,
    "log_point_lookup": 76,
}

#: Spark jobs of one warm build+collect (at sf0.001, local[4]); the
#: layout before the stored BM25 statistics ran docs_bm25_atrest in 7,
#: docs_bool_search_atrest in 8 and docs_multi_match_atrest in 14 (the
#: doclens aggregate, the df aggregate and broadcast and the doclens
#: join per field or clause), and log_significant_terms in 9 (three
#: self-joins and a localCheckpoint); docs_bm25_search_after_atrest ran
#: 5 while it read the statistics once per page (4 with both pages cut
#: from one scored frame)
JOB_BUDGETS = {
    "docs_bm25_atrest": 3,
    "docs_bm25_search_after_atrest": 4,
    "docs_bool_search_atrest": 3,
    "docs_multi_match_atrest": 5,
    "log_significant_terms": 3,
}

#: the at-rest BM25 queries, which read their statistics from the index
ATREST_BM25_QUERIES = [
    "docs_bm25_atrest",
    "docs_bool_search_atrest",
    "docs_multi_match_atrest",
]

#: searches over the irclog that must read the stored log, not run
#: the parse chain
STORED_LOG_QUERIES = ["log_top_nicks", "log_msgs_per_channel_day"]

#: the queries whose operators build small dimension frames from
#: Python rows (textindex fuzzy/MLT, editdist, trgm, wildcard,
#: percolate, BPE merges)
LITERAL_FRAME_QUERIES = [
    "docs_fuzzy_term_search_atrest",
    "docs_more_like_this_atrest",
    "docs_fuzzy_term_search",
    "docs_trgm_search",
    "docs_wildcard_search",
    "docs_percolate",
    "docs_bpe_merges",
]


@contextlib.contextmanager
def _py4j_calls(monkeypatch):
    """Yield a one-element list holding the py4j messages sent inside."""
    orig, out = GatewayClient.send_command, [0]

    def send_command(client, command, *args, **kwargs):
        if not command.startswith(_DETACH):
            out[0] += 1
        return orig(client, command, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(GatewayClient, "send_command", send_command)
        yield out


def test_session_turns_off_dataframe_debugging(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_warm_build_within_py4j_budget(spark, monkeypatch, name):
    build = queries()[name]
    build(spark, SF)  # cold: materializes at-rest indexes on first use
    with _py4j_calls(monkeypatch) as calls:
        build(spark, SF)
    assert calls[0] <= BUDGETS[name], f"{name}: {calls[0]} py4j calls"


@pytest.mark.parametrize("name", sorted(JOB_BUDGETS))
def test_warm_build_and_collect_within_job_budget(spark, name):
    build = queries()[name]
    build(spark, SF).collect()  # cold: materializes at-rest indexes
    sc, group = spark.sparkContext, f"job-budget-{name}"
    sc.setJobGroup(group, group)
    try:
        build(spark, SF).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= JOB_BUDGETS[name], f"{name}: {len(jobs)} jobs"


@pytest.mark.parametrize("name", ATREST_BM25_QUERIES)
def test_atrest_bm25_reads_no_doclens(spark, name):
    """The statistics come from the index's meta and vocab sidecars and
    dl from the posting rows: the plan reads no doclens file, and its
    one aggregate is the doc-keyed pivot (no stats or df aggregate)."""
    df = queries()[name](spark, SF)
    files = df.inputFiles()
    assert files and not any("/doclens/" in f for f in files), files
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert len(re.findall(r"\bAggregate \[", plan)) == 1, plan


def test_term_time_filter_scans_the_log_once(spark):
    """Both variants come from one scan of the stored log, not from two
    union arms that each read it."""
    df = queries()["log_term_time_filter"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"FileScan", plan)) == 1, plan


@pytest.mark.parametrize("name", STORED_LOG_QUERIES)
def test_search_reads_the_stored_log(spark, name):
    """No parse chain in the optimized plan — no PRIVMSG regex (the
    RLIKE match gate, regexp_extract) and no sha2 id — and every input
    file is the stored log's, none the events table's."""
    df = queries()[name](spark, SF)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    for marker in ("regexp_extract", "sha2", "RLIKE"):
        assert marker not in plan, f"{name}: {marker} in\n{plan}"
    files = df.inputFiles()
    assert files and all("/sparklog_irclog_" in f for f in files), files


@pytest.mark.parametrize("name", LITERAL_FRAME_QUERIES)
def test_dimension_frames_are_plan_literals(spark, name):
    """Python-row dims are LocalRelations, not LogicalRDDs: a LogicalRDD
    re-runs a PythonRDD stage on Python workers every execution."""
    plan = queries()[name](spark, SF)._jdf.queryExecution().analyzed().toString()
    assert "LogicalRDD" not in plan, plan


def test_literal_frame_matches_create_dataframe(spark):
    """Same rows and column types as createDataFrame, quoting included;
    no rows gives the typed empty relation."""
    from irclogbot_spark.functions.lits import literal_frame

    rows = [("it's", 2**40, 0.1), ("back\\slash `q`", None, -2.5), ("ünï\ncode", 7, None)]
    schema = "term string, `n` long, w double"
    got = literal_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert [(f.name, f.dataType) for f in got.schema] == [
        (f.name, f.dataType) for f in want.schema
    ]
    assert sorted(got.collect()) == sorted(want.collect())

    empty = literal_frame(spark, [], "k string, m map<string,int>, d decimal(10,2)")
    assert [f.dataType.simpleString() for f in empty.schema] == [
        "string", "map<string,int>", "decimal(10,2)"
    ]
    assert empty.count() == 0
