"""operators/percolate.py behavior: reverse-search matching with
per-query minimum_should_match, plus the streaming alerting twin."""

from __future__ import annotations

from functools import partial

from pyspark.sql import functions as F

from irclogbot_spark.artifacts import drain
from irclogbot_spark.operators.percolate import (
    percolate,
    percolate_batch,
    query_table,
)

DOCS = [
    (1, "spark merge fast"),  # both q1 terms
    (2, "spark only here"),  # 1 of q1's 2 -> no q1
    (3, "table scan scan scan"),  # 2 distinct of q2's 3 (dup tokens once)
    (4, "slow day"),  # 1 of q2's 3 -> no q2
    (5, "data everywhere"),  # q4 OR fires on one term
    (6, ""),
]

QUERIES = [
    (1, ["spark", "merge"], 2),  # pure AND
    (2, ["table", "scan", "slow"], 2),  # 2-of-3 terms_set
    (3, ["zzzqqq"], 1),  # never fires
    (4, ["data", "vector"], 1),  # OR
]


def test_percolate_min_match_semantics(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    qt = query_table(spark, QUERIES)
    got = {(r.query_id, r.doc_id, r.n_matched) for r in percolate(docs, qt).collect()}
    assert got == {(1, 1, 2), (2, 3, 2), (4, 5, 1)}


def test_query_table_dedups_and_clamps(spark):
    # duplicate terms collapse; min_match clamps into [1, n_distinct]
    qt = query_table(spark, [(9, ["a", "a", "b"], 5), (10, ["c"], 0)])
    rows = {(r.query_id, r.term, r.min_match) for r in qt.collect()}
    assert rows == {(9, "a", 2), (9, "b", 2), (10, "c", 1)}


def test_percolate_plan_broadcasts_queries(spark):
    """The saved-search table must broadcast (never shuffle the
    token stream against it) and the only hash exchange is the
    (doc, query) match count."""
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    qt = query_table(spark, QUERIES)
    plan = percolate(docs, qt)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    hashex = [l for l in plan.splitlines() if "hashpartitioning" in l]
    for l in hashex:
        assert "doc_id" in l and "query_id" in l, l


def test_percolate_stream_two_batches_and_replay(spark, tmp_path):
    """The streaming twin: alerts per micro-batch equal the batch
    percolate of that batch's docs; re-delivering batch 0's files
    after a checkpoint wipe overwrites its partition instead of
    duplicating alerts."""
    import json
    import os

    src = tmp_path / "src"
    out = str(tmp_path / "alerts")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    def write_batch(name: str, rows: list[tuple[int, str]]) -> None:
        with open(src / name, "w") as f:
            for doc_id, text in rows:
                f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")

    qt = query_table(spark, QUERIES)

    write_batch("b0.json", [(1, "spark merge fast"), (2, "spark only")])
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    drain(stream, ckpt, partial(percolate_batch, qtable=qt, out_dir=out)).awaitTermination()

    got0 = {
        (r.query_id, r.doc_id)
        for r in spark.read.parquet(out).collect()
    }
    assert got0 == {(1, 1)}

    write_batch("b1.json", [(3, "table scan here"), (5, "data vector")])
    drain(stream, ckpt, partial(percolate_batch, qtable=qt, out_dir=out)).awaitTermination()
    got1 = {
        (r.query_id, r.doc_id, r.n_matched)
        for r in spark.read.parquet(out).collect()
    }
    assert got1 == {(1, 1, 2), (2, 3, 2), (4, 5, 2)}

    # crash-replay: wipe the checkpoint, re-run from scratch — the
    # batch_id partitions are overwritten, never appended twice
    import shutil

    shutil.rmtree(ckpt)
    drain(stream, ckpt, partial(percolate_batch, qtable=qt, out_dir=out)).awaitTermination()
    again = [
        (r.query_id, r.doc_id, r.n_matched)
        for r in spark.read.parquet(out).collect()
    ]
    assert len(again) == len(set(again)) == 3
