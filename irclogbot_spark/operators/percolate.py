"""Percolator — reverse search (ES percolate query): queries are the
stored data, documents are the probes. The alerting primitive: a
saved-search table ("tell me when a doc matching THESE terms
arrives") is matched against every incoming document in one pass.

Covers ES's `terms_set` semantics too: each registered query carries
its own ``minimum_should_match`` — a doc matches when at least that
many of the query's DISTINCT terms appear in its token stream
(min_match == len(terms) is the pure AND percolator; 1 is OR).

Scale shape (the registered-query table is dimension-sized — saved
searches, not corpus data):
* per-doc DISTINCT tokens come from the map-only corpus scan;
* the (term -> query_id) mapping BROADCASTS; the token join keeps
  only tokens some query mentions (selective — the corpus never
  shuffles on anything wider than matched (doc, query) pairs);
* ONE (doc_id, query_id) partial-agg shuffle counts matched terms
  (tokens are pre-distinct and query terms unique, so COUNT(*) IS
  the distinct-match count);
* the per-query min_match threshold rides the broadcast row — no
  second join.

Streaming twin: :func:`percolate_batch` runs the same transform per
micro-batch as a foreachBatch body — each batch's alerts append to the
sink; the transform is stateless (saved queries are the state and
they live in the broadcast table), so replay idempotence reduces to
the sink's (the engine-wide batch_id partition-overwrite recipe).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from irclogbot_spark.functions.lits import literal_frame
from irclogbot_spark.functions.text import WORD_RE


def query_table(
    spark, queries: list[tuple[int, list[str], int]]
) -> DataFrame:
    """Build the registered-query term table from (query_id, terms,
    min_match) triples. Terms are de-duplicated per query; min_match
    is clamped into [1, n_distinct_terms] so a query can always fire."""
    rows = []
    for qid, terms, min_match in queries:
        distinct = sorted(set(terms))
        mm = max(1, min(int(min_match), len(distinct)))
        for t in distinct:
            rows.append((int(qid), t, mm))
    return literal_frame(
        spark, rows, "query_id long, term string, min_match long"
    )


def percolate(
    docs: DataFrame,
    qtable: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Match every document against every registered query in one
    pass. Returns (query_id, doc_id, n_matched) for docs meeting the
    query's min_match. ``qtable`` is (query_id, term, min_match) —
    :func:`query_table`'s shape or a persisted saved-search table."""
    toks = docs.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(
                F.regexp_extract_all(F.col(text_col), F.lit(WORD_RE), F.lit(0))
            )
        ).alias("term"),
    )
    matched = toks.join(F.broadcast(qtable), "term").groupBy(
        id_col, "query_id"
    ).agg(
        F.count(F.lit(1)).alias("n_matched"),
        # min_match is constant per query; MIN re-reads it without a
        # second join against the query table
        F.min("min_match").alias("_mm"),
    )
    return matched.filter(F.col("n_matched") >= F.col("_mm")).select(
        "query_id", F.col(id_col), F.col("n_matched").cast("long").alias("n_matched")
    )


def percolate_batch(
    batch: DataFrame,
    batch_id: int,
    qtable: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """foreachBatch body of the alerting loop: the batch's docs are
    matched against the saved-search table and the alerts land in
    the ``batch_id=N`` partition of a parquet sink (replay of an
    uncommitted batch OVERWRITES its own partition — the engine-wide
    idempotence recipe; see streaming/corpus.py). Run it with
    ``artifacts.drain(stream, checkpoint_dir, partial(percolate_batch,
    qtable=..., out_dir=...))``."""
    alerts = percolate(batch, qtable, id_col, text_col).withColumn(
        "batch_id", F.lit(int(batch_id))
    )
    alerts.write.mode("overwrite").partitionBy("batch_id").option(
        "partitionOverwriteMode", "dynamic"
    ).parquet(out_dir)
