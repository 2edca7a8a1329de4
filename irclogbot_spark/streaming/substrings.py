"""Continuous exact-substring deduplication: arriving document
batches excised against the accumulated gram index (the streaming
twin of operators/substrings.py, on the corpus.py recipe).

Layout:

    <work_dir>/clean/batch_id=N/       excised batch output
    <work_dir>/gram_index/batch_id=N/  the batch's NEW distinct
                                       gram hashes (h longs)

Per batch: only the batch's text is hashed (history grams live as
8-byte longs in the index — nothing re-derives them); the history
probe is a hash-equality join; both writes OVERWRITE the batch's own
partition, so a crash replay under the same batch_id converges
(effectively-once, the engine-wide recipe). The index append stores
only hashes NOT already in history: the index stays the distinct
gram set of everything ingested, so its growth is the corpus's span
vocabulary (Heaps-sublinear), not its token count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from irclogbot_spark.artifacts import fold_batches, overwrite, read_parts
from irclogbot_spark.operators.substrings import (
    gram_occurrences,
    substring_dedup_incremental,
)


def substring_ingest_batch(
    batch: DataFrame,
    batch_id: int,
    work_dir: str,
    length: int = 50,
    hash_fn=None,
) -> None:
    """foreachBatch body for (doc_id, text) rows: excise against the
    index (self-excluding: a replay of batch N never probes N's own
    half-written partition), write the clean batch, append the NEW
    hashes."""
    spark = batch.sparkSession
    template = spark.createDataFrame([], "h long")
    hist = read_parts(spark, f"{work_dir}/gram_index", template).filter(
        F.col("batch_id") != F.lit(batch_id)
    ).select("h")
    # the occurrence frame feeds BOTH the excision and the index
    # append — materialize once so the batch is hashed once
    occ = gram_occurrences(batch, length, hash_fn=hash_fn).localCheckpoint(
        eager=True
    )
    clean = substring_dedup_incremental(
        batch, hist, length=length, hash_fn=hash_fn, occ=occ
    )
    overwrite(clean, f"{work_dir}/clean/batch_id={batch_id}")
    fresh = occ.select("h").distinct().join(hist, "h", "left_anti")
    overwrite(fresh, f"{work_dir}/gram_index/batch_id={batch_id}")


def compact(spark, work_dir: str, upto_batch_id: int) -> None:
    """Fold the gram index's per-batch partitions (ids
    0..upto_batch_id plus any previous generation) into ONE distinct
    generation partition ``batch_id=-(upto_batch_id+1)`` — the
    corpus.py recipe: negative generation ids can never collide with
    stream batch ids, so ingest continues unchanged. Crash safety is
    the artifacts.fold commit rule: the generation commits before any
    source is deleted, a crash during the deletes leaves duplicate
    hashes that the membership probes (left-semi for history hits,
    left-anti for the append) ignore, and re-running the same compact
    only finishes the deletes. ``clean/`` keeps its per-batch
    partitions: it IS the per-batch output record (the audit-table
    rule)."""
    fold_batches(spark, f"{work_dir}/gram_index", upto_batch_id, distinct=True)
