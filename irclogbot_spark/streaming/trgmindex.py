"""Continuous trigram-index maintenance: a document stream posting-
indexed per micro-batch and appended to a batch_id-partitioned
parquet index — operators/trgm.py's write-once/probe-forever layout
made continuous, the substring-search twin of streaming/annindex.py
(ANN cells) and streaming/corpus.py (dedup indexes).

All layout, idempotence, compaction-generation, and loading
semantics live in irclogbot_spark/artifacts.py (the PostingStore
shared with the positional text index and the ANN index); this
module binds them to the trigram posting projection:

    <index_dir>/index/batch_id=N/         live per-batch appends
                                          (tri_bkt is a DATA column)
    <index_dir>/buckets/gen=G/tri_bkt=K/  compacted generations
                                          (tri_bkt is a PARTITION dir)

Per-batch work is MAP-ONLY (the in-row trigram explode + a crc32
bucket column — no shuffle, no state): cost is O(batch) regardless
of accumulated index size; the bucket function is frozen at index
creation (changing n_buckets re-buckets the corpus — a rebuild, not
maintenance). ``load_trgm`` returns a frame that plugs straight into
``operators.trgm.trgm_search(index=..., index_buckets=...)`` and
serves exactly what the one-shot persisted index serves (pinned
bit-equal by test, across compaction and crash replay).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from irclogbot_spark.artifacts import PostingStore
from irclogbot_spark.operators.trgm import trgm_index

DOC_SCHEMA = "doc_id long, text string"
_STORE = PostingStore(
    "doc_id long, tri string, tri_bkt int", "tri_bkt", meta_name="_trgm_meta.json"
)


def _bucketed_postings(batch: DataFrame, n_buckets: int) -> DataFrame:
    return trgm_index(batch).withColumn(
        "tri_bkt",
        F.pmod(F.crc32(F.encode(F.col("tri"), "UTF-8")), F.lit(n_buckets)).cast(
            "int"
        ),
    )


def trgm_ingest_batch(
    batch: DataFrame, batch_id: int, index_dir: str, n_buckets: int = 64
) -> None:
    """foreachBatch body: post the arriving docs (map-only) and
    overwrite this batch's index partition — idempotent on replay;
    a DIFFERENT n_buckets against an existing index raises."""
    postings = _bucketed_postings(batch, n_buckets)
    _STORE.ingest(postings, batch_id, index_dir, {"n_buckets": n_buckets})


#: fold batch partitions into ``buckets/gen = upto + 1`` laid out
#: partitionBy("tri_bkt"); see artifacts.PostingStore.compact
compact = _STORE.compact


def load_trgm(spark: SparkSession, index_dir: str) -> tuple[DataFrame, int]:
    """(postings, n_buckets) over everything ingested so far —
    plugs into ``trgm_search(df, patterns, index=postings,
    index_buckets=n_buckets)``."""
    return _STORE.load(spark, index_dir), int(_STORE.meta(spark, index_dir)["n_buckets"])
