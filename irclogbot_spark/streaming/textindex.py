"""Continuous TEXT-index maintenance: the at-rest positional
postings (operators/textindex.py — the one artifact serving BM25,
match_phrase, span_near, fuzzy, more_like_this, prefix_suggest)
kept fresh from a document stream, on the shared PostingStore
(irclogbot_spark/artifacts.py — layout, replay idempotence and the
generation commit rule, identical to the trigram and ANN indexes):

    <index_dir>/index/batch_id=N/          live per-batch appends
    <index_dir>/buckets/gen=G/term_bkt=K/  compacted generations
    <index_dir>/vocab/gen=G/               term dictionary of gen G
    <index_dir>/doclens/batch_id=N/        per-batch doclens rows

Per-batch work is MAP-ONLY (the in-row positional posting explode +
a crc32 term bucket — no shuffle, no state). Every posting row
carries its document's length ``dl`` (the one-shot layout), taken
in-row before the explode. Doclens rows (one per doc) ride their own
batch partitions under the same overwrite-own-partition idempotence;
a BM25 probe of the streamed index collects its statistics from the
frames ``load_text`` returns (one aggregate over doclens for n_docs
and the integer dl sum, df from the probed postings —
functions/text.py frame_stats), so the stream needs no running
aggregate state. The meta sidecar records ``format``
(operators/textindex.py INDEX_FORMAT); an index written before
posting rows carried dl raises on ingest and on load.
``load_text`` plugs straight into probe_postings / postings_tf +
bm25_rank_indexed and serves exactly what the one-shot
write_text_index artifact serves (pinned by test across compaction
and crash replay). The one-shot artifact's ``vocab`` term
dictionary (round 10) is rebuilt here at compaction time only — a
streamed index derives the dictionary of its uncovered batches on
the fly when a fuzzy/MLT probe needs one (ES builds its term dict
per segment the same way)."""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from irclogbot_spark import artifacts
from irclogbot_spark.functions.text import WORD_RE, build_positional_index
from irclogbot_spark.operators.textindex import (
    INDEX_FORMAT,
    META_NAME,
    check_format,
    term_bucket_col,
)

_STORE = artifacts.PostingStore(
    "doc_id long, term string, positions array<int>, dl int, term_bkt int",
    "term_bkt",
    meta_name=META_NAME,
)
_DOCLEN_SCHEMA = "doc_id long, dl int"


def text_ingest_batch(
    batch: DataFrame,
    batch_id: int,
    index_dir: str,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """foreachBatch body: positional postings + doclens for the
    arriving docs (both map-only), each overwriting its own batch
    partition — idempotent on replay; a different n_buckets against
    an existing index raises (frozen bucket function). ``id_col`` /
    ``text_col`` pick the indexed field — a FIELD is its own index
    (the multi_match per-field convention, round 12). The artifact
    stores (doc_id, ...) on disk so the fixed posting schema stays
    field-agnostic, and the meta sidecar records the caller's
    ``id_col`` so :func:`load_text` renames it BACK on read (round
    13, per ADVICE r12: the one-shot write_text_index keeps the
    caller's id_col, so readers of both artifact kinds now pass the
    same id_col regardless of how the index was built; id_col is
    frozen per index like n_buckets). An existing index without the
    current ``format`` raises (its posting rows carry no dl)."""
    try:
        check_format(_STORE.meta(batch.sparkSession, index_dir), index_dir)
    except FileNotFoundError:
        pass  # a new index: the ingest below writes its meta
    postings = build_positional_index(batch, id_col, text_col)
    if id_col != "doc_id":
        postings = postings.withColumnRenamed(id_col, "doc_id")
    postings = postings.withColumn(
        "term_bkt", term_bucket_col("term", n_buckets).cast("int")
    )
    meta = {"n_buckets": n_buckets, "id_col": id_col, "format": INDEX_FORMAT}
    _STORE.ingest(postings, batch_id, index_dir, meta)
    # NULL text -> dl=0, the write_text_index convention (round 13)
    toks = F.regexp_extract_all(
        F.coalesce(F.col(text_col), F.lit("")), F.lit(WORD_RE), F.lit(0)
    )
    artifacts.overwrite(
        batch.select(F.col(id_col).alias("doc_id"), F.size(toks).alias("dl")),
        f"{index_dir}/doclens/batch_id={batch_id}",
    )


def compact(spark: SparkSession, index_dir: str, upto_batch_id: int) -> None:
    """Fold batch posting partitions into ``buckets/gen = upto + 1``
    laid out partitionBy("term_bkt") — literal probe-term bucket
    filters land as PartitionFilters on the generation dirs.
    Doclens partitions stay as written (a narrow two-column table;
    nothing probes it by term).

    Round 10: compaction also builds the TERM DICTIONARY for the new
    generation (``vocab/gen=G`` — the ES shape: the term dict is a
    segment-merge artifact), under the same commit rule: ``load_vocab``
    serves a committed ``vocab/gen=G`` plus an on-the-fly aggregate of
    the batches the generation doesn't cover, and derives the
    dictionary from the generation postings after a crash before the
    vocab commit. With nothing to fold there is no generation and no
    vocab to build."""
    if not _STORE.compact(spark, index_dir, upto_batch_id):
        return
    gen = upto_batch_id + 1
    postings = _STORE.read(spark, [_STORE.gen_path(index_dir, gen)])
    artifacts.overwrite(_vocab_of(postings), f"{index_dir}/vocab/gen={gen}")
    artifacts.delete(
        spark,
        [
            f"{index_dir}/vocab/gen={g}"
            for g in artifacts.part_ids(spark, f"{index_dir}/vocab", "gen")
            if g < gen
        ],
    )


_VOCAB_SCHEMA = "term string, df long, freq long"


def _vocab_of(postings: DataFrame) -> DataFrame:
    return postings.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum(F.size("positions")).cast("long").alias("freq"),
    )


def load_vocab(spark: SparkSession, index_dir: str) -> DataFrame:
    """(term, df, freq) dictionary over everything ingested so far:
    the served generation's committed vocab (or, after a crash
    before the vocab commit, a derivation from the generation
    postings) merged with an on-the-fly aggregate of the uncovered
    batch dirs. Disjoint sources (a batch is either covered by the
    generation or served on its own), so the merge is a per-term
    sum."""
    gen, paths = _STORE.live(spark, index_dir)
    vocab = f"{index_dir}/vocab/gen={gen}"
    frames = []
    if gen and artifacts.committed(spark, vocab):
        frames.append(spark.read.schema(_VOCAB_SCHEMA).parquet(vocab))
        paths = paths[1:]
    frames.append(_vocab_of(_STORE.read(spark, paths)))
    return reduce(DataFrame.unionByName, frames).groupBy("term").agg(
        F.sum("df").cast("long").alias("df"),
        F.sum("freq").cast("long").alias("freq"),
    )


def load_text(
    spark: SparkSession, index_dir: str
) -> tuple[DataFrame, DataFrame, int]:
    """(positional postings, doclens, n_buckets) over everything
    ingested so far — the same triple operators/textindex.py's
    read_text_index returns for the one-shot artifact, INCLUDING the
    id-column name: the on-disk doc_id renames back to the
    meta-recorded ingest id_col (round 13, per ADVICE r12), so a
    reader passes the same id_col whether the logical index was
    built one-shot or streamed. The postings carry dl; an index
    without the current ``format`` raises."""
    meta = _STORE.meta(spark, index_dir)
    check_format(meta, index_dir)
    postings = _STORE.load(spark, index_dir)
    lens = spark.read.schema(_DOCLEN_SCHEMA).parquet(f"{index_dir}/doclens")
    id_col = meta["id_col"]
    if id_col != "doc_id":
        postings = postings.withColumnRenamed("doc_id", id_col)
        lens = lens.withColumnRenamed("doc_id", id_col)
    return postings, lens, int(meta["n_buckets"])
