"""Continuous sketch maintenance — the streaming half of
operators/cms.py (count-min) and operators/hll.py (HyperLogLog), by
the corpus.py / annindex.py recipe.

CMS cells are SUMS, so the sketch of a growing corpus is the
cell-wise sum of per-batch sketches (mergeability, pinned in
tests/test_projection_novelty.py). Each micro-batch therefore:

    batch docs -> term counts -> d x w batch cells
               -> OVERWRITE <dir>/cells/batch_id=N/

One write per batch into the batch's OWN partition directory =
effectively-once at any crash point (a foreachBatch replay rewrites
identical rows — the sketch is deterministic). ``load_cms`` merges
all batch partitions with one bounded aggregation: at most
d*w rows per batch enter it, regardless of corpus size — the
per-batch state the stream carries is ZERO (no watermarks, no
applyInPandasWithState; the sketch directory IS the state).

Serving: ``operators.cms.cms_estimate`` over the merged cells
returns exactly what the one-shot batch sketch over the union corpus
returns (pinned by test) — the stream-counts + serve-estimates split
the trending-terms twin uses.

The HLL half is the same recipe with MAX in place of SUM, and is
strictly MORE robust: registers are idempotent under re-ingestion of
the very same documents (MAX absorbs repeats), so not only a batch
REPLAY but a full duplicate delivery leaves the cardinality estimate
unchanged — pinned by test. ``load_hll`` merges at most m rows per
(group, batch); ``operators.hll.hll_estimate`` serves it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from irclogbot_spark.operators.cms import build_cms


def sketch_batch(
    batch: DataFrame,
    batch_id: int,
    sketch_dir: str,
    depth: int = 4,
    width: int = 256,
    text_col: str = "text",
) -> None:
    """foreachBatch body: this batch's term-count CMS cells, written
    idempotently into the batch's own partition dir."""
    terms = batch.select(
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit(r"\S+"), F.lit(0))
        ).alias("term")
    )
    tc = terms.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    cells = build_cms(tc, depth=depth, width=width)
    (
        cells.withColumn("batch_id", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .partitionBy("batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(f"{sketch_dir}/cells")
    )


def load_cms(spark: SparkSession, sketch_dir: str) -> DataFrame:
    """Merged (row, bucket, cell) sketch over every ingested batch —
    one aggregation of at most d*w rows per batch. Before the first
    batch commits, the cells directory does not exist yet: return the
    empty sketch (serving reads 0 everywhere — correct CMS semantics
    for 'nothing counted'), not a PATH_NOT_FOUND crash."""
    try:
        cells = spark.read.parquet(f"{sketch_dir}/cells")
    except Exception:
        return spark.createDataFrame(
            [], "row int, bucket long, cell long"
        )
    return cells.groupBy("row", "bucket").agg(
        F.sum("cell").cast("long").alias("cell")
    )


def hll_batch(
    batch: DataFrame,
    batch_id: int,
    sketch_dir: str,
    text_col: str = "text",
    group_col: str = "source",
) -> None:
    """foreachBatch body: this batch's per-group HLL registers over
    8-gram shingles (the docs_hll_distinct key), written idempotently
    into the batch's own partition dir."""
    from irclogbot_spark.operators.hll import hll_registers
    from irclogbot_spark.operators.repetition import ngrams

    grams = batch.select(
        group_col, F.explode(ngrams(F.col(text_col), 8)).alias("shingle")
    )
    regs = hll_registers(grams, "shingle", [group_col])
    (
        regs.withColumn("batch_id", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .partitionBy("batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(f"{sketch_dir}/registers")
    )


def load_hll(
    spark: SparkSession, sketch_dir: str, group_col: str = "source"
) -> DataFrame:
    """Merged (group, bucket, register) frame over every ingested
    batch: per-bucket MAX — at most m rows per (group, batch) enter
    the merge. Empty before the first commit (no keys seen -> no
    registers -> hll_estimate emits no rows, the batch semantic)."""
    try:
        regs = spark.read.parquet(f"{sketch_dir}/registers")
    except Exception:
        return spark.createDataFrame(
            [], f"{group_col} string, bucket long, register long"
        )
    return regs.groupBy(group_col, "bucket").agg(
        F.max("register").cast("long").alias("register")
    )


def histogram_batch(
    batch: DataFrame,
    batch_id: int,
    sketch_dir: str,
    value_col: str = "n_chars",
    width: int = 100,
    group_col: str = "source",
) -> None:
    """foreachBatch body for the fixed-width histogram / quantile
    sketch (operators/histogram.py — the KLL-tier leg of the sketch
    family, round 8): this batch's (group, bin, cnt) cells written
    idempotently into the batch's own partition dir. Bin counts are
    SUMS, so the merged histogram of a growing corpus is the
    cell-wise sum of per-batch histograms — the CMS recipe verbatim,
    with the same zero-stream-state property (the directory IS the
    state; per-batch merge input is bounded by value-domain/width,
    not rows)."""
    from irclogbot_spark.operators.histogram import histogram_counts

    cells = histogram_counts(batch, value_col, width, [group_col])
    (
        cells.withColumn("batch_id", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .partitionBy("batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(f"{sketch_dir}/bins")
    )


def load_histogram(
    spark: SparkSession, sketch_dir: str, group_col: str = "source"
) -> DataFrame:
    """Merged (group, bin, cnt) histogram over every ingested batch —
    per-bin SUM, at most domain/width rows per (group, batch) enter
    the merge. Empty before the first commit (no bins -> quantile
    serving emits no rows, the batch semantic)."""
    try:
        bins = spark.read.parquet(f"{sketch_dir}/bins")
    except Exception:
        return spark.createDataFrame(
            [], f"{group_col} string, bin long, cnt long"
        )
    return bins.groupBy(group_col, "bin").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )
