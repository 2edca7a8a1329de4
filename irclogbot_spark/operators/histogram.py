"""Mergeable integer-histogram quantile sketch — the oracle-paired
approximate-quantile leg, beside HLL (cardinality) and CMS
(frequency).

``events_approx_stats`` records Spark's built-in
``percentile_approx`` (a Greenwald-Khanna variant) rows-only: its
internal sketch can never value-hash against DuckDB's. The portable
alternative here is the classic fixed-width histogram: bin =
value // width, counts partial-aggregate, and a quantile is read off
the cumulative distribution with deterministic integer
interpolation. Every step is BIGINT arithmetic, so the DuckDB oracle
re-derives the estimate bit-exactly.

Quantile convention (documented because conventions differ): for
q (in milli) over n rows the target RANK is 1 + ((n-1)*q) // 1000
(type-1 / inverted-CDF, 1-based). The estimating bin is the unique
bin whose cumulative count first covers the target; within the bin
the estimate interpolates linearly by rank:

  est_milli = 1000*width*bin + (1000*width*(target - cum_below)) // cnt

(target - cum_below ranges 1..cnt, so the estimate lands strictly
inside (bin_lo, bin_hi] — at most one bin width from the exact
type-1 quantile, which rides beside it in the registered query).

Scale shape: the sketch is ONE partially-aggregated shuffle of
(group, bin) — the per-group state is bounded by domain/width, not
by rows, and shard histograms SUM-merge bit-exactly (tested), the
same mergeable-accumulator contract as the HLL registers and CMS
cells. The per-group cumulative window runs over those bounded bin
rows, never over data. The exact twin (type-1 quantile via a
distinct-value cumulative) is the full distinct-value pass the
sketch replaces when the value domain is large; for bounded integer
domains both are cheap — the point is the CONTRACT, pinned
cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from irclogbot_spark.functions.lits import sql_ident


def histogram_counts(
    df: DataFrame,
    value_col: str,
    width: int,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """(group..., bin, cnt): fixed-width integer bins, one
    partial-agg shuffle. Values must be non-negative integers (the
    floor-quantize-first rule covers floats upstream)."""
    group_cols = group_cols or []
    b = F.expr(f"CAST({sql_ident(value_col)} AS BIGINT) div {int(width)}").alias("bin")
    return (
        df.select(*group_cols, b)
        .groupBy(*group_cols, "bin")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def histogram_merge(
    hists: DataFrame, group_cols: list[str] | None = None
) -> DataFrame:
    """Union-merge of shard histograms (pass the unioned frame):
    per-bin SUM — associative and exact, so shard sketches built on
    any partitioning merge to the one-shot histogram."""
    group_cols = group_cols or []
    return hists.groupBy(*group_cols, "bin").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )


def histogram_quantiles(
    hist: DataFrame,
    qs_milli: list[int],
    width: int,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """(group..., q_milli, n, est_milli) for each requested quantile,
    all-BIGINT: target rank 1+((n-1)*q)//1000, estimating bin = the
    unique bin whose cumulative count covers it, linear rank
    interpolation inside the bin. The cumulative window partitions by
    group over BIN rows (bounded by domain/width, never by data)."""
    group_cols = group_cols or []
    w = (
        Window.partitionBy(*[F.col(c) for c in group_cols]).orderBy("bin")
        if group_cols
        else Window.orderBy("bin")
    )
    cum = hist.select(
        *group_cols,
        "bin",
        "cnt",
        F.sum("cnt").over(w).cast("long").alias("cum"),
    ).withColumn("cum_below", (F.col("cum") - F.col("cnt")).cast("long"))
    totals = hist.groupBy(*group_cols).agg(F.sum("cnt").cast("long").alias("n"))
    qs = totals.select(
        *group_cols,
        "n",
        F.explode(
            F.array(*[F.lit(int(q)).cast("long") for q in qs_milli])
        ).alias("q_milli"),
    ).withColumn(
        "target",
        (
            F.lit(1)
            + F.expr("CAST((n - 1) * q_milli AS BIGINT) div 1000")
        ).cast("long"),
    )
    joined = qs.join(cum, group_cols) if group_cols else qs.crossJoin(cum)
    picked = joined.filter(
        (F.col("cum") >= F.col("target")) & (F.col("cum_below") < F.col("target"))
    )
    est = (
        F.lit(1000 * width) * F.col("bin")
        + F.expr(f"CAST(1000 * {width} * (target - cum_below) AS BIGINT) div cnt")
    ).cast("long")
    return picked.select(
        *group_cols, "q_milli", "n", est.alias("est_milli")
    )


def exact_quantiles(
    df: DataFrame,
    value_col: str,
    qs_milli: list[int],
    group_cols: list[str] | None = None,
) -> DataFrame:
    """(group..., q_milli, exact_value): exact type-1 quantile — the
    smallest value whose cumulative count reaches the same target
    rank. Distinct-value cumulative (the winsorize bounded-domain
    rule), so the sketch estimate can be compared like-for-like."""
    group_cols = group_cols or []
    vc = (
        df.select(*group_cols, F.col(value_col).cast("long").alias("v"))
        .groupBy(*group_cols, "v")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    w = (
        Window.partitionBy(*[F.col(c) for c in group_cols]).orderBy("v")
        if group_cols
        else Window.orderBy("v")
    )
    cum = vc.select(
        *group_cols, "v", "cnt", F.sum("cnt").over(w).cast("long").alias("cum")
    ).withColumn("cum_below", (F.col("cum") - F.col("cnt")).cast("long"))
    totals = vc.groupBy(*group_cols).agg(F.sum("cnt").cast("long").alias("n"))
    qs = totals.select(
        *group_cols,
        "n",
        F.explode(
            F.array(*[F.lit(int(q)).cast("long") for q in qs_milli])
        ).alias("q_milli"),
    ).withColumn(
        "target",
        (
            F.lit(1)
            + F.expr("CAST((n - 1) * q_milli AS BIGINT) div 1000")
        ).cast("long"),
    )
    joined = qs.join(cum, group_cols) if group_cols else qs.crossJoin(cum)
    picked = joined.filter(
        (F.col("cum") >= F.col("target")) & (F.col("cum_below") < F.col("target"))
    )
    return picked.select(*group_cols, "q_milli", F.col("v").alias("exact_value"))
