"""Histogram quantile sketch (operators/histogram.py): replica
differential on a known distribution, shard SUM-merge bit-exactness,
partitioning invariance, the one-bin-width error bound against the
exact type-1 twin, q=0/q=1000 edge ranks, and the single-partial-agg
plan pin. The DuckDB parity suite value-hashes
docs_length_quantile_sketch end-to-end."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from irclogbot_spark.operators.histogram import (
    exact_quantiles,
    histogram_counts,
    histogram_merge,
    histogram_quantiles,
)

SF = "/root/testdata/sf0.001"


def _vals(spark, values):
    return spark.createDataFrame([Row(v=int(x)) for x in values])


def _replica(values, qs_milli, width):
    """Pure-Python twin of histogram_quantiles' integer arithmetic."""
    from collections import Counter

    bins = Counter(v // width for v in values)
    n = len(values)
    out = {}
    for q in qs_milli:
        target = 1 + ((n - 1) * q) // 1000
        cum = 0
        for b in sorted(bins):
            below, cum = cum, cum + bins[b]
            if cum >= target:
                out[q] = 1000 * width * b + (1000 * width * (target - below)) // bins[b]
                break
    return out


def test_matches_python_replica_on_skewed_values(spark):
    values = [1, 1, 2, 3, 5, 8, 13, 21, 34, 55, 89, 144, 144, 144, 233]
    df = _vals(spark, values)
    got = {
        r.q_milli: r.est_milli
        for r in histogram_quantiles(
            histogram_counts(df, "v", 10), [0, 250, 500, 750, 1000], 10
        ).collect()
    }
    assert got == _replica(values, [0, 250, 500, 750, 1000], 10)


def test_value_column_name_is_quoted_into_sql(spark):
    """The value column goes into SQL text quoted: ``n-chars`` (which
    unquoted parses as the subtraction ``n - chars``) bins the same
    values as a bare name."""
    values = [1, 1, 2, 3, 5, 8, 13, 21, 34, 55, 89, 144, 144, 144, 233]
    df = _vals(spark, values)
    key = lambda h: sorted((r.bin, r.cnt) for r in h.collect())  # noqa: E731
    want = key(histogram_counts(df, "v", 10))
    assert key(histogram_counts(df.withColumnRenamed("v", "n-chars"), "n-chars", 10)) == want


def test_shard_histograms_sum_merge_bit_exactly(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    whole = histogram_counts(docs, "n_chars", 16, ["source"])
    a = histogram_counts(docs.filter("doc_id % 2 = 0"), "n_chars", 16, ["source"])
    b = histogram_counts(docs.filter("doc_id % 2 = 1"), "n_chars", 16, ["source"])
    merged = histogram_merge(a.unionByName(b), ["source"])
    key = lambda df: sorted((r.source, r.bin, r.cnt) for r in df.collect())
    assert key(merged) == key(whole)


def test_partitioning_invariance(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    one = histogram_quantiles(
        histogram_counts(docs, "n_chars", 16, ["source"]), [500], 16, ["source"]
    )
    seven = histogram_quantiles(
        histogram_counts(docs.repartition(7), "n_chars", 16, ["source"]),
        [500],
        16,
        ["source"],
    )
    key = lambda df: sorted((r.source, r.q_milli, r.est_milli) for r in df.collect())
    assert key(one) == key(seven)


def test_estimate_within_one_bin_width_of_exact(spark):
    """Structural error bound: the type-1 exact quantile lives in the
    estimating bin, and the estimate lands inside (bin_lo, bin_hi],
    so |est - exact| < width always."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    qs = [0, 250, 500, 750, 950, 990, 1000]
    est = histogram_quantiles(
        histogram_counts(docs, "n_chars", 16, ["source"]), qs, 16, ["source"]
    )
    ex = exact_quantiles(docs, "n_chars", qs, ["source"])
    rows = est.join(ex, ["source", "q_milli"]).collect()
    assert len(rows) == 20 * len(qs)
    for r in rows:
        assert abs(r.est_milli / 1000 - r.exact_value) <= 16, r


def test_edge_ranks_min_and_max(spark):
    values = [7, 7, 9, 100, 250]
    df = _vals(spark, values)
    ex = {
        r.q_milli: r.exact_value
        for r in exact_quantiles(df, "v", [0, 1000]).collect()
    }
    assert ex == {0: 7, 1000: 250}


def test_histogram_single_partial_agg_shuffle(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = (
        histogram_counts(docs, "n_chars", 16, ["source"])
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    hashex = [l for l in plan.splitlines() if "hashpartitioning" in l]
    assert len(hashex) == 1, hashex
    assert "partial_count" in plan or "HashAggregate" in plan
