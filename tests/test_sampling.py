"""Deterministic sampling/splitting operators: reproducibility under
repartition (the 100 TB property), rate accuracy, split disjointness,
stratified behavior, per-group reservoir size."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from irclogbot_spark.operators import sampling
from irclogbot_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents").cache()


def _ids(df):
    return {r.doc_id for r in df.select("doc_id").collect()}


def test_consistent_sample_is_partitioning_invariant(spark, docs):
    a = _ids(sampling.consistent_sample(docs, 0.3, ["doc_id"]))
    b = _ids(sampling.consistent_sample(docs.repartition(17), 0.3, ["doc_id"]))
    assert a == b, "sample membership must not depend on partitioning"
    n = docs.count()
    assert 0.15 * n < len(a) < 0.45 * n, f"rate far off: {len(a)}/{n}"


def test_consistent_sample_salt_gives_independent_draws(spark, docs):
    a = _ids(sampling.consistent_sample(docs, 0.5, ["doc_id"], salt="s1"))
    b = _ids(sampling.consistent_sample(docs, 0.5, ["doc_id"], salt="s2"))
    assert a != b
    # nested rates: a 0.2 sample is a subset of the same-salt 0.5 sample
    small = _ids(sampling.consistent_sample(docs, 0.2, ["doc_id"], salt="s1"))
    assert small <= a


def test_consistent_sample_rejects_bad_rate(spark, docs):
    with pytest.raises(ValueError):
        sampling.consistent_sample(docs, 1.5, ["doc_id"])


def test_stratified_sample_respects_per_stratum_rates(spark, docs):
    langs = [r.lang for r in docs.select("lang").distinct().collect()]
    keep, drop = langs[0], langs[1]
    out = sampling.stratified_sample(
        docs, {keep: 1.0, drop: 0.0}, "lang", ["doc_id"]
    )
    got = {r.lang: r.n for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    want_keep = docs.filter(F.col("lang") == keep).count()
    assert got.get(keep) == want_keep  # rate 1.0 keeps everything
    assert drop not in got  # rate 0.0 drops everything
    assert set(got) <= {keep}  # default_rate=0 drops unlisted strata


def test_train_test_split_is_disjoint_exhaustive_and_stable(spark, docs):
    out = sampling.train_test_split(
        docs, {"train": 0.8, "val": 0.1, "test": 0.1}, ["doc_id"]
    )
    n = docs.count()
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == n  # exhaustive, disjoint by construction
    assert counts.get("train", 0) > counts.get("val", 0)
    # stability: recompute under different partitioning → same labels
    again = sampling.train_test_split(
        docs.repartition(13), {"train": 0.8, "val": 0.1, "test": 0.1}, ["doc_id"]
    )
    a = {(r.doc_id, r.split) for r in out.select("doc_id", "split").collect()}
    b = {(r.doc_id, r.split) for r in again.select("doc_id", "split").collect()}
    assert a == b


def test_portable_draw_matches_default_draw_properties(spark, docs):
    """The md5-based oracle draw behaves like the xxhash draw: rates
    land, splits stay disjoint/exhaustive and partitioning-stable."""
    a = _ids(
        sampling.consistent_sample(
            docs, 0.3, ["doc_id"], draw_fn=sampling.portable_draw
        )
    )
    b = _ids(
        sampling.consistent_sample(
            docs.repartition(9), 0.3, ["doc_id"], draw_fn=sampling.portable_draw
        )
    )
    assert a == b
    n = docs.count()
    assert 0.15 * n < len(a) < 0.45 * n
    out = sampling.train_test_split(
        docs, {"train": 0.8, "val": 0.1, "test": 0.1}, ["doc_id"],
        draw_fn=sampling.portable_draw,
    )
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == n


def test_split_thresholds_are_cumulative_and_shared(spark):
    th = sampling.split_thresholds({"train": 0.8, "val": 0.1, "test": 0.1})
    assert th == [("train", 800000), ("val", 900000)]
    # weights normalize: same proportions at a different total
    assert [t for _, t in sampling.split_thresholds({"a": 8, "b": 1, "c": 1})] == [
        800000,
        900000,
    ]
    with pytest.raises(ValueError):
        sampling.split_thresholds({"a": 0.0})


def test_reservoir_per_group_fixed_size_and_deterministic(spark, docs):
    out = sampling.reservoir_per_group(docs, ["lang"], k=5, key_cols=["doc_id"])
    sizes = {r.lang: r.n for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    full = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, n in full.items():
        assert sizes.get(lang, 0) == min(5, n)
    again = sampling.reservoir_per_group(
        docs.repartition(11), ["lang"], k=5, key_cols=["doc_id"]
    )
    assert _ids(out) == _ids(again)


def test_reservoir_per_group_draw_fn_swaps_the_hash(spark, docs):
    prod = sampling.reservoir_per_group(docs, ["lang"], k=5, key_cols=["doc_id"])
    port = sampling.reservoir_per_group(
        docs, ["lang"], k=5, key_cols=["doc_id"], draw_fn=sampling.portable_draw
    )
    # different hash -> (almost surely) different membership, same sizes
    assert _ids(prod) != _ids(port)
    assert port.groupBy("lang").count().filter(F.col("count") > 5).count() == 0
    # the portable draw is just as partitioning-invariant
    again = sampling.reservoir_per_group(
        docs.repartition(13), ["lang"], k=5, key_cols=["doc_id"],
        draw_fn=sampling.portable_draw,
    )
    assert _ids(port) == _ids(again)


def test_token_budget_cap_admission_order_and_budget(spark):
    """Every group's cumulative total respects the budget; admission
    is a prefix of draw order (no doc kept after a dropped one), and
    the result is stable under repartition."""
    from irclogbot_spark.operators.sampling import _draw, token_budget_cap
    from pyspark.sql import functions as F

    rows = [(i, "s%d" % (i % 3), 10 + (i * 7) % 30) for i in range(120)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
    out = token_budget_cap(df, 200, ["source"], ["doc_id"]).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r)
    assert set(by_src) == {"s0", "s1", "s2"}
    for src, rs in by_src.items():
        assert max(r.cum_tokens for r in rs) <= 200
        assert sum(r.n_tokens for r in rs) == max(r.cum_tokens for r in rs)
    # prefix property: kept set == the first k docs in draw order
    full = df.withColumn("_d", _draw(["doc_id"], "budget")).collect()
    for src in by_src:
        order = sorted((r for r in full if r.source == src), key=lambda r: (r._d, r.doc_id))
        kept = {r.doc_id for r in by_src[src]}
        k = len(kept)
        assert kept == {r.doc_id for r in order[:k]}
    # repartition invariance
    out2 = token_budget_cap(df.repartition(7), 200, ["source"], ["doc_id"]).collect()
    assert {(r.doc_id, r.cum_tokens) for r in out2} == {
        (r.doc_id, r.cum_tokens) for r in out
    }


def test_budget_cap_matches_imperative_reference(spark):
    """Independent cumsum-over-sorted-draws reimplementation."""
    import hashlib
    import random

    rng = random.Random(5)
    rows = [
        (i, rng.choice(["a", "b"]), rng.randint(1, 50)) for i in range(150)
    ]
    from irclogbot_spark.operators.sampling import portable_draw, token_budget_cap

    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
    got = {
        r.doc_id: r.cum_tokens
        for r in token_budget_cap(
            df, 300, ["source"], ["doc_id"], draw_fn=portable_draw
        ).collect()
    }

    def draw(doc_id):
        h = hashlib.md5(f"budget\x1f{doc_id}".encode()).hexdigest()
        return int(h[:15], 16) % 1000000

    want = {}
    for src in ("a", "b"):
        cum = 0
        for i, s, n in sorted(
            (r for r in rows if r[1] == src), key=lambda r: (draw(r[0]), r[0])
        ):
            if cum + n <= 300:
                cum += n
                want[i] = cum
            # NOTE: admission is cumulative-prefix, not knapsack — a
            # doc that overflows stops nothing; later smaller docs
            # are STILL excluded iff their running total exceeds the
            # budget. Mirror the operator: cum keeps growing.
            else:
                cum += n
    assert got == want


def test_temperature_sample_rebalances_toward_tail(spark):
    """temperature_sample (tau=2): the head group's kept share shrinks
    and the tail group's grows relative to proportional sampling;
    membership is deterministic and partition-invariant; a tiny group
    whose target exceeds its size caps at p_keep = 1."""
    from irclogbot_spark.operators.sampling import temperature_sample

    rows = (
        [(i, "head") for i in range(900)]
        + [(1000 + i, "mid") for i in range(90)]
        + [(2000 + i, "tail") for i in range(10)]
    )
    d = spark.createDataFrame(rows, "doc_id long, grp string")
    out = temperature_sample(d, "grp", ["doc_id"], budget_frac=0.5)
    got = {r.grp: r for r in out.groupBy("grp").count().collect()}
    p = {r.grp: r.p_keep for r in out.select("grp", "p_keep").distinct().collect()}
    # sqrt shares: 30/(30+~9.49+~3.16) ~ 0.703 of 500 for head -> ~352
    # (p~0.39); tail target ~37 > 10 docs -> p caps at 1, all kept
    assert p["tail"] == 1.0
    assert got["tail"]["count"] == 10
    assert 0.3 < p["head"] < 0.5
    assert p["mid"] > p["head"]  # tail-ward tilt
    # deterministic + partition-invariant
    a = {r.doc_id for r in out.collect()}
    b = {
        r.doc_id
        for r in temperature_sample(
            d.repartition(13), "grp", ["doc_id"], budget_frac=0.5
        ).collect()
    }
    assert a == b


def test_temperature_sample_general_tau_monotone(spark):
    """Generalized tau (round 5): tau=1 reduces to proportional
    sampling (every group keeps ~budget_frac of itself), and raising
    tau tilts the head group's keep probability DOWN monotonically
    (head share -> uniform as tau grows); tau <= 0 is rejected."""
    import pytest as _pytest

    from irclogbot_spark.operators.sampling import temperature_sample

    rows = (
        [(i, "head") for i in range(900)]
        + [(1000 + i, "mid") for i in range(90)]
        + [(2000 + i, "tail") for i in range(10)]
    )
    d = spark.createDataFrame(rows, "doc_id long, grp string")

    def p_head(tau):
        out = temperature_sample(d, "grp", ["doc_id"], budget_frac=0.5, tau=tau)
        return {
            r.grp: r.p_keep for r in out.select("grp", "p_keep").distinct().collect()
        }["head"]

    # tau=1: q_g = n_g / N -> p_keep = budget_frac exactly (modulo
    # the 2^20 quantization: well inside 1e-4)
    assert abs(p_head(1.0) - 0.5) < 1e-4
    p2, p4 = p_head(2.0), p_head(4.0)
    assert p2 < 0.5 and p4 < p2  # more temperature, more tail tilt
    with _pytest.raises(ValueError):
        temperature_sample(d, "grp", ["doc_id"], tau=0.0)


def test_pps_bucketed_prefix_sum_equals_single_window(spark, sf_dir):
    """The distributed prefix-sum (256 aligned buckets + offsets)
    must select the EXACT same rows as the degenerate single-bucket
    form — integer sums over aligned boundaries."""
    from irclogbot_spark.operators.sampling import (
        portable_draw,
        pps_systematic_sample,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "n_chars"
    )
    a = pps_systematic_sample(d, 40, "n_chars", draw_fn=portable_draw, buckets=256)
    b = pps_systematic_sample(d, 40, "n_chars", draw_fn=portable_draw, buckets=1)
    ia = sorted(r["doc_id"] for r in a.collect())
    ib = sorted(r["doc_id"] for r in b.collect())
    assert ia == ib and len(ia) >= 35


def test_pps_heavy_row_always_selected_and_no_duplicates(spark):
    from irclogbot_spark.operators.sampling import pps_systematic_sample

    rows = [(i, 1) for i in range(100)] + [(999, 100000)]
    d = spark.createDataFrame(rows, ["doc_id", "n_chars"])
    out = [r["doc_id"] for r in pps_systematic_sample(d, 10, "n_chars").collect()]
    assert 999 in out  # covers many stride points -> certainly selected
    assert len(out) == len(set(out))  # ...but emitted once


def test_pps_n_validation(spark):
    import pytest

    from irclogbot_spark.operators.sampling import pps_systematic_sample

    with pytest.raises(ValueError):
        pps_systematic_sample(None, 0, "w")


def test_corpus_shuffle_is_a_bijection_with_dense_ranks(spark, docs):
    out = sampling.corpus_shuffle(docs, seed="s1", n_shards=8).cache()
    n = docs.count()
    assert out.count() == n
    assert out.select("doc_id").distinct().count() == n
    # (shard, pos) is a dense 1..size_of_shard numbering: slot count
    # equals row count and max pos equals shard size
    slots = out.select("shard", "pos").distinct().count()
    assert slots == n
    per = out.groupBy("shard").agg(
        F.count(F.lit(1)).alias("sz"), F.max("pos").alias("mx")
    ).collect()
    assert all(r.sz == r.mx for r in per)
    assert {r.shard for r in per} <= set(range(8))
    out.unpersist()


def test_corpus_shuffle_partitioning_invariant_and_seeded(spark, docs):
    a = sampling.corpus_shuffle(docs, seed="s1", n_shards=8)
    b = sampling.corpus_shuffle(docs.repartition(17), seed="s1", n_shards=8)
    rows_a = sorted(map(tuple, a.collect()))
    rows_b = sorted(map(tuple, b.collect()))
    assert rows_a == rows_b  # same seed -> identical order anywhere
    c = sampling.corpus_shuffle(docs, seed="s2", n_shards=8)
    order_a = [r[0] for r in sorted(rows_a, key=lambda t: (t[2], t[3]))]
    order_c = [
        r["doc_id"] for r in c.orderBy("shard", "pos").collect()
    ]
    assert order_a != order_c  # fresh seed -> fresh permutation


def test_corpus_shuffle_validates(spark, docs):
    with pytest.raises(ValueError, match="n_shards"):
        sampling.corpus_shuffle(docs, seed="s", n_shards=0)


def test_priority_sample_partitioning_invariant_and_sized(spark, docs):
    a = sampling.priority_sample(docs, 25, "n_chars").toPandas()
    b = (
        sampling.priority_sample(docs.repartition(17), 25, "n_chars")
        .toPandas()
    )
    key = ["doc_id", "priority_nano", "tau_nano", "w_hat_nano"]
    assert sorted(map(tuple, a[key].values.tolist())) == sorted(
        map(tuple, b[key].values.tolist())
    ), "priority sample must not depend on partitioning"
    assert len(a) == 25
    # tau is the (k+1)-st priority: every sampled priority exceeds it
    assert (a["priority_nano"] > a["tau_nano"]).all()
    # the estimator clamps at tau from below
    assert (a["w_hat_nano"] >= a["tau_nano"]).all()
    assert (a["w_hat_nano"] >= a["n_chars"] * 1_000_000_000).all()


@pytest.mark.parametrize("weight_col", ["n_chars", "n-chars"])
def test_priority_sample_estimator_matches_python_reference(spark, weight_col):
    """The integer-quantized engine against a pure-Python replica of
    Duffield/Lund/Thorup on a toy table — including the exact tau and
    the per-row max(w, tau) estimate. The weight column goes into SQL
    text quoted, so a name that is not a bare identifier (``n-chars``,
    which unquoted parses as a subtraction) reads the same column."""
    rows = [(i, 10 + (i * 37) % 500) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, n_chars long").withColumnRenamed(
        "n_chars", weight_col
    )
    k = 7
    got = {
        r.doc_id: (r.priority_nano, r.tau_nano, r.w_hat_nano)
        for r in sampling.priority_sample(
            df, k, weight_col, draw_fn=sampling.portable_draw
        ).collect()
    }

    import hashlib

    def draw(doc_id):
        s = f"priority\x1f{doc_id}".encode()
        return int(hashlib.md5(s).hexdigest()[:15], 16) % 1_000_000

    prio = sorted(
        (((w * 1_000_000_000) // (draw(i) + 1), i, w) for i, w in rows),
        key=lambda t: (-t[0], t[1]),
    )
    tau = prio[k][0]
    want = {
        i: (p, tau, max(w * 1_000_000_000, tau)) for p, i, w in prio[:k]
    }
    assert got == want


def test_priority_sample_small_population_keeps_all_tau_zero(spark):
    df = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "doc_id long, n_chars long"
    )
    out = sampling.priority_sample(df, 5, "n_chars").collect()
    assert len(out) == 3
    assert all(r.tau_nano == 0 for r in out)
    assert all(r.w_hat_nano == r.n_chars * 1_000_000_000 for r in out)


def test_priority_sample_validates_k(spark, docs):
    with pytest.raises(ValueError):
        sampling.priority_sample(docs, 0, "n_chars")
