"""Semantics tests for the round-6 additions: JL random projection
(distortion + exactness + plan shape), contrastive hard-negative
mining (label/ceiling/rank contracts), and per-doc n-gram novelty
(planted duplicates, short docs, hash-agnostic counts, partitioning
invariance). The DuckDB parity suite value-checks all three against
SQL twins; these pin the contracts a twin could share a bug with.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"


# ------------------------------------------------------------ projection
def test_achlioptas_matrix_deterministic_and_signed():
    from irclogbot_spark.operators.projection import achlioptas_matrix

    a = achlioptas_matrix(64, 8, seed=7)
    b = achlioptas_matrix(64, 8, seed=7)
    assert a == b
    assert len(a) == 8 and all(len(r) == 64 for r in a)
    assert {v for r in a for v in r} <= {-1, 0, 1}
    # sparse: roughly 2/3 zeros (binomial, generous band)
    n_zero = sum(v == 0 for r in a for v in r)
    assert 0.5 < n_zero / (8 * 64) < 0.8


def test_projection_map_only_plan(spark):
    """Zero data movement: no hash exchange, no join, no aggregate
    node — the projection is a pure in-row expression."""
    df = entrymod.queries()["emb_random_projection"](spark, SF)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "hashpartitioning" not in plan, plan
    assert "Join" not in plan, plan
    assert "HashAggregate" not in plan, plan


def test_projection_exact_integer_replica(spark):
    """Every projected coordinate equals the numpy integer replica:
    floor-milli quantization then signed sums — no float drift."""
    from irclogbot_spark.operators.projection import achlioptas_matrix

    emb = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .limit(50)
        .toPandas()
        .sort_values("vec_id")
    )
    got = (
        entrymod.queries()["emb_random_projection"](spark, SF)
        .filter(F.col("vec_id").isin([int(v) for v in emb.vec_id]))
        .toPandas()
        .sort_values("vec_id")
    )
    m = np.array(achlioptas_matrix(64, 8, seed=7))
    for _, row in emb.iterrows():
        q = np.floor(np.array(row.embedding, dtype=np.float64) * 1000.0).astype(
            np.int64
        )
        want = m @ q
        have = got[got.vec_id == row.vec_id].iloc[0]
        assert [int(have[f"p{j}"]) for j in range(8)] == [int(x) for x in want]


def test_projection_preserves_cluster_structure(spark):
    """JL contract, pinned on PLANTED structure (the sf* embeddings
    are isotropic noise — original same-label cosine ~0.002, nothing
    to preserve): 20 clusters x 10 points at noise 0.3 project to
    same-cluster cosine >> cross-cluster cosine, and >= 95% of points
    keep a same-cluster nearest neighbor at k=8. That is the property
    the dedup/ANN tiers buy the reduction for."""
    from irclogbot_spark.operators.projection import project_embeddings

    rng = np.random.RandomState(3)
    centers = rng.standard_normal((20, 64))
    pts = np.vstack(
        [c + 0.3 * rng.standard_normal((10, 64)) for c in centers]
    )
    df = spark.createDataFrame(
        [
            Row(vec_id=i, embedding=[float(x) for x in v])
            for i, v in enumerate(pts)
        ]
    )
    out = (
        project_embeddings(df, k=8, dim=64, seed=7)
        .toPandas()
        .sort_values("vec_id")
    )
    pm = np.array(out.proj.tolist(), dtype=np.float64)
    pu = pm / np.linalg.norm(pm, axis=1, keepdims=True)
    cp = pu @ pu.T
    cluster = np.repeat(np.arange(20), 10)
    iu = np.triu_indices(len(pts), 1)
    same = cluster[iu[0]] == cluster[iu[1]]
    assert cp[iu][same].mean() > 0.7, cp[iu][same].mean()
    assert cp[iu][~same].mean() < 0.3, cp[iu][~same].mean()
    np.fill_diagonal(cp, -2.0)
    nn_same = cluster[cp.argmax(axis=1)] == cluster
    assert nn_same.mean() >= 0.95, nn_same.mean()


def test_projection_recall_contract(spark):
    """Single-row metric: n_exact = 3 anchors x 5, hit count bounded,
    milli rate consistent with the counts (integer DIV)."""
    row = entrymod.queries()["emb_projection_recall"](spark, SF).collect()[0]
    assert row.n_exact == 15
    assert 0 <= row.n_hit <= 15
    assert row.recall_milli == (1000 * row.n_hit) // row.n_exact


# --------------------------------------------------------- hard negatives
def test_hard_negatives_contracts(spark):
    out = entrymod.queries()["emb_hard_negatives"](spark, SF).toPandas()
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").toPandas()
    qlabel = dict(zip(emb.vec_id, emb.label))
    assert set(out.query_id) == {0, 1, 2}
    for _, r in out.iterrows():
        assert r.label != qlabel[r.query_id], "same-label row leaked"
        assert r.cosine < 0.95, "ceiling violated"
        assert r.vec_id != r.query_id
    for q in (0, 1, 2):
        ranks = sorted(out[out.query_id == q].neg_rank)
        assert ranks == [1, 2, 3, 4, 5]


def test_hard_negatives_are_hardest_eligible(spark):
    """Rank-1 negative really is the max-cosine different-label row
    under the ceiling (numpy replica over the tiny SF)."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").toPandas()
    out = entrymod.queries()["emb_hard_negatives"](spark, SF).toPandas()
    vecs = np.array(emb.embedding.tolist(), dtype=np.float64)
    norms = np.linalg.norm(vecs, axis=1)
    for q in (0, 1, 2):
        qi = emb.index[emb.vec_id == q][0]
        cs = (vecs @ vecs[qi]) / (norms * norms[qi])
        elig = (emb.label != emb.label[qi]) & (emb.vec_id != q) & (cs < 0.95)
        best = emb.vec_id[elig.values & (cs == cs[elig.values].max())].min()
        got = out[(out.query_id == q) & (out.neg_rank == 1)].vec_id.iloc[0]
        assert got == best


def test_hard_negatives_broadcast_plan(spark):
    """The anchor set broadcasts (BroadcastExchange; the sanctioned
    bounded nested-loop — identical shape to emb_knn_join) and the
    top-k is pushed into WindowGroupLimit."""
    df = entrymod.queries()["emb_hard_negatives"](spark, SF)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "BroadcastExchange" in plan
    assert "WindowGroupLimit" in plan


# ------------------------------------------------------------- novelty
def _docs(spark, texts):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )


def test_novelty_planted_duplicates(spark):
    from irclogbot_spark.operators.novelty import ngram_novelty

    texts = [
        "a b c d e f g h",          # 1 gram, shared with doc 1
        "a b c d e f g h i",        # 2 grams, 1 shared
        "p q r s t u v w",          # 1 gram, unique
        "x y z",                    # too short: no 8-gram
    ]
    out = {
        r.doc_id: r
        for r in ngram_novelty(_docs(spark, texts), n=8).collect()
    }
    assert (out[0].n_grams, out[0].dup_grams, out[0].novelty_milli) == (1, 1, 0)
    assert (out[1].n_grams, out[1].dup_grams, out[1].novelty_milli) == (2, 1, 500)
    assert (out[2].n_grams, out[2].dup_grams, out[2].novelty_milli) == (1, 0, 1000)
    assert (out[3].n_grams, out[3].dup_grams, out[3].novelty_milli) == (0, 0, 1000)


def test_novelty_in_doc_repeat_does_not_inflate(spark):
    """The same 8-gram appearing twice INSIDE one doc is one distinct
    gram and is not corpus-duplicated by itself."""
    from irclogbot_spark.operators.novelty import ngram_novelty

    texts = ["a b c d e f g h a b c d e f g h"]
    row = ngram_novelty(_docs(spark, texts), n=8).collect()[0]
    # 9 positional grams, 8 distinct (the wrap repeats 'a..h'); none
    # occur in a second document
    assert row.dup_grams == 0 and row.novelty_milli == 1000


def test_novelty_hash_agnostic_and_partition_invariant(spark):
    """xxhash (scale) and md5 (oracle) paths agree on every count at
    sf0.001, and a hostile repartition changes nothing."""
    from irclogbot_spark.operators.dedup import md5_hash31
    from irclogbot_spark.operators.novelty import ngram_novelty

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    a = ngram_novelty(docs, n=8).toPandas().sort_values("doc_id")
    b = (
        ngram_novelty(docs, n=8, hash_fn=md5_hash31)
        .toPandas()
        .sort_values("doc_id")
    )
    c = (
        ngram_novelty(docs.repartition(7), n=8)
        .toPandas()
        .sort_values("doc_id")
    )
    for col in ("n_grams", "dup_grams", "novelty_milli"):
        assert list(a[col]) == list(b[col]) == list(c[col])


def test_novelty_df_aggregation_is_partial(spark):
    """The distinct-doc frequency aggregates partially map-side
    (partial_count(distinct ...) below the hash exchange) — the skew
    crusher for boilerplate grams present in every doc."""
    df = entrymod.queries()["docs_ngram_novelty"](spark, SF)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "partial_count(distinct" in plan, plan


# -------------------------------------------------------- source overlap
def test_source_overlap_planted_matrix(spark):
    """Three sources: A and B share exactly one of A's two grams; C
    shares nothing and has no 8-gram at all (guard path). Full
    C(3,2) matrix with exact milli rates."""
    from irclogbot_spark.operators.novelty import source_overlap

    rows = [
        Row(doc_id=0, source="A", text="a b c d e f g h i"),  # grams: a..h, b..i
        Row(doc_id=1, source="B", text="a b c d e f g h"),    # gram: a..h
        Row(doc_id=2, source="C", text="too short"),          # none
    ]
    out = {
        (r.src_a, r.src_b): r
        for r in source_overlap(spark.createDataFrame(rows), n=8).collect()
    }
    assert set(out) == {("A", "B"), ("A", "C"), ("B", "C")}
    ab = out[("A", "B")]
    assert (ab.n_a, ab.n_b, ab.n_common) == (2, 1, 1)
    assert ab.contain_a_milli == 500      # 1 of A's 2 grams in B
    assert ab.contain_b_milli == 1000     # all of B inside A
    assert ab.jaccard_milli == 500        # 1 / (2 + 1 - 1)
    ac = out[("A", "C")]
    assert (ac.n_common, ac.contain_a_milli, ac.contain_b_milli, ac.jaccard_milli) == (0, 0, 0, 0)


def test_source_overlap_hash_agnostic(spark):
    """xxhash (scale) and md5 (oracle) paths agree on the full matrix
    over real data (hash-agnostic counts barring collisions)."""
    from irclogbot_spark.operators.dedup import md5_hash31
    from irclogbot_spark.operators.novelty import source_overlap

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    key = ["src_a", "src_b"]
    a = source_overlap(docs).toPandas().sort_values(key).reset_index(drop=True)
    b = (
        source_overlap(docs, hash_fn=md5_hash31)
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    assert a.equals(b)


# ---------------------------------------------------- leakage-safe split
def test_leakage_safe_split_no_cross_split_pairs(spark):
    """THE property: every near-dup pair lands in one split — and the
    check is non-vacuous: a naive per-doc hash split DOES separate at
    least one of these pairs on the same corpus."""
    from irclogbot_spark.operators.dedup import jaccard_pairs
    from irclogbot_spark.operators.sampling import (
        leakage_safe_split,
        portable_draw,
        split_columns,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pairs = jaccard_pairs(docs, n=5, threshold=0.8)
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    out = leakage_safe_split(docs, pairs, w, draw_fn=portable_draw)
    sp = {r.doc_id: r.split for r in out.collect()}
    pr = pairs.collect()
    assert len(pr) > 0
    assert all(sp[r.d1] == sp[r.d2] for r in pr)
    naive = {
        r.doc_id: r.split
        for r in docs.select(
            "doc_id",
            split_columns(["doc_id"], w, "lsplit", portable_draw).alias(
                "split"
            ),
        ).collect()
    }
    assert any(naive[r.d1] != naive[r.d2] for r in pr), (
        "corpus has no cross-split naive pair — property test vacuous"
    )


def test_leakage_safe_split_covers_all_docs_once(spark):
    from irclogbot_spark.operators.dedup import jaccard_pairs
    from irclogbot_spark.operators.sampling import (
        leakage_safe_split,
        portable_draw,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pairs = jaccard_pairs(docs, n=5, threshold=0.8)
    out = leakage_safe_split(
        docs, pairs, {"train": 0.9, "test": 0.1}, draw_fn=portable_draw
    ).toPandas()
    assert len(out) == docs.count()
    assert out.doc_id.is_unique
    assert set(out.split) <= {"train", "test"}
    # singletons label themselves
    paired = {r.d1 for r in pairs.collect()} | {r.d2 for r in pairs.collect()}
    singles = out[~out.doc_id.isin(paired)]
    assert (singles.cluster_id == singles.doc_id).all()


# ---------------------------------------------------- length batching
def test_length_batching_reduces_padding_vs_random(spark):
    """The point of the operator: bucketed batches waste strictly
    fewer padding tokens than id-order batches on a length-diverse
    corpus; batch sizes are 8 except one honest trailing short batch
    per shard; every doc is batched exactly once."""
    from irclogbot_spark.operators.packing import batch_by_length

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = batch_by_length(docs, batch_size=8, shards=4).toPandas()
    assert out.n_docs.sum() == docs.count()
    for shard, g in out.groupby("shard"):
        assert (g.n_docs == 8).sum() >= len(g) - 1  # <=1 short batch
    assert (out.max_tokens * out.n_docs - out.sum_tokens == out.pad_waste).all()
    bucketed_waste = out.pad_waste.sum()
    # id-order strawman: same sharding/cuts but ordered by doc_id
    import pandas as pd

    pdf = docs.toPandas()
    pdf["n_tokens"] = pdf.text.str.split().str.len()
    pdf["shard"] = pdf.doc_id % 4
    pdf = pdf.sort_values(["shard", "doc_id"]).reset_index(drop=True)
    pdf["rn"] = pdf.groupby("shard").cumcount()
    pdf["batch"] = pdf.rn // 8
    g = pdf.groupby(["shard", "batch"]).agg(
        mx=("n_tokens", "max"), sm=("n_tokens", "sum"), n=("n_tokens", "size")
    )
    random_waste = (g.mx * g.n - g.sm).sum()
    assert bucketed_waste < random_waste, (bucketed_waste, random_waste)


# ------------------------------------------------------- JSONL connector
def test_jsonl_roundtrip_hostile_text_and_corrupt_capture(spark, tmp_path):
    """Round-trip is lossless for newline/quote/unicode/empty text;
    corrupt lines are captured verbatim with all data fields null."""
    import gzip

    from irclogbot_spark.sources.files import (
        read_documents_jsonl,
        write_documents_jsonl_gz,
    )

    rows = [
        Row(doc_id=0, text='line1\nline2\t"quoted" \\ end', lang="en",
            source="s0", n_chars=25),
        Row(doc_id=1, text="中文文本 — em-dash", lang="zh", source="s1",
            n_chars=11),
        Row(doc_id=2, text="", lang="en", source="s0", n_chars=0),
    ]
    path = str(tmp_path / "jl")
    write_documents_jsonl_gz(spark.createDataFrame(rows), path)
    with gzip.open(f"{path}/zz-bad.json.gz", "wt") as f:
        f.write("{broken\n")
    back = read_documents_jsonl(spark, path)
    good = {r.doc_id: r for r in back.filter("_corrupt_record IS NULL").collect()}
    assert len(good) == 3
    for r in rows:
        assert good[r.doc_id].text == r.text
        assert good[r.doc_id].source == r.source
    bad = back.filter("_corrupt_record IS NOT NULL").collect()
    assert len(bad) == 1
    assert bad[0]._corrupt_record == "{broken"
    assert bad[0].doc_id is None and bad[0].text is None


# ----------------------------------------------------------------- CMS
def test_cms_never_underestimates_and_bounds_error(spark):
    """The CMS contract over the FULL sf0.001 vocabulary: estimate >=
    exact for every term, and the overestimate is bounded by the
    classic e*N/w with depth-4 min (loose check: max observed error
    well under N/w * 4)."""
    from irclogbot_spark.operators.cms import build_cms, cms_estimate

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    terms = docs.select(
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), F.lit(0))
        ).alias("term")
    )
    tc = terms.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    cells = build_cms(tc, depth=4, width=256)
    est = cms_estimate(
        tc.select("term", F.col("cnt").cast("long").alias("exact_cnt")),
        cells,
        depth=4,
        width=256,
    ).toPandas()
    assert (est.cms_estimate >= est.exact_cnt).all()
    n_total = int(est.exact_cnt.sum())
    assert (est.cms_estimate - est.exact_cnt).max() <= 4 * n_total / 256


def test_cms_unseen_probe_estimates_zero(spark):
    """A probe term the sketch never saw must estimate 0 (its cells
    are absent -> read as 0), not vanish from the output or inherit
    a collided cell's count via an over-min."""
    from irclogbot_spark.operators.cms import build_cms, cms_estimate

    tc = spark.createDataFrame([Row(term="seen", cnt=7)])
    cells = build_cms(tc, depth=4, width=4096)
    out = {
        r.term: r.cms_estimate
        for r in cms_estimate(
            spark.createDataFrame(
                [Row(term="seen"), Row(term="never-seen")]
            ),
            cells,
            depth=4,
            width=4096,
        ).collect()
    }
    assert out == {"seen": 7, "never-seen": 0}


def test_cms_exact_when_no_collision(spark):
    """A vocabulary far smaller than the width estimates exactly
    (no bucket ever shared under any of the 4 rows here)."""
    from irclogbot_spark.operators.cms import build_cms, cms_estimate

    tc = spark.createDataFrame(
        [Row(term=t, cnt=c) for t, c in [("a", 5), ("b", 3)]]
    )
    cells = build_cms(tc, depth=4, width=4096)
    est = {
        r.term: r.cms_estimate
        for r in cms_estimate(
            tc.select("term", F.col("cnt").cast("long").alias("exact_cnt")),
            cells,
            depth=4,
            width=4096,
        ).collect()
    }
    assert est == {"a": 5, "b": 3}


def test_cms_shard_sketches_merge_exactly(spark):
    """Mergeability — the property that makes CMS the streaming /
    partitioned counter: cell-wise SUM of two shard sketches equals
    the sketch of the union, bit for bit."""
    from irclogbot_spark.operators.cms import build_cms

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    terms = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), F.lit(0))
        ).alias("term"),
    )
    tc = lambda d: d.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))  # noqa: E731
    whole = build_cms(tc(terms)).toPandas().set_index(["row", "bucket"])
    a = build_cms(tc(terms.filter("doc_id % 2 = 0")))
    b = build_cms(tc(terms.filter("doc_id % 2 = 1")))
    merged = (
        a.union(b)
        .groupBy("row", "bucket")
        .agg(F.sum("cell").alias("cell"))
        .toPandas()
        .set_index(["row", "bucket"])
    )
    assert whole.cell.sort_index().equals(merged.cell.sort_index())


def test_streaming_cms_equals_batch_and_replays_idempotently(spark, tmp_path):
    """The continuous sketch over a 2-batch stream merges to exactly
    the one-shot sketch of the union corpus; replaying a batch
    (crash recovery) changes nothing."""
    from irclogbot_spark.operators.cms import build_cms
    from irclogbot_spark.artifacts import drain
    from irclogbot_spark.streaming.sketch import load_cms, sketch_batch

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    src = str(tmp_path / "src")
    docs.repartition(2).write.parquet(src)
    sk = str(tmp_path / "sk")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = drain(stream, str(tmp_path / "ck"), partial(sketch_batch, sketch_dir=sk))
    q.awaitTermination(120)
    merged = load_cms(spark, sk).toPandas().set_index(["row", "bucket"])
    terms = docs.select(
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), F.lit(0))
        ).alias("term")
    )
    oneshot = (
        build_cms(terms.groupBy("term").agg(F.count(F.lit(1)).alias("cnt")))
        .toPandas()
        .set_index(["row", "bucket"])
    )
    assert merged.cell.sort_index().equals(oneshot.cell.sort_index())
    # crash replay: rewrite one batch's partition with the same data
    half = docs.filter("doc_id % 2 = 0")
    sketch_batch(half, 7, sk)
    sketch_batch(half, 7, sk)  # replay
    again = load_cms(spark, sk).toPandas().set_index(["row", "bucket"])
    expect = (
        build_cms(
            docs.unionByName(half)
            .select(
                F.explode(
                    F.regexp_extract_all(
                        F.col("text"), F.lit(r"\S+"), F.lit(0)
                    )
                ).alias("term")
            )
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        .toPandas()
        .set_index(["row", "bucket"])
    )
    assert again.cell.sort_index().equals(expect.cell.sort_index())


def test_streaming_hll_equals_batch_and_absorbs_duplicate_delivery(
    spark, tmp_path
):
    """The continuous HLL register store over a 2-batch stream
    MAX-merges to exactly the one-shot registers of the union corpus;
    and — stronger than the CMS replay guarantee — re-ingesting the
    SAME documents again (full duplicate delivery, not just a batch
    replay) leaves registers and estimate unchanged, because MAX
    absorbs repeats."""
    from irclogbot_spark.operators.hll import hll_estimate, hll_registers
    from irclogbot_spark.operators.repetition import ngrams
    from irclogbot_spark.artifacts import drain
    from irclogbot_spark.streaming.sketch import hll_batch, load_hll

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    src = str(tmp_path / "hsrc")
    docs.repartition(2).write.parquet(src)
    sk = str(tmp_path / "hsk")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = drain(stream, str(tmp_path / "hck"), partial(hll_batch, sketch_dir=sk))
    q.awaitTermination(120)

    def regset(df):
        return sorted(
            (r.source, r.bucket, r.register) for r in df.collect()
        )

    merged = load_hll(spark, sk)
    grams = docs.select(
        "source", F.explode(ngrams(F.col("text"), 8)).alias("shingle")
    )
    oneshot = hll_registers(grams, "shingle", ["source"])
    assert regset(merged) == regset(oneshot)
    est_before = sorted(
        (r.source, r.hll_estimate)
        for r in hll_estimate(merged, ["source"]).collect()
    )
    # duplicate delivery: the whole corpus arrives again as batch 7
    hll_batch(docs, 7, sk)
    hll_batch(docs, 7, sk)  # and the batch itself replays
    again = load_hll(spark, sk)
    assert regset(again) == regset(oneshot)
    assert (
        sorted(
            (r.source, r.hll_estimate)
            for r in hll_estimate(again, ["source"]).collect()
        )
        == est_before
    )


def test_load_hll_empty_before_first_commit(spark, tmp_path):
    from irclogbot_spark.operators.hll import hll_estimate
    from irclogbot_spark.streaming.sketch import load_hll

    regs = load_hll(spark, str(tmp_path / "nope"))
    assert regs.count() == 0
    assert hll_estimate(regs, ["source"]).count() == 0


# ----------------------------------------------------------------- SQ8
def test_sq8_out_of_bounds_vectors_clamp(spark):
    """Bounds trained on one corpus, applied to vectors outside them
    (the cross-corpus API path): codes clamp to 0/255, errors stay
    exact vs the clamped numpy replica, engines never see a negative
    or >255 code."""
    from irclogbot_spark.operators.pq import sq8_error_stats

    rows = [
        Row(vec_id=0, embedding=[float(x) for x in ([-9.0] * 64)]),
        Row(vec_id=1, embedding=[float(x) for x in ([9.0] * 64)]),
        Row(vec_id=2, embedding=[float(x) for x in ([0.5] * 64)]),
    ]
    df = spark.createDataFrame(rows)
    mins = [0] * 64            # trained elsewhere: [0, 1000] milli
    maxes = [1000] * 64
    out = {
        r.vec_id: r
        for r in sq8_error_stats(df, mins, maxes).collect()
    }
    m = {0: -9000, 1: 9000, 2: 500}
    for vid, mm in m.items():
        d = mm - 0
        code = min(255, max(0, (d * 255) // 1000))
        err = abs(d - (code * 1000) // 255)
        assert out[vid].max_abs_err_milli == err
        assert out[vid].sum_abs_err_milli == err * 64


def test_sq8_error_bounds_and_numpy_replica(spark):
    """SQ8 contract: per-coordinate error < range/255 + 1 milli (the
    quantization step), zero error on constant dims, and every stat
    equals the numpy integer replica."""
    from irclogbot_spark.operators.pq import sq8_error_stats, sq8_train_bounds

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    mins, maxes = sq8_train_bounds(emb)
    out = (
        sq8_error_stats(emb, mins, maxes)
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    step = max((mx - mn) // 255 + 1 for mn, mx in zip(mins, maxes))
    assert (out.max_abs_err_milli <= step).all()
    pdf = emb.toPandas().sort_values("vec_id").reset_index(drop=True)
    m = np.floor(
        np.array(pdf.embedding.tolist(), dtype=np.float64) * 1000.0
    ).astype(np.int64)
    mn = np.array(mins)
    rng = np.array(maxes) - mn
    d = m - mn
    code = np.where(rng > 0, (d * 255) // np.maximum(rng, 1), 0)
    err = d - np.where(rng > 0, (code * rng) // 255, 0)
    assert list(out.sum_abs_err_milli) == list(err.sum(axis=1))
    assert list(out.max_abs_err_milli) == list(err.max(axis=1))


def test_novelty_min_docs_guard(spark):
    from irclogbot_spark.operators.novelty import ngram_novelty

    with pytest.raises(ValueError):
        ngram_novelty(_docs(spark, ["a"]), min_docs=1)


def test_streaming_histogram_equals_batch_and_serves_quantiles(spark, tmp_path):
    """Round 8: the continuous fixed-width histogram over a 2-batch
    stream merges bit-exactly to the one-shot histogram of the union
    corpus; the served quantiles match the batch sketch's; a batch
    replay (idempotent partition overwrite) changes nothing."""
    from irclogbot_spark.operators.histogram import (
        histogram_counts,
        histogram_quantiles,
    )
    from irclogbot_spark.artifacts import drain
    from irclogbot_spark.streaming.sketch import histogram_batch, load_histogram

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    src = str(tmp_path / "hsrc")
    docs.repartition(2).write.parquet(src)
    sk = str(tmp_path / "hsk")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = drain(
        stream,
        str(tmp_path / "hck"),
        partial(histogram_batch, sketch_dir=sk, width=100),
    )
    q.awaitTermination(120)

    merged = load_histogram(spark, sk)
    oneshot = histogram_counts(docs, "n_chars", 100, ["source"])
    key = lambda df: {  # noqa: E731
        (r.source, r.bin): r.cnt for r in df.collect()
    }
    assert key(merged) == key(oneshot)

    # quantiles served from the streamed cells == batch quantiles
    qa = histogram_quantiles(merged, [0.5, 0.9], width=100, group_cols=["source"])
    qb = histogram_quantiles(oneshot, [0.5, 0.9], width=100, group_cols=["source"])
    assert sorted(map(tuple, qa.collect())) == sorted(map(tuple, qb.collect()))

    # replay: same batch id rewritten twice — no double counting
    half = docs.filter("doc_id % 2 = 0")
    histogram_batch(half, 7, sk, width=100)
    histogram_batch(half, 7, sk, width=100)
    again = load_histogram(spark, sk)
    expect = histogram_counts(
        docs.unionByName(half), "n_chars", 100, ["source"]
    )
    assert key(again) == key(expect)

    # empty-before-first-commit serve
    assert load_histogram(spark, str(tmp_path / "nowhere")).count() == 0
