"""Stored BM25 statistics of the text index (operators/textindex.py):
the layout, the format guard on both index kinds, and the empty
index."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from irclogbot_spark import artifacts
from irclogbot_spark.operators.boolquery import bool_search_atrest
from irclogbot_spark.operators.multimatch import multi_match_best_fields_atrest
from irclogbot_spark.operators.textindex import (
    META_NAME,
    bm25_scores_atrest,
    read_text_index,
    write_text_index,
)
from irclogbot_spark.sources.tables import invalidate_scan
from irclogbot_spark.streaming import textindex as TX

DOCS = [(1, "data spark data"), (2, "merge data"), (3, None), (4, "")]


def _docs(spark, rows=DOCS):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_index_stores_dl_and_collection_stats(spark, tmp_path):
    """Every posting row carries its doc's dl; the meta holds format 2,
    n_docs and the integer dl sum of doclens (NULL text counts as a
    doc of length 0)."""
    path = str(tmp_path / "idx")
    write_text_index(_docs(spark), path, n_buckets=4)
    pidx, lens, _nb = read_text_index(spark, path)
    meta = artifacts.read_meta(spark, f"{path}/{META_NAME}")
    assert (meta["format"], meta["n_docs"], meta["dl_sum"]) == (2, 4, 5)
    assert lens.agg(F.count(F.lit(1)), F.sum("dl")).first() == (4, 5)
    got = {(r.doc_id, r.term, r.dl) for r in pidx.select("doc_id", "term", "dl").collect()}
    assert got == {(1, "data", 3), (1, "spark", 3), (2, "merge", 2), (2, "data", 2)}


def test_one_shot_index_without_format_raises_on_probe(spark, tmp_path):
    path = str(tmp_path / "old")
    write_text_index(_docs(spark), path, n_buckets=4)
    meta = artifacts.read_meta(spark, f"{path}/{META_NAME}")
    artifacts.write_meta(
        spark, f"{path}/{META_NAME}", {"n_buckets": meta["n_buckets"], "id_col": "doc_id"}
    )
    invalidate_scan(path)
    for probe in (
        lambda: bm25_scores_atrest(spark, path, ["data"]),
        lambda: bool_search_atrest(spark, path, must=["data"]),
        lambda: read_text_index(spark, path),
    ):
        with pytest.raises(ValueError, match=path):
            probe()


def test_streamed_index_in_old_format_raises_on_ingest_and_load(spark, tmp_path):
    """An index written before posting rows carried dl (its meta has no
    format) is rebuilt, not extended or read."""
    index_dir = str(tmp_path / "sidx")
    artifacts.write_meta(
        spark, f"{index_dir}/{META_NAME}", {"n_buckets": 8, "id_col": "doc_id"}
    )
    old = spark.createDataFrame(
        [(1, "data", [1], 3)], "doc_id long, term string, positions array<int>, term_bkt int"
    )
    artifacts.overwrite(old, f"{index_dir}/index/batch_id=0")
    with pytest.raises(ValueError, match=index_dir):
        TX.text_ingest_batch(_docs(spark), 1, index_dir, n_buckets=8)
    with pytest.raises(ValueError, match=index_dir):
        TX.load_text(spark, index_dir)


def test_empty_index_returns_no_rows(spark, tmp_path):
    """n_docs = 0: no ZeroDivisionError building avgdl, zero rows from
    every BM25 consumer."""
    path = str(tmp_path / "empty")
    write_text_index(_docs(spark, []), path, n_buckets=4)
    meta = artifacts.read_meta(spark, f"{path}/{META_NAME}")
    assert (meta["n_docs"], meta["dl_sum"]) == (0, 0)
    assert bm25_scores_atrest(spark, path, ["data"]).collect() == []
    assert bool_search_atrest(spark, path, must=["data"], should=["spark"]).collect() == []
    assert (
        multi_match_best_fields_atrest(
            spark, [("text", path)], ["data"], {"text": 1.0}, mm_type="cross_fields"
        ).collect()
        == []
    )
