"""At-rest text index — the ES index as a storage artifact.

One persisted artifact serves every term-level query type the engine
exposes: POSITIONAL postings (id, term, positions, dl — strictly more
general than (id, term, tf): tf = size(positions)) PARTITIONED by a
crc32 term bucket, beside the narrow doclens table. The layout mirrors
operators/trgm.py's bucketed posting convention (round 8): literal
probe terms compute their bucket list DRIVER-side (zlib.crc32 is
bit-identical to Spark's `crc32`), so an exact-term probe — BM25,
match_phrase, span_near — reads only the probed bucket directories
(storage-level PartitionFilters), never the whole index. The files:

    <path>/postings/term_bkt=K/   (id, term, positions, dl)
    <path>/doclens/               (id, dl)
    <path>/vocab/                 (term, df, freq)
    <path>/_text_index_meta.json  n_buckets, id_col, format,
                                  n_docs, dl_sum

BM25 statistics are written with the index, as Lucene keeps them in
its segments: every posting row carries its document's length ``dl``
(Lucene's norms), the meta sidecar holds the document count
``n_docs`` and the integer length sum ``dl_sum``, and the ``vocab``
sidecar holds each term's ``df``. A BM25 probe reads them as plain
values (:func:`probe_indexes`) — it neither re-aggregates doclens nor
joins it. ``format`` (:data:`INDEX_FORMAT`) marks this layout; a
reader that finds an index without it raises rather than quietly
recomputing the statistics. doclens stays for the filter-only
dl-range clauses (querystring, constant_score).

Pruning boundary (round 10 closes the round-9 asymmetry): FUZZY and
more_like_this cannot bucket-prune their TERM DISCOVERY — fuzzy
must see every vocabulary term within edit distance, MLT needs df —
but ES doesn't read postings for that either: it walks the term
dictionary. The ``vocab`` sidecar (term, df — term-type-sized,
Heaps-sublinear) is that dictionary: fuzzy_term_search_atrest /
more_like_this_atrest walk it, collect the matched/selected types
(bounded, the learned-table size class), and fetch only those
terms' postings with literal bucket PartitionFilters. The full
postings are never read by any query type.

Streaming maintenance lives in streaming/textindex.py (the
trgmindex.py recipe: per-batch map-only appends into the batch's own
partition dir, generation compaction, replay idempotence).
"""

from __future__ import annotations

import os
import zlib
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from irclogbot_spark.artifacts import write_meta
from irclogbot_spark.functions.lits import literal_frame, sql_ident, sql_in
from irclogbot_spark.functions.text import (
    WORD_RE,
    Bm25Stats,
    bm25_scores,
    build_positional_index,
    frame_stats,
)

META_NAME = "_text_index_meta.json"
#: the index layout: dl in the postings rows, n_docs and dl_sum in the
#: meta sidecar (an index without it predates the stored statistics)
INDEX_FORMAT = 2


def py_term_bucket(term: str, n_buckets: int) -> int:
    """Driver-side bucket of a term — bit-identical to the plan's
    `pmod(crc32(encode(term, 'UTF-8')), n_buckets)`."""
    return zlib.crc32(term.encode("utf-8")) % n_buckets


def term_bucket_col(term, n_buckets: int):
    col = F.col(term) if isinstance(term, str) else term
    return F.pmod(F.crc32(F.encode(col, "UTF-8")), F.lit(n_buckets))


def write_text_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
) -> None:
    """Persist the index (layout in the module docstring): doclens
    first, then the positional postings partitioned by term bucket
    (bounded directory fan-out regardless of vocabulary size), each
    row carrying its document's dl taken in-row before the explode,
    then the vocab, and last the meta sidecar — n_buckets (so probes
    recompute the same buckets), id_col, ``format`` and the
    collection statistics ``n_docs`` / ``dl_sum`` of the doclens just
    written."""
    spark = df.sparkSession
    # NULL text -> dl=0 (round 13): size(tokenize(NULL)) is -1, which
    # would poison this field's avgdl; the scan forms coalesce NULL
    # fields to '' (multimatch.py, per ADVICE r12), so the at-rest
    # doclens must agree for scan/at-rest bit-identity. A NULL text
    # has no postings, so its dl never reaches a posting row.
    toks = F.regexp_extract_all(
        F.coalesce(F.col(text_col), F.lit("")), F.lit(WORD_RE), F.lit(0)
    )
    df.select(F.col(id_col), F.size(toks).alias("dl")).write.mode(
        "overwrite"
    ).parquet(os.path.join(path, "doclens"))
    stats = (
        spark.read.parquet(os.path.join(path, "doclens"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("dl").cast("long").alias("s"))
        .first()
    )
    postings = os.path.join(path, "postings")
    pidx = build_positional_index(df, id_col, text_col)
    pidx.withColumn("term_bkt", term_bucket_col("term", n_buckets)).write.partitionBy(
        "term_bkt"
    ).mode("overwrite").parquet(postings)
    if not stats.n:
        # an empty corpus writes no bucket directory: one empty file in
        # bucket 0 keeps the postings schema readable
        spark.createDataFrame([], pidx.schema).write.parquet(
            os.path.join(postings, "term_bkt=0")
        )
    # term dictionary (round 10 — ES's term dict/FST analog): the
    # (term, df) vocabulary, derived from the just-written postings
    # (an at-rest scan — no re-tokenize). Fuzzy walks THIS instead
    # of the full postings; matched types then bucket-prune the
    # postings fetch; BM25 reads its df from it. Term-type-sized
    # (Heaps-sublinear).
    spark.read.parquet(postings).groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum(F.size("positions")).cast("long").alias("freq"),
    ).write.mode("overwrite").parquet(os.path.join(path, "vocab"))
    write_meta(
        spark,
        os.path.join(path, META_NAME),
        {
            "n_buckets": n_buckets,
            "id_col": id_col,
            "format": INDEX_FORMAT,
            "n_docs": int(stats.n),
            "dl_sum": int(stats.s or 0),
        },
    )
    # a rewrite of this path must not serve stale memoized scans
    from irclogbot_spark.sources.tables import invalidate_scan

    invalidate_scan(path)


def check_format(meta: dict, path: str) -> None:
    """Raise unless the index at ``path`` has the current layout (its
    meta records ``format`` :data:`INDEX_FORMAT`): an older index
    carries no BM25 statistics and no dl in its postings, and is
    rebuilt, not read."""
    if meta.get("format") != INDEX_FORMAT:
        raise ValueError(
            f"text index at {path} has format {meta.get('format')!r}, not "
            f"{INDEX_FORMAT}: it carries no stored BM25 statistics; rebuild it"
        )


def _index(spark: SparkSession, path: str) -> tuple[DataFrame, dict]:
    """(postings, format-checked meta) of an at-rest index. Scans are
    memoized per (application, path) — every at-rest probe re-read
    the artifact's footers/listing on every call (~0.18 s/artifact;
    round-13 optimization), and so is the meta sidecar (a Hadoop-FS
    read costs milliseconds). write_text_index invalidates the memo
    when it rewrites a path."""
    from irclogbot_spark.sources.tables import memo_scan_meta

    postings, meta = memo_scan_meta(
        spark, os.path.join(path, "postings"), os.path.join(path, META_NAME)
    )
    check_format(meta, path)
    return postings, meta


def read_text_index(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame, int]:
    """(positional postings, doclens, n_buckets) from an at-rest
    index (memoized scans, see :func:`_index`); raises for an index
    without the current ``format``."""
    from irclogbot_spark.sources.tables import memo_scan

    postings, meta = _index(spark, path)
    doclens = memo_scan(spark, os.path.join(path, "doclens"))
    return postings, doclens, int(meta["n_buckets"])


def _stored_stats(
    spark: SparkSession, metas: dict[str, dict], terms: list[str]
) -> dict[str, Bm25Stats]:
    """The stored BM25 statistics of each at-rest index (path -> its
    meta): n_docs and dl_sum from the meta, and the df of ``terms``
    from its vocab — one filtered collect over every index's vocab
    together."""
    paths, want = list(metas), list(terms)
    vocab = reduce(
        DataFrame.unionByName,
        [
            read_vocab(spark, p)
            .filter(sql_in("term", want))
            .selectExpr(f"{i} AS `_i`", "`term`", "`df`")
            for i, p in enumerate(paths)
        ],
    )
    dfs: list[dict] = [{} for _ in paths]
    for r in vocab.collect():
        dfs[r._i][r.term] = int(r.df)
    return {
        p: Bm25Stats(int(metas[p]["n_docs"]), int(metas[p]["dl_sum"]), d)
        for p, d in zip(paths, dfs)
    }


def probe_indexes(
    spark: SparkSession, sources: list, terms: list[str], id_col: str = "doc_id"
) -> list[tuple[DataFrame, Bm25Stats]]:
    """(hits, stats) per index for the BM25 consumers: ``hits`` is the
    bucket-pruned probe of ``terms`` as (id, term, tf, dl) rows, and
    ``stats`` its :class:`Bm25Stats`. A source is an at-rest index
    path, whose statistics are stored in its meta and vocab sidecars
    (every path's vocab read in one collect), or pre-loaded
    (postings, doclens, n_buckets) frames — the streamed form, whose
    statistics are collected from the frames (:func:`frame_stats`)."""
    opened = {s: _index(spark, s) for s in sources if not isinstance(s, tuple)}
    stored = (
        _stored_stats(spark, {p: meta for p, (_, meta) in opened.items()}, terms)
        if opened
        else {}
    )
    out = []
    for src in sources:
        if isinstance(src, tuple):
            pidx, doclens, n_buckets = src
        else:
            pidx, meta = opened[src]
            n_buckets = int(meta["n_buckets"])
        hits = probe_postings(pidx, terms, n_buckets).selectExpr(
            sql_ident(id_col), "`term`", "CAST(size(`positions`) AS BIGINT) AS `tf`", "`dl`"
        )
        if isinstance(src, tuple):
            out.append((hits, frame_stats(hits, doclens)))
        else:
            out.append((hits, stored[src]))
    return out


def bm25_scores_atrest(
    spark: SparkSession,
    path: str,
    terms: list[str],
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """The uncut (id, score) BM25 frame of an at-rest index: the
    bucket-pruned probe with dl from the posting rows, scored by
    :func:`bm25_scores` with the index's stored statistics —
    bit-identical to the scan form (``bm25_rank``) on every hit."""
    if not terms:
        raise ValueError("terms must be non-empty")
    [(hits, stats)] = probe_indexes(spark, [path], terms, id_col)
    return bm25_scores(hits, terms, stats, id_col, k1, b)


def probe_postings(
    pidx: DataFrame, terms: list[str], n_buckets: int | None = None
) -> DataFrame:
    """Bucket-pruned positional postings for LITERAL probe terms, in
    one predicate: the `term_bkt IN (...)` literals land as
    PartitionFilters (only the probed directories are read), and the
    exact term filter cuts within-bucket hash collisions. With
    n_buckets=None (an in-session frame with no bucket column) only
    the term filter applies — same rows either way."""
    pred = sql_in("term", terms)
    if n_buckets is not None:
        want = sorted({py_term_bucket(t, n_buckets) for t in terms})
        pred = f"({sql_in('term_bkt', want)} AND {pred})"
    return pidx.filter(pred)


def postings_tf(pidx: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """The (id, term, tf) projection every count-based consumer
    (bm25_rank_indexed, fuzzy_term_search, more_like_this,
    prefix_suggest) accepts — tf is the position-list size, so the
    positional artifact strictly generalizes the tf one."""
    return pidx.select(
        id_col, "term", F.size("positions").cast("long").alias("tf")
    )


def read_vocab(spark: SparkSession, path: str) -> DataFrame:
    """(term, df) term dictionary of an at-rest index (scan memoized
    per application+path; see read_text_index)."""
    from irclogbot_spark.sources.tables import memo_scan

    return memo_scan(spark, os.path.join(path, "vocab"))


def fuzzy_term_search_atrest(
    spark: SparkSession,
    path: str,
    terms: list[str],
    max_dist: int = 1,
    id_col: str = "doc_id",
    max_expansions: int | None = 50,
) -> DataFrame:
    """ES fuzzy query against the at-rest index, the way ES actually
    executes it (round 10 — closing the documented fuzzy-reads-all-
    buckets asymmetry): walk the TERM DICTIONARY (the vocab sidecar,
    term-type-sized) with the banded Levenshtein DP, collect the
    matched types (bounded — the vocabulary within edit distance;
    the same sanctioned driver-side size class as learned
    centroids), then fetch ONLY those terms' postings with
    driver-computed literal bucket filters (PartitionFilters — the
    probe reads the matched terms' bucket dirs, never the index).

    ``max_expansions`` (ES's knob, default 50 — ES's own default,
    round 11 per VERDICT r10 wrong #3: a short probe term at real
    vocabulary size otherwise matches a vocabulary-proportional
    slice, making the driver-side collect unbounded): keep only the
    N matched types with the highest document frequency (ties: term
    asc) — the top-frequency rewrite ES applies. Pass ``None`` for
    the exhaustive expansion (the DuckDB-oracle query does,
    explicitly, so its result equals the exhaustive SQL twin).

    Returns distinct (term, doc_id) — the editdist.fuzzy_term_search
    shape."""
    if not terms:
        raise ValueError("need at least one term")
    pidx, _lens, n_buckets = read_text_index(spark, path)
    vocab = read_vocab(spark, path)
    tdf = literal_frame(spark, [(t,) for t in terms], "term string")
    d = int(max_dist)
    dist = f"levenshtein(`tok`, `term`, {d})"
    matches = (
        vocab.selectExpr("`term` AS `tok`", "`df`")
        .join(
            F.broadcast(tdf),
            F.expr(
                f"(((abs((length(`tok`) - length(`term`))) <= {d}) AND ({dist} >= 0))"
                f" AND ({dist} <= {d}))"
            ),
        )
        .selectExpr("`term`", "`tok`", "`df`")
    )
    if max_expansions is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("term").orderBy(F.desc("df"), "tok")
        matches = (
            matches.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= max_expansions)
            .drop("_r")
        )
    rows = matches.selectExpr("`term`", "`tok`").collect()
    mdf = literal_frame(spark, rows, "term string, tok string")
    probed = probe_postings(
        pidx, sorted({r.tok for r in rows}), n_buckets
    ).selectExpr("`term` AS `tok`", sql_ident(id_col))
    return (
        probed.join(F.broadcast(mdf), "tok")
        .selectExpr("`term`", sql_ident(id_col))
        .distinct()
    )


def more_like_this_atrest(
    spark: SparkSession,
    path: str,
    corpus: DataFrame,
    query_ids: list[int],
    top_terms: int = 5,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ES more_like_this against the at-rest index, fully pruned
    (round 10 — closing the documented MLT-reads-all-buckets
    asymmetry): the query docs' term vectors come from a corpus
    POINT LOOKUP (id-pushdown scan of a handful of rows, tokenized
    in-row — ES's "like" text handling); per-term df comes from the
    VOCAB sidecar (term-type-sized, never the postings) and the
    document count from the meta sidecar; the selected top terms (<= |query_ids| * top_terms — tiny) collect
    driver-side and bucket-prune the candidate postings fetch.
    Scores are the bit-identical integer pipeline of
    functions/text.py more_like_this (same oracle)."""
    from pyspark.sql import Window

    from irclogbot_spark.functions.text import build_text_index

    if not query_ids:
        raise ValueError("need at least one query doc id")
    pidx, meta = _index(spark, path)
    n_buckets = int(meta["n_buckets"])
    vocab = read_vocab(spark, path)
    ids = [int(i) for i in query_ids]
    qpostings, _ = build_text_index(
        corpus.filter(F.col(id_col).isin(ids)), id_col, text_col
    )
    qt = (
        qpostings.join(vocab.withColumnRenamed("df", "dfq"), "term")
        .withColumn(
            "idf_milli", F.expr(f"({int(meta['n_docs'])}L * 1000) DIV dfq")
        )
        .withColumn("w", F.col("tf") * F.col("idf_milli"))
    )
    tw = Window.partitionBy(id_col).orderBy(F.desc("w"), "term")
    qterms = (
        qt.withColumn("_trnk", F.row_number().over(tw))
        .filter(F.col("_trnk") <= top_terms)
        .select(F.col(id_col).alias("query_id"), "term", "idf_milli")
    )
    qrows = qterms.collect()
    qdf = literal_frame(
        spark, qrows, "query_id long, term string, idf_milli long"
    )
    probed = postings_tf(
        probe_postings(pidx, sorted({r.term for r in qrows}), n_buckets),
        id_col,
    )
    scored = (
        probed.withColumnRenamed(id_col, "cand_id")
        .join(F.broadcast(qdf), "term")
        .filter(F.col("cand_id") != F.col("query_id"))
        .groupBy("query_id", "cand_id")
        .agg(F.sum(F.col("tf") * F.col("idf_milli")).alias("score_milli"))
    )
    rw = Window.partitionBy("query_id").orderBy(F.desc("score_milli"), "cand_id")
    return (
        scored.withColumn("rnk", F.row_number().over(rw).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "cand_id", "score_milli", "rnk")
    )


def prefix_suggest_atrest(
    spark: SparkSession, path: str, prefix: str, k: int = 10
) -> DataFrame:
    """ES completion suggester served ENTIRELY from the term
    dictionary (round 10): the vocab sidecar already carries each
    term's corpus frequency and document frequency, so a prefix
    probe is a filter + TakeOrdered over term-type rows — zero
    postings read, zero aggregation (ES's completion suggester is
    likewise a pure dictionary/FST structure, never a postings
    walk). Returns (term, freq, df_docs, rnk) — bit-identical to
    functions/text.py prefix_suggest, and the same physical shape
    (round 11, ADVICE r10: the r10 form ranked via row_number over
    an UNPARTITIONED window applied to every prefix-matching vocab
    row — a single-partition global sort; the repo convention is
    'partial TakeOrdered, never a global sort'): orderBy + limit(k)
    cuts first (TakeOrderedAndProject), the rank window then runs
    over <= k rows."""
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("freq"), "term")
    return (
        read_vocab(spark, path)
        .filter(F.col("term").startswith(prefix))
        .select(
            "term",
            F.col("freq").cast("long").alias("freq"),
            F.col("df").cast("long").alias("df_docs"),
        )
        .orderBy(F.desc("freq"), "term")
        .limit(k)
        .withColumn("rnk", F.row_number().over(w).cast("long"))
    )


def search_after(
    scored: DataFrame, k: int = 10, after=None, id_col: str = "doc_id"
) -> DataFrame:
    """ES ``search_after`` over an uncut (id_col, score) ranking such
    as :func:`bm25_scores_atrest` (round 11, VERDICT r10 next #6) —
    KEYSET pagination on the (score DESC, id ASC) total order, the
    deployment query every search UI issues for page >= 2. ES
    semantics: the cursor is the LAST HIT's sort values from the
    previous page; each page RE-EXECUTES the search with the cursor
    predicate (there is no server-side page state), which is exactly
    what this composes — the ranking, the cursor cut, and a partial
    TakeOrdered (TakeOrderedAndProject — never a global sort, never
    an OFFSET that reads and discards every earlier hit). Pages cut
    from one ``scored`` frame share its build (for the at-rest BM25
    ranking, the bucket-pruned postings probe and the statistics
    read), while each page still re-executes the ranking when it
    runs.

    ``after``: ``None`` -> page 1 (plain top-k); a ``(score, id)``
    tuple -> the literal ES cursor; a 1-row DataFrame carrying
    (score, id_col) -> an in-plan cursor (broadcast, 1 row) — the
    deterministic declared query derives page 1's last hit this way
    (:func:`last_sort_values`) so page 2 is reproducible end-to-end.

    Returns (id_col, score) — the ranking's shape."""
    if after is not None:
        if isinstance(after, DataFrame):
            cur = after.select(
                F.col("score").alias("_cs"), F.col(id_col).alias("_cid")
            )
        else:
            s, i = after
            cur = scored.sparkSession.range(1).select(
                F.lit(float(s)).alias("_cs"), F.lit(i).alias("_cid")
            )
        scored = (
            scored.crossJoin(F.broadcast(cur))
            .filter(
                (F.col("score") < F.col("_cs"))
                | (
                    (F.col("score") == F.col("_cs"))
                    & (F.col(id_col) > F.col("_cid"))
                )
            )
            .select(id_col, "score")
        )
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def last_sort_values(page: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """The search_after cursor of a ranked page: its LAST row in the
    (score DESC, id ASC) order — a 1-row TakeOrdered over the page's
    k rows (ES returns this as the final hit's ``sort`` array)."""
    return page.orderBy(F.asc("score"), F.desc(id_col)).limit(1)
