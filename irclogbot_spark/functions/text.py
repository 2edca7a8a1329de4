"""Text-analysis functions: tokenization, quality metrics, language
identification, document fingerprinting (north-star extensions).

All pure column expressions — whole-stage codegen end to end, and
each has an exact ANSI-SQL twin for the DuckDB oracle.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F

from irclogbot_spark.functions.lits import (
    sql_fold,
    sql_ident,
    sql_in,
    sql_name,
    sql_string,
    sql_value,
)

WORD_RE = r"\S+"
#: BPE-ish subword split: word chars run | single non-word-non-space.
BPE_RE = r"\w+|[^\w\s]"
PUNCT_RE = r"[.,!?;:]"

#: Tiny per-language stopword profiles for the n-gram/stopword
#: language-ID heuristic. Deliberately small: the heuristic is the
#: operator; accuracy depends on corpus realism.
LANG_STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "fr": ["le", "la", "les", "et", "est", "pas", "une", "pour", "dans", "que"],
    "es": ["el", "la", "los", "y", "es", "no", "una", "por", "con", "que"],
}


def bm25_term_scores(
    n_terms: int,
    k1: float,
    b: float,
    *,
    tf: str = "tf{i}",
    df: str | list[str] = "df{i}",
    n: str = "n",
    avgdl: str = "avgdl",
    dl: str = "dl",
) -> list[str]:
    """The repo-wide BM25 per-term expression (rational idf — see
    bm25_rank's determinism note) of each term ``i`` over a scored
    frame's columns, in term order, as SQL text (functions/lits.py).
    ``tf`` and ``df`` are column-name templates over ``i``
    (multi_match asks for ``tf_<field>_{i}``); ``df`` may instead be
    one SQL expression per term (cross_fields' blended df).

    A term the doc does not contain scores +0.0 without evaluating
    the length norm: at b=1.0 or k1=0 an empty field makes the
    denominator ``tf + k1 * norm`` zero, which the engine's pinned
    ANSI mode raises on. For any other parameters the formula itself
    gives +0.0 at tf=0, so the guard changes no score."""
    one, lb, half, lk1, zero = (sql_value(v) for v in (1.0, b, 0.5, k1, 0.0))
    norm = f"(({one} - {lb}) + (({lb} * {sql_ident(dl)}) / {sql_ident(avgdl)}))"
    k1_plus_1, n_col = f"({lk1} + {one})", sql_ident(n)
    dfs = df if isinstance(df, list) else [sql_ident(df.format(i=i)) for i in range(n_terms)]
    out = []
    for i in range(n_terms):
        tf_col, dfreq = sql_ident(tf.format(i=i)), dfs[i]
        idf = f"((({n_col} - {dfreq}) + {half}) / ({dfreq} + {half}))"
        tfc = f"(({tf_col} * {k1_plus_1}) / ({tf_col} + ({lk1} * {norm})))"
        out.append(f"CASE WHEN ({tf_col} > 0) THEN ({idf} * {tfc}) ELSE {zero} END")
    return out


def bm25_score_sum(n_terms: int, k1: float, b: float, **names) -> str:
    """The per-term scores of :func:`bm25_term_scores` added IN TERM
    ORDER: one fixed left-to-right tree of double additions, which
    the scan form, the at-rest form and the SQL twins all evaluate,
    so their scores agree bit for bit (a SUM() over matched terms
    would re-associate and drift in the last ulp)."""
    return sql_fold("+", bm25_term_scores(n_terms, k1, b, **names))


def bm25_scan_columns(
    text: str,
    terms: list[str],
    n_df: int | None = None,
    *,
    toks: str = "_toks",
    dl: str = "dl",
    tf: str = "tf{i}",
    n: str | None = "n",
    avgdl: str = "avgdl",
    df: str = "df{i}",
) -> tuple[str, list[str], list[str]]:
    """The corpus-scan BM25 inputs of one text column, as SQL text for
    :func:`bm25_scan_frame`: the token array aliased ``toks`` (each
    row is tokenized once), the in-row ``dl`` and one ``tf`` per term
    over that array, and the stats-row aggregates over those columns
    — ``avgdl`` (the integer dl sum divided once), ``n`` (left out
    when None: one stats row carries one ``n``) and ``df`` for the
    first ``n_df`` terms (all by default; a must_not or negative term
    is gated on, never scored). ``tf`` and ``df`` are templates over
    the term's index ``i``. ``text`` is a SQL expression, so a caller
    may coalesce a NULL field to '' first."""
    arr = sql_ident(toks)
    in_row = [
        f"size({arr}) AS {sql_name(dl)}",
        *[
            f"size(filter({arr}, x -> (x = {sql_string(t)}))) AS {sql_name(tf.format(i=i))}"
            for i, t in enumerate(terms)
        ],
    ]
    aggs = [f"(CAST(sum({sql_ident(dl)}) AS DOUBLE) / count(1)) AS {sql_name(avgdl)}"]
    if n is not None:
        aggs.append(f"count(1) AS {sql_name(n)}")
    aggs += [
        f"sum(CASE WHEN ({sql_ident(tf.format(i=i))} > 0) THEN 1 ELSE 0 END) "
        f"AS {sql_name(df.format(i=i))}"
        for i in range(len(terms) if n_df is None else n_df)
    ]
    tokens = f"regexp_extract_all({text}, {sql_string(WORD_RE)}, 0) AS {sql_name(toks)}"
    return tokens, in_row, aggs


def bm25_scan_frame(df, keep: list[str], *scans):
    """The scan form's scored frame: the ``keep`` columns with each
    :func:`bm25_scan_columns` scan's in-row columns, joined with the
    ONE broadcast stats row aggregated over them. The token arrays
    come from one projection, dl/tf from the next; zero shuffles."""
    kept = [sql_ident(c) for c in keep]
    base = df.selectExpr(*kept, *[s[0] for s in scans]).selectExpr(
        *kept, *[c for s in scans for c in s[1]]
    )
    aggs = [F.expr(c) for s in scans for c in s[2]]
    return base.join(F.broadcast(base.agg(*aggs)))


def term_counts(count: str = "tf") -> Column:
    """Each distinct token of the token-array column ``_toks`` with its
    in-row count: array<struct<term, ``count``: long>>, counted by
    in-row higher-order functions (O(len^2) over a short array beats
    a (doc, term) pre-shuffle)."""
    return F.transform(
        F.array_distinct("_toks"),
        lambda t: F.struct(
            t.alias("term"),
            F.size(F.filter(F.col("_toks"), lambda x: x == t)).cast("long").alias(count),
        ),
    )


def token_count(text: Column | str, pattern: str = WORD_RE) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(pattern), F.lit(0)))


def stopword_hits(text: Column | str, lang: str = "en") -> Column:
    c = F.col(text) if isinstance(text, str) else text
    words = "|".join(LANG_STOPWORDS[lang])
    return F.size(
        F.regexp_extract_all(F.lower(c), F.lit(rf"\b({words})\b"), F.lit(0))
    )


def lang_stopword_pattern(lang: str) -> str:
    return rf"\b({'|'.join(LANG_STOPWORDS[lang])})\b"


def lang_id(text: Column | str) -> Column:
    """Stopword-profile language guess: the language with the most
    stopword hits, alphabetical tiebreak; 'und' when nothing hits.

    Expressed as an ordered CASE (first alphabetical max wins) so the
    SQL oracle twin is a literal transcription.
    """
    langs = sorted(LANG_STOPWORDS)  # de, en, es, fr
    scores = {lang: stopword_hits(text, lang) for lang in langs}
    expr = F.when(F.greatest(*[scores[lg] for lg in langs]) == 0, F.lit("und"))
    for i, lang in enumerate(langs[:-1]):
        cond = F.lit(True)
        for other in langs[i + 1 :]:
            cond = cond & (scores[lang] >= scores[other])
        expr = expr.when(cond, F.lit(lang))
    return expr.otherwise(F.lit(langs[-1]))


def punct_ratio(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    n = F.size(F.regexp_extract_all(c, F.lit(PUNCT_RE), F.lit(0)))
    return n.cast("double") / F.greatest(F.length(c), F.lit(1))


def rolling_fingerprint(text: Column | str, base: int = 1000003, mod: int = 2147483647) -> Column:
    """Order-sensitive polynomial rolling hash over tokens.

    h = fold(tokens, h*base + (len(tok)*131 + first_codepoint) mod M).
    Unlike the set-style md5 fingerprint, transposing tokens changes
    the value. Stays in BIGINT: h < 2^31, so h*base < 2^52.
    SQL twin: list_reduce over the same token features.
    """
    toks = F.regexp_extract_all(
        F.col(text) if isinstance(text, str) else text, F.lit(WORD_RE), F.lit(0)
    )
    code = lambda t: F.length(t).cast("long") * 131 + F.ascii(t).cast("long")  # noqa: E731
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: F.pmod(acc * F.lit(base) + code(t), F.lit(mod).cast("long")),
    )


def bm25_rank(
    df,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
):
    """BM25-ranked full-text retrieval: top-k docs for a term set —
    the scored-search core of the ES surface (SURVEY.md §2H), not
    just boolean filtering.

    Cross-engine determinism: the idf uses the RATIONAL form
    (N - df + 0.5)/(df + 0.5) instead of its logarithm — ln() differs
    across libms in the last ulp and can never value-hash against an
    oracle; dropping the monotone log changes scores but not the
    ranking behavior the operator exists for, and every remaining op
    is plain double arithmetic with an identical expression tree in
    the DuckDB twin.

    Scale shape: one projection computes per-doc tf/dl (the token
    array materialized once), one global aggregate produces the
    corpus stats row (avgdl + per-term df), which broadcasts back —
    no shuffle of the corpus; the final top-k is a partial
    TakeOrdered, not a sort.
    """
    if not terms:
        raise ValueError("terms must be non-empty")
    joined = bm25_scan_frame(df, [id_col], bm25_scan_columns(sql_ident(text_col), terms))
    return (
        joined.selectExpr(
            sql_ident(id_col), f"{bm25_score_sum(len(terms), k1, b)} AS `score`"
        )
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def build_text_index(df, id_col: str = "doc_id", text_col: str = "text"):
    """The materializable BM25 index pair: ``postings`` (id, term,
    tf) and ``doclens`` (id, dl) — what a deployment writes once
    (postings bucketed/partitioned BY TERM so a query's IN-filter
    prunes at rest; doclens is a narrow two-column table) and probes
    forever, instead of re-scanning text per query.

    Both frames are MAP-ONLY projections of the corpus scan: per-doc
    (term, tf) entries come from in-row higher-order functions (the
    docs_inverted_index trade — O(len^2) over a short token array
    beats a (doc, term) pre-shuffle), exploded without any exchange.
    Document frequency is NOT precomputed: the probe derives each
    query term's df by counting its (filtered) postings — exact, and
    it keeps the index append-only under corpus growth."""
    toks = df.select(
        F.col(id_col),
        F.regexp_extract_all(F.col(text_col), F.lit(WORD_RE), F.lit(0)).alias(
            "_toks"
        ),
    )
    doclens = toks.select(F.col(id_col), F.size("_toks").alias("dl"))
    postings = toks.select(F.col(id_col), F.explode(term_counts()).alias("_e")).select(
        id_col, F.col("_e.term").alias("term"), F.col("_e.tf").alias("tf")
    )
    return postings, doclens


def bm25_rank_indexed(
    postings,
    doclens,
    terms: list[str],
    id_col: str = "doc_id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
):
    """BM25 top-k over a PRE-BUILT index (``build_text_index``
    frames) — bit-identical scores to ``bm25_rank``'s corpus scan
    for every document containing at least one query term (the only
    docs an inverted index can see; zero-hit docs score exactly 0.0
    in the scan form, so the rankings agree whenever k docs have
    hits — pinned by test).

    Bit-exactness is engineered, not assumed: avgdl is an INTEGER
    dl-sum divided once (associative, unlike a float sum); per-term
    scores are re-assembled per doc via k conditional aggregates and
    added IN TERM ORDER — the same left-to-right double additions as
    the scan form's fixed expression tree (a SUM() over matched
    terms would re-associate and drift in the last ulp).

    Scale shape: the postings scan carries an ``term IN (...)``
    filter (partition/row-group pruning at rest — the corpus text is
    never touched); the corpus stats (n, dl sum, per-term df) are
    plain values — read from an at-rest index's meta and vocab
    sidecars (operators/textindex.py), or collected once from
    in-session frames (:func:`frame_stats`); dl comes from the
    postings row when the index stores it (an in-session
    ``build_text_index`` frame joins doclens on the id); top-k is a
    partial TakeOrdered."""
    return (
        bm25_scores_indexed(postings, doclens, terms, id_col, k1, b)
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


@dataclass(frozen=True)
class Bm25Stats:
    """Collection statistics of one indexed field as plain values:
    the document count, the integer sum of document lengths, and the
    document frequency of each probed term (a term missing from
    ``df`` has no postings)."""

    n_docs: int
    dl_sum: int
    df: dict

    @property
    def avgdl(self) -> float:
        """The integer dl sum divided once: the same IEEE division as
        the scan form's ``cast(sum(dl) as double) / count(1)``, so
        indexed and scan scores stay bit-identical. An empty index
        has no postings to score, so its 0.0 is never used."""
        return float(self.dl_sum) / self.n_docs if self.n_docs else 0.0

    def columns(
        self, terms: list[str], n: str = "n", avgdl: str = "avgdl", df: str = "df{i}"
    ) -> list[str]:
        """The statistics as literal columns named for the score
        expressions, in SQL text: ``n``, ``avgdl`` and one ``df`` per
        term (``df`` is a template over the term's index ``i``)."""
        return [
            f"{sql_value(self.n_docs)} AS {sql_name(n)}",
            f"{sql_value(self.avgdl)} AS {sql_name(avgdl)}",
            *[
                f"{sql_value(self.df.get(t, 0))} AS {sql_name(df.format(i=i))}"
                for i, t in enumerate(terms)
            ],
        ]


def frame_stats(hits, doclens) -> Bm25Stats:
    """:class:`Bm25Stats` of in-session or streamed index frames: one
    aggregate over ``doclens`` and one per-term count over ``hits``
    (the postings of the probed terms), both collected. A postings
    row exists iff tf > 0, so the count is the df."""
    row = doclens.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").cast("long").alias("s")
    ).first()
    dfs = hits.groupBy("term").agg(F.count(F.lit(1)).alias("df")).collect()
    return Bm25Stats(int(row.n), int(row.s or 0), {r.term: int(r.df) for r in dfs})


def bm25_term_frame(hits, terms: list[str], stats: Bm25Stats, id_col: str = "doc_id"):
    """One row per doc with >= 1 hit: ``tf<i>`` per term (0 where the
    doc misses it), ``dl`` (read from the postings rows — every row
    of a doc carries the same value) and the statistics as literal
    ``n``, ``avgdl`` and ``df<i>`` columns. ``hits`` carries
    (id, term, tf, dl); one doc-keyed aggregation, no joins."""
    pivot = hits.groupBy(id_col).agg(
        *[
            F.expr(
                f"coalesce(max(CASE WHEN (`term` = {sql_string(t)}) THEN `tf` END), 0)"
                f" AS `tf{i}`"
            )
            for i, t in enumerate(terms)
        ],
        F.expr("max(`dl`) AS `dl`"),
    )
    return pivot.selectExpr("*", *stats.columns(terms))


def bm25_scores(
    hits,
    terms: list[str],
    stats: Bm25Stats,
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
):
    """The indexed BM25 score assembly: (id, score) for every doc in
    ``hits`` (id, term, tf, dl), the per-term scores of
    :func:`bm25_term_frame`'s columns added IN TERM ORDER — the scan
    form's fixed expression tree, so the doubles agree bit for bit
    (a term the doc misses scores the same +0.0 either way)."""
    if not terms:
        raise ValueError("terms must be non-empty")
    j = bm25_term_frame(hits, terms, stats, id_col)
    return j.selectExpr(
        sql_ident(id_col), f"{bm25_score_sum(len(terms), k1, b)} AS `score`"
    )


def bm25_scores_indexed(
    postings,
    doclens,
    terms: list[str],
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
):
    """The UNCUT (id, score) frame behind ``bm25_rank_indexed`` for
    in-session or streamed frames: the statistics are collected from
    the frames (:func:`frame_stats`), then :func:`bm25_scores` runs.
    Postings without a ``dl`` column (``build_text_index``) join it
    from doclens on the id. An at-rest index reads its stored
    statistics instead (operators/textindex.py bm25_scores_atrest)."""
    if not terms:
        raise ValueError("terms must be non-empty")
    hits = postings.filter(sql_in("term", terms))
    stats = frame_stats(hits, doclens)
    if "dl" not in hits.columns:
        hits = hits.join(doclens.select(id_col, "dl"), id_col)
    return bm25_scores(hits, terms, stats, id_col, k1, b)


def vocab_coverage(
    df,
    text_col: str = "text",
    max_terms: int = 100,
    coverage: float = 0.9,
):
    """Vocabulary construction with a cumulative-coverage cutoff —
    the tokenizer-vocab step of a training-data pipeline (pick the
    top-V terms that cover X% of the token stream; everything else
    becomes <unk>/byte-fallback).

    Output: one row per candidate term (the corpus-frequency top
    ``max_terms``) with rank, count, token share, EXACT cumulative
    count, derived cumulative share, and the ``in_vocab`` verdict —
    a term is in-vocab while the mass BEFORE it is still under the
    coverage target, so the term that crosses the threshold is
    included (the standard closed-cutoff convention).

    Scale shape: token counts are ONE term shuffle with partial
    aggregation (the corpus is touched once, only the (term, n)
    pairs move); the top-``max_terms`` slice is a partial top-k
    (TakeOrderedAndProject — per-partition heaps, never a global
    sort of the vocabulary); the running total then runs over at
    most ``max_terms`` rows, which is the vocab table a tokenizer
    ships anyway — bounded, not corpus-sized.

    Cross-engine exactness: the running total is accumulated over
    the INTEGER counts (``cum_n``) — a windowed SUM of doubles is
    association-dependent (DuckDB's segment tree vs Spark's running
    fold could differ in the last ulp) — and every float column is a
    single division (or one multiply for the threshold compare) of
    exactly-agreed integers, so shares and the ``in_vocab`` boolean
    are bit-identical. Ties rank lexicographically on the term.
    """
    from pyspark.sql import Window

    if max_terms < 1:
        raise ValueError(f"max_terms must be >= 1, got {max_terms}")
    if not 0.0 < coverage <= 1.0:
        raise ValueError(f"coverage must be in (0, 1], got {coverage}")
    toks = df.select(
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit(WORD_RE), F.lit(0))
        ).alias("term")
    )
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("n_total"))
    top = counts.orderBy(F.desc("n"), F.asc("term")).limit(max_terms)
    order = Window.orderBy(F.desc("n"), F.asc("term"))
    run = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = (
        top.withColumn("rank", F.row_number().over(order).cast("int"))
        .withColumn("cum_n", F.sum("n").over(run))
        .join(F.broadcast(total))
    )
    tot = F.col("n_total").cast("double")
    return ranked.select(
        "rank",
        "term",
        "n",
        "cum_n",
        (F.col("n").cast("double") / tot).alias("share"),
        (F.col("cum_n").cast("double") / tot).alias("cum_share"),
        (
            (F.col("cum_n") - F.col("n")).cast("double") < F.lit(float(coverage)) * tot
        ).alias("in_vocab"),
    )


def tokenize_with_vocab(
    df,
    vocab,
    id_col: str = "doc_id",
    text_col: str = "text",
    unk_id: int = 0,
):
    """Apply a learned vocabulary to the corpus — the encode step
    after vocab_coverage: each \\S+ token maps to its vocab id
    (1-based rank), out-of-vocabulary tokens to ``unk_id``. Returns
    ``(id, token_ids array<int>, n_tokens, n_oov)``.

    ``vocab`` is a DataFrame with (rank, term) — e.g.
    ``vocab_coverage(...).filter("in_vocab").select("rank", "term")``.

    Scale shape: the vocabulary broadcasts (it is tokenizer-sized by
    construction); tokens explode with their in-doc position, take
    the broadcast-hash-join lookup, and reassemble via ONE doc-id
    shuffle of (id, pos, token_id) triples — text itself never
    shuffles, and the rebuild is an in-row sort of the collected
    struct array (no window). Empty docs keep an empty array.

    Robustness: a vocab with duplicate terms would fan the lookup
    join out (duplicating (pos, tid) entries and inflating every
    count), so the vocab side is collapsed to the MIN rank per term
    — deterministic, and a no-op on a well-formed vocab. ``unk_id``
    must stay outside the 1-based rank space (else OOV tokens are
    indistinguishable from that vocab entry in ``token_ids``).
    """
    if unk_id >= 1:
        raise ValueError(
            f"unk_id must be < 1 (ranks are 1-based), got {unk_id}"
        )
    vocab = vocab.groupBy("term").agg(F.min("rank").alias("rank"))
    toks = df.select(
        F.col(id_col),
        F.posexplode_outer(
            F.regexp_extract_all(F.col(text_col), F.lit(WORD_RE), F.lit(0))
        ).alias("_pos", "term"),
    )
    looked = toks.join(F.broadcast(vocab), "term", "left").select(
        id_col,
        "_pos",
        F.coalesce(F.col("rank").cast("int"), F.lit(int(unk_id)).cast("int")).alias(
            "_tid"
        ),
        F.col("rank").isNull().alias("_oov"),
    )
    assembled = looked.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(
                F.when(
                    F.col("_pos").isNotNull(),
                    F.struct(F.col("_pos"), F.col("_tid")),
                )
            )
        ).alias("_entries"),
        F.count("_pos").alias("n_tokens"),
        F.count(F.when(F.col("_oov") & F.col("_pos").isNotNull(), 1)).alias("n_oov"),
    )
    return assembled.select(
        id_col,
        F.transform(F.col("_entries"), lambda e: e["_tid"]).alias("token_ids"),
        "n_tokens",
        "n_oov",
    )


def tfidf_topk(df, id_col: str = "doc_id", text_col: str = "text", k: int = 3):
    """Per-document top-k keywords by TF-IDF — the keyword-extraction
    face of the full-text surface the reference delegates to
    Elasticsearch (SURVEY.md §2H; ES exposes this as significant
    terms / term vectors over the same inverted statistics).

    Cross-engine determinism: the idf is the RATIONAL form N/df, not
    its logarithm — same rule as bm25_rank above (ln() differs across
    libms in the last ulp and can never value-hash against an
    oracle; the monotone log changes scores but not ranks). The
    score is ``CAST(tf AS DOUBLE) * N / df`` — two IEEE-exact ops
    with the identical expression tree in the DuckDB twin.

    Scale shape: per-doc (term, tf) pairs come from IN-ROW
    higher-order functions (one map stage — same trade as the
    inverted-index build: O(len^2) over a short in-row array beats
    a (doc, term) pre-shuffle); the document-frequency table is ONE
    term shuffle with partial aggregation over exploded DISTINCT
    in-row terms (no tf computation on that branch); it joins back
    on term WITHOUT a broadcast hint — the distinct-term table of a
    web-scale corpus is billions of rows (a forced broadcast there
    OOMs the driver), so the join is left to AQE: it broadcasts when
    the df table is actually small and otherwise runs a shuffled
    term join (tc arrives already term-partitionable; only
    (id, term, tf) triples move — never text) with AQE skew-split
    covering stopword-heavy terms. The 1-row corpus count does
    broadcast. The per-doc reassembly shuffles only (id, term, tf,
    score). Top-k within a doc is an in-row array_sort + slice, not
    a window sort: negating the (strictly positive) score gives an
    ascending struct sort key with the term string as the
    deterministic tiebreak.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    toks = df.select(
        F.col(id_col),
        F.regexp_extract_all(F.col(text_col), F.lit(WORD_RE), F.lit(0)).alias("_toks"),
    )
    tc = toks.select(F.col(id_col), F.explode(term_counts()).alias("_e")).select(
        id_col, F.col("_e.term").alias("term"), F.col("_e.tf").alias("tf")
    )
    # df-branch: distinct terms only — skips the per-term tf filters
    dfreq = (
        toks.select(F.explode(F.array_distinct("_toks")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    n = df.agg(F.count(F.lit(1)).alias("n"))
    # no broadcast hint on dfreq: its cardinality is the corpus's
    # distinct-term count — unbounded at scale; AQE broadcasts it
    # when it is in fact small
    scored = tc.join(dfreq, "term").join(F.broadcast(n))
    score = F.col("tf").cast("double") * F.col("n") / F.col("df")
    per_doc = scored.groupBy(id_col).agg(
        F.collect_list(
            F.struct((-score).alias("nscore"), F.col("term"), F.col("tf"))
        ).alias("_entries")
    )
    top = F.slice(F.array_sort("_entries"), 1, k)
    return per_doc.select(
        F.col(id_col), F.posexplode(top).alias("_pos", "_e")
    ).select(
        id_col,
        (F.col("_pos") + F.lit(1)).cast("int").alias("rank"),
        F.col("_e.term").alias("term"),
        F.col("_e.tf").alias("tf"),
        (-F.col("_e.nscore")).alias("score"),
    )


def normalize_text(text: Column | str) -> Column:
    """Dedup-key canonicalization — the CCNet/C4 normalization every
    pipeline applies before hashing: lowercase, strip everything but
    letters/digits/whitespace, collapse whitespace runs, trim. Two
    byte-different renderings of the same content ("Hello,  World!"
    vs "hello world") collapse to one fingerprint; raw text is
    untouched (normalize feeds the HASH, not the output). Pure
    projection — composes in-row with md5/xxhash64 and the shingle
    family. ANSI twin: lower + regexp_replace('[^a-z0-9\\s]', '', 'g')
    + regexp_replace('\\s+', ' ', 'g') + trim."""
    c = F.col(text) if isinstance(text, str) else text
    cleaned = F.regexp_replace(F.lower(c), r"[^a-z0-9\s]", "")
    return F.trim(F.regexp_replace(cleaned, r"\s+", " "))


def tokenize_with_vocab_inline(
    df,
    vocab,
    id_col: str = "doc_id",
    text_col: str = "text",
    unk_id: int = 0,
    max_vocab: int = 1_000_000,
):
    """MAP-ONLY twin of ``tokenize_with_vocab``: the vocabulary is
    collected once (tokenizer-sized by construction — the same
    bounded-metadata rule as the IVF/PQ codebooks and the Bloom
    words) and ships as ONE parsed map<string,int> literal; each
    document then encodes entirely IN-ROW (transform + element_at).
    Zero joins, zero shuffles, no explode/reassemble — at 100 TB
    this removes the (id, pos, tid) triple shuffle the join form
    pays (one row PER TOKEN, ~4x the corpus bytes), which is the
    dominant cost of the encode pass. Same output contract:
    ``(id, token_ids array<int>, n_tokens, n_oov)``, bit-identical
    to the join form on any vocab (equivalence-tested; the
    registered query reuses the docs_tokenize ORACLE as a
    physical-path differential).

    Same robustness contract as the join form: duplicate vocab terms
    collapse to MIN rank; ``unk_id`` must stay outside the 1-based
    rank space. ``max_vocab`` is the ENFORCED bound on the driver
    collect (VERDICT r11 next #5 — the fuzzy_term_search_atrest
    max_expansions convention): the inline form exists because
    tokenizer vocabularies are bounded by construction (50k-ish for
    BPE, 1M generous), so an unboundedly large "vocab" frame is a
    caller bug — fail fast instead of silently collecting it; the
    join form (:func:`tokenize_with_vocab`) serves genuinely
    unbounded mappings. Pass ``max_vocab=None`` to opt out
    explicitly.
    """
    from irclogbot_spark.functions.lits import lit_string_int_map

    if unk_id >= 1:
        raise ValueError(
            f"unk_id must be < 1 (ranks are 1-based), got {unk_id}"
        )
    deduped = vocab.groupBy("term").agg(F.min("rank").alias("rank"))
    if max_vocab is not None:
        if max_vocab <= 0:
            raise ValueError(f"max_vocab must be > 0, got {max_vocab}")
        # one cheap limit+count probe before the full collect
        over = deduped.limit(int(max_vocab) + 1).count()
        if over > max_vocab:
            raise ValueError(
                f"vocab has > {max_vocab} distinct terms; the inline "
                "map literal is for bounded tokenizer vocabularies — "
                "use tokenize_with_vocab (the join form) or raise "
                "max_vocab explicitly"
            )
    pairs = [
        (r["term"], int(r["rank"])) for r in deduped.collect()
    ]
    m = lit_string_int_map(sorted(pairs))
    toks = F.regexp_extract_all(F.col(text_col), F.lit(WORD_RE), F.lit(0))
    tid = lambda t: F.coalesce(  # noqa: E731
        F.element_at(m, t).cast("int"), F.lit(int(unk_id)).cast("int")
    )
    return df.select(
        F.col(id_col),
        F.transform(toks, tid).alias("token_ids"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(
            F.filter(toks, lambda t: F.element_at(m, t).isNull())
        ).cast("long").alias("n_oov"),
    )


def nfc_normalize_col(text: Column | str) -> Column:
    """Unicode NFC normalization — the canonicalization step a
    multilingual corpus needs before ANY hash-based dedup (decomposed
    "a+COMBINING ACUTE" and precomposed "á" are different bytes, so
    unnormalized text silently defeats exact dedup, shingle hashing
    and decontamination for every non-ASCII language). Spark has no
    built-in normalizer, so this is one of the engine's few sanctioned
    Python seams: an Arrow-batched pandas UDF over stdlib
    unicodedata — vectorized batch transfer, no per-row pickling, and
    it composes as a plain Column inside any projection (map-only, no
    shuffle). DuckDB's nfc_normalize() is the cross-engine oracle."""
    from pyspark.sql.functions import pandas_udf

    c = F.col(text) if isinstance(text, str) else text

    @pandas_udf("string")
    def _nfc(s):  # pd.Series -> pd.Series
        import unicodedata

        return s.map(
            lambda x: unicodedata.normalize("NFC", x) if x is not None else None
        )

    return _nfc(c)


def more_like_this(
    df,
    query_ids: list[int],
    top_terms: int = 5,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    postings=None,
):
    """ES more_like_this analog (round 9 — §2H's implied search
    surface): for each query doc, select its ``top_terms`` most
    characteristic terms by exact integer tf·idf (idf_milli =
    (N*1000) DIV df — the inverse-df weight, BIGINT end to end, no
    float log), then rank every OTHER doc by the sum of its tf for
    those terms times the same idf; top ``k`` per query doc with a
    deterministic (score desc, cand_id) tiebreak.

    Shape: the (id, term, tf) postings and per-term df are ONE
    map-only projection + one partial-agg shuffle (build_text_index);
    the query docs' term rows are a tiny frame that BROADCASTS into
    the postings — candidate scoring touches only postings rows whose
    term is in the query-term union, one (query, cand) partial agg,
    then a per-query rank window over candidate-sized rows. The
    1-row corpus count broadcasts (the docs_tfidf_topk convention).

    ``postings`` (optional): a persisted (id, term, tf) index from
    :func:`build_text_index` — the same artifact BM25 and fuzzy
    queries probe. The inline path builds it and materializes it
    ONCE (lazy localCheckpoint): three consumers below (df counts,
    query-term selection, candidate scoring) would otherwise replay
    the corpus scan three times.

    Returns (query_id, cand_id, score_milli, rnk).
    """
    from pyspark.sql import Window

    if not query_ids:
        raise ValueError("need at least one query doc id")
    if postings is None:
        postings, _ = build_text_index(df, id_col, text_col)
        postings = postings.localCheckpoint(eager=False)
    dfreq = postings.groupBy("term").agg(F.count(F.lit(1)).alias("dfq"))
    nrow = df.agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
    qt = (
        postings.filter(F.col(id_col).isin([int(i) for i in query_ids]))
        .join(dfreq, "term")
        .crossJoin(F.broadcast(nrow))
        .withColumn("idf_milli", F.expr("(n_docs * 1000) DIV dfq"))
        .withColumn("w", F.col("tf") * F.col("idf_milli"))
    )
    tw = Window.partitionBy(id_col).orderBy(F.desc("w"), "term")
    qterms = (
        qt.withColumn("_trnk", F.row_number().over(tw))
        .filter(F.col("_trnk") <= top_terms)
        .select(F.col(id_col).alias("query_id"), "term", "idf_milli")
    )
    scored = (
        postings.withColumnRenamed(id_col, "cand_id")
        .join(F.broadcast(qterms), "term")
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


def phrase_count_col(toks: Column, terms: list[str]) -> Column:
    """Exact phrase-occurrence count over a token array, fully
    in-row (ES match_phrase with slop=0, counted): the number of
    start positions i where ``toks[i..i+m-1]`` equals the phrase.
    Overlapping occurrences count (each start position is judged
    independently — 'a a a' contains 'a a' twice).

    The start-position list guards the degenerate short-document
    case explicitly: Spark's ``sequence(1, n)`` runs DESCENDING when
    n < 1, so the candidate list is empty-when-short, never [1, 0].
    """
    if not terms:
        raise ValueError("phrase must be non-empty")
    m = len(terms)
    target = F.array(*[F.lit(t) for t in terms])
    starts = F.when(
        F.size(toks) >= m, F.sequence(F.lit(1), F.size(toks) - m + 1)
    ).otherwise(F.array().cast("array<int>"))
    hits = F.filter(starts, lambda i: F.slice(toks, i, m) == target)
    return F.size(hits).cast("long")


def phrase_search(
    df, terms: list[str], id_col: str = "doc_id", text_col: str = "text"
):
    """ES match_phrase analog, corpus-scan form: docs whose token
    stream (WORD_RE = ``\\S+``, the engine-wide analyzer) contains
    the phrase as CONSECUTIVE tokens, with the exact occurrence
    count (phrase frequency — what ES feeds into phrase scoring).

    Scale shape: MAP-ONLY over the corpus scan. Per-term substring
    gates (``text CONTAINS term`` for every phrase term) are plain
    scan-level predicates — a token is always a substring of its
    document, so the gate is a strict superset of the token-adjacency
    match and pushes into the parquet scan; only gated rows pay the
    tokenize + position check. No shuffle at any point — on a
    1000-executor cluster this is one embarrassing-parallel pass.
    """
    gate = None
    for t in terms:
        g = F.col(text_col).contains(t)
        gate = g if gate is None else gate & g
    toks = F.regexp_extract_all(F.col(text_col), F.lit(WORD_RE), F.lit(0))
    return (
        df.filter(gate)
        .select(F.col(id_col), phrase_count_col(toks, terms).alias("phrase_count"))
        .filter(F.col("phrase_count") > 0)
    )


def build_positional_index(df, id_col: str = "doc_id", text_col: str = "text"):
    """Positional postings — (id, term, positions array<int>, dl) — the
    index form that serves PHRASE and proximity queries without
    touching document text (ES stores exactly this: term positions
    per doc). MAP-ONLY like build_text_index: per-row higher-order
    functions compute each distinct term's 1-based position list,
    exploded without any exchange; tf is ``size(positions)``, so
    this index strictly generalizes the (id, term, tf) one. Every
    row carries its document's token count ``dl``, taken in-row
    before the explode, so BM25 reads dl from the posting (as Lucene
    reads norms) instead of joining a doclens table.

    At rest a deployment writes it partitioned/bucketed BY TERM
    (the write_trgm_index layout) so a phrase probe's
    ``term IN (...)`` filter prunes at the file level."""
    toks = df.select(
        F.col(id_col),
        F.regexp_extract_all(F.col(text_col), F.lit(WORD_RE), F.lit(0)).alias(
            "_toks"
        ),
    )
    entries = F.transform(
        F.array_distinct("_toks"),
        lambda t: F.struct(
            t.alias("term"),
            F.filter(
                F.sequence(F.lit(1), F.size("_toks")),
                lambda i: F.element_at("_toks", i) == t,
            ).alias("positions"),
        ),
    )
    return toks.select(
        F.col(id_col), F.size("_toks").alias("dl"), F.explode(entries).alias("_e")
    ).select(
        id_col,
        F.col("_e.term").alias("term"),
        F.col("_e.positions").alias("positions"),
        "dl",
    )


def phrase_search_indexed(
    pindex, terms: list[str], id_col: str = "doc_id"
):
    """ES match_phrase analog served from the PRE-BUILT positional
    index (:func:`build_positional_index`) — bit-equal phrase counts
    to :func:`phrase_search`'s corpus scan (both count every start
    position; the classic positional-intersection algorithm:
    a start at p needs term_j's position list to contain p + j for
    every j, i.e. ``|pos_0 ∩ (pos_1 - 1) ∩ ... ∩ (pos_{m-1} - (m-1))|``).
    Repeated phrase terms need no special casing — each offset list
    is shifted independently.

    Scale shape: the postings scan carries ``term IN (...)`` (file-
    level pruning on a term-partitioned layout — document text is
    never read); ONE partial-agg shuffle of phrase-term rows only
    (m conditional MAXes reassemble the per-doc position lists); the
    intersection is in-row array math on short lists. The corpus
    never moves.
    """
    if not terms:
        raise ValueError("phrase must be non-empty")
    p = pindex.filter(sql_in("term", terms))
    agg = p.groupBy(id_col).agg(
        *[
            F.expr(
                f"max(CASE WHEN (`term` = {sql_string(t)}) THEN `positions` END)"
                f" AS `_p{j}`"
            )
            for j, t in enumerate(terms)
        ]
    )

    def _shift(j: int) -> str:
        # term j's positions moved back by its offset in the phrase
        return f"transform(`_p{j}`, x -> (x - {j}))" if j else "`_p0`"

    inter = reduce(
        lambda a, c: f"array_intersect({a}, {c})", [_shift(j) for j in range(len(terms))]
    )
    present = sql_fold("AND", [f"(`_p{j}` IS NOT NULL)" for j in range(len(terms))])
    return (
        agg.filter(present)
        .selectExpr(sql_ident(id_col), f"CAST(size({inter}) AS BIGINT) AS `phrase_count`")
        .filter("(`phrase_count` > 0)")
    )


def highlight_snippets(
    df,
    term: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    before: int = 30,
    after: int = 30,
    tag: str = "em",
):
    """ES highlight analog (the plain highlighter): for every doc
    containing ``term`` as a substring, the snippet around the FIRST
    occurrence with the hit wrapped in ``<em>...</em>`` —
    ``before``/``after`` characters of context (clamped at the text
    boundaries by substring semantics, identical in Spark and ANSI
    SQL: 1-based start, over-long lengths truncate).

    Scale shape: the CONTAINS gate is a scan-level predicate
    (pushed); everything else is per-row string math — map-only,
    zero shuffle. Returns (id, pos, snippet)."""
    text = F.col(text_col)
    pos = F.locate(term, text)
    start = F.greatest(pos - before, F.lit(1))
    pre = F.substring(text, start, pos - start)
    post = F.substring(text, pos + len(term), F.lit(after))
    snippet = F.concat(
        pre, F.lit(f"<{tag}>"), F.lit(term), F.lit(f"</{tag}>"), post
    )
    return df.filter(text.contains(term)).select(
        F.col(id_col),
        pos.cast("long").alias("pos"),
        snippet.alias("snippet"),
    )


def prefix_suggest(
    df,
    prefix: str,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    postings=None,
):
    """ES completion-suggester analog: vocabulary terms starting
    with ``prefix``, ranked by total corpus frequency (the
    suggester's popularity weight), with document frequency
    alongside; deterministic (freq desc, term asc) top-k.

    Scale shape: per-doc (term, tf) pairs come map-only from
    :func:`build_text_index` (or a persisted ``postings`` frame —
    at rest the STARTSWITH filter prunes a term-partitioned layout);
    the prefix filter cuts before the ONE term-keyed partial-agg
    shuffle; top-k is a partial TakeOrdered. Document frequency
    falls out of the same aggregate (postings hold one row per
    (doc, term)), so no distinct-expand.

    Returns (term, freq, df_docs, rnk)."""
    from pyspark.sql import Window

    if postings is None:
        postings, _ = build_text_index(df, id_col, text_col)
    p = postings.filter(F.col("term").startswith(prefix))
    agg = p.groupBy("term").agg(
        F.sum("tf").cast("long").alias("freq"),
        F.count(F.lit(1)).cast("long").alias("df_docs"),
    )
    return (
        agg.orderBy(F.desc("freq"), F.asc("term"))
        .limit(k)
        .withColumn(
            "rnk",
            F.row_number()
            .over(Window.orderBy(F.desc("freq"), F.asc("term")))
            .cast("long"),
        )
    )


def span_near_search(
    pindex, terms: list[str], slop: int = 0, id_col: str = "doc_id"
):
    """ES span_near (in_order=true) analog over the positional index
    (:func:`build_positional_index`): docs where the terms appear IN
    ORDER within a window of ``len(terms) - 1 + slop`` positions.
    ``n_spans`` counts qualifying start positions under the
    EARLIEST-NEXT chain: from a start p, each following term takes
    its smallest position greater than the previous — the greedy
    continuation minimizes the chain's end position, so a start
    matches iff its greedy chain fits the window (exact for the
    windowed-ordered-occurrence semantics; slop=0 degenerates to
    exact phrase adjacency, pinned by test against phrase_search).

    Scale shape: identical to the phrase probe — term IN (...)
    prunes the postings at rest, ONE doc-keyed partial-agg pivot of
    phrase-term rows only, then the chain is in-row array math over
    short position lists (nested higher-order functions; NULL
    propagation ends broken chains in both engines identically).
    The corpus never moves."""
    if not terms:
        raise ValueError("span phrase must be non-empty")
    k = len(terms)
    p = pindex.filter(F.col("term").isin(list(terms)))
    agg = p.groupBy(id_col).agg(
        *[
            F.max(F.when(F.col("term") == t, F.col("positions"))).alias(f"_p{j}")
            for j, t in enumerate(terms)
        ]
    )
    window = k - 1 + int(slop)

    def _after(arr: Column, prev: Column) -> Column:
        # NB: closure, never a default-arg lambda — F.filter would
        # read a two-parameter lambda as the (element, index) form
        return F.array_min(F.filter(arr, lambda q: q > prev))

    def _chain_fits(start):
        e = start
        for j in range(1, k):
            e = _after(F.col(f"_p{j}"), e)
        # a broken chain leaves e NULL; NULL <= window is NULL and the
        # outer filter drops it — same three-valued logic as the oracle
        return (e - start) <= window if k > 1 else F.lit(True)

    present = None
    for j in range(k):
        nn = F.col(f"_p{j}").isNotNull()
        present = nn if present is None else present & nn
    starts = F.filter(F.col("_p0"), _chain_fits)
    return (
        agg.filter(present)
        .select(F.col(id_col), F.size(starts).cast("long").alias("n_spans"))
        .filter(F.col("n_spans") > 0)
    )


def span_first_search(
    pindex,
    terms: list[str],
    end: int,
    slop: int = 0,
    id_col: str = "doc_id",
):
    """ES ``span_first`` analog (round 12 — §2H span-family
    completion): the wrapped span (a single term, or the span_near
    in-order windowed chain for multiple terms) must END within the
    document's first ``end`` token positions (1-based inclusive —
    the span's LAST matched position <= end; ES's boundary on the
    span end). ``n_spans`` counts qualifying starts under the same
    greedy earliest-next chain as :func:`span_near_search` — the
    greedy continuation minimizes the chain's end, so a start
    qualifies iff its minimal chain both fits the slop window and
    ends inside the boundary (exact, same argument as span_near).

    The deployment query: "title-zone match" — a term or phrase
    appearing in a document's opening tokens, on a corpus that
    stores no separate title field.

    Scale shape: identical to span_near — pruned postings probe, one
    doc-keyed pivot of span-term rows, in-row array math; the corpus
    never moves."""
    if not terms:
        raise ValueError("span phrase must be non-empty")
    if end < 1:
        raise ValueError(f"end must be >= 1, got {end}")
    k = len(terms)
    p = pindex.filter(F.col("term").isin(list(terms)))
    agg = p.groupBy(id_col).agg(
        *[
            F.max(F.when(F.col("term") == t, F.col("positions"))).alias(f"_p{j}")
            for j, t in enumerate(terms)
        ]
    )
    window = k - 1 + int(slop)

    def _after(arr: Column, prev: Column) -> Column:
        return F.array_min(F.filter(arr, lambda q: q > prev))

    def _qualifies(start):
        e = start
        for j in range(1, k):
            e = _after(F.col(f"_p{j}"), e)
        fits = (e - start) <= window if k > 1 else F.lit(True)
        # a broken chain leaves e NULL; NULL gates drop identically
        # in both engines (three-valued logic)
        return fits & (e <= F.lit(int(end)))

    present = None
    for j in range(k):
        nn = F.col(f"_p{j}").isNotNull()
        present = nn if present is None else present & nn
    starts = F.filter(F.col("_p0"), _qualifies)
    return (
        agg.filter(present)
        .select(F.col(id_col), F.size(starts).cast("long").alias("n_spans"))
        .filter(F.col("n_spans") > 0)
    )


def span_not_search(
    pindex,
    include: list[str],
    exclude: list[str],
    slop: int = 0,
    exclude_slop: int = 0,
    pre: int = 0,
    post: int = 0,
    id_col: str = "doc_id",
):
    """ES ``span_not`` analog (round 12 — §2H span-family
    completion): count the INCLUDE spans (the span_near in-order
    windowed chain over ``include``, slop ``slop``) that do NOT
    overlap any EXCLUDE span (the same chain shape over ``exclude``,
    slop ``exclude_slop``), with the overlap zone widened by ES's
    ``pre``/``post`` tokens around the include span — the
    "match 'slow hash' except inside 'slow hash collision'"
    deployment. Both chain sets use the greedy earliest-next
    continuation (the span_near exactness argument: greedy minimizes
    each chain's end, and the overlap predicate is monotone in the
    end position only through the fits-window gate, which greedy
    decides exactly).

    Returns (id, n_spans) with n_spans > 0 — docs whose every
    include span is excluded drop out, matching ES's hit semantics.
    A doc with no exclude-term postings keeps all include spans
    (empty exclusion set, the left-join shape).

    Scale shape: one pruned postings probe covers include + exclude
    terms, ONE doc-keyed pivot of span-term rows, then pure in-row
    array math over short position lists — the corpus never moves.
    """
    if not include or not exclude:
        raise ValueError("span_not needs include and exclude terms")
    inc, exc = list(include), list(exclude)
    overlap = set(inc) & set(exc)
    if overlap:
        raise ValueError(
            f"terms shared between include and exclude: {sorted(overlap)}"
        )
    if pre < 0 or post < 0:
        raise ValueError("pre/post must be >= 0")
    ki, ke = len(inc), len(exc)
    p = pindex.filter(F.col("term").isin(inc + exc))
    agg = p.groupBy(id_col).agg(
        *[
            F.max(F.when(F.col("term") == t, F.col("positions"))).alias(f"_p{j}")
            for j, t in enumerate(inc)
        ],
        *[
            F.max(F.when(F.col("term") == t, F.col("positions"))).alias(f"_q{j}")
            for j, t in enumerate(exc)
        ],
    )
    w_inc = ki - 1 + int(slop)
    w_exc = ke - 1 + int(exclude_slop)

    def _after(arr: Column, prev: Column) -> Column:
        return F.array_min(F.filter(arr, lambda q: q > prev))

    def _chain_end(start, cols: list[str]):
        e = start
        for name in cols[1:]:
            e = _after(F.col(name), e)
        return e

    inc_cols = [f"_p{j}" for j in range(ki)]
    exc_cols = [f"_q{j}" for j in range(ke)]
    # exclude spans as (start, end) structs: greedy chains over the
    # exclude terms that fit their window; an absent exclude posting
    # leaves _q0 NULL -> empty exclusion set
    exc_spans = F.filter(
        F.transform(
            F.coalesce(F.col("_q0"), F.array().cast("array<int>")),
            lambda s2: F.struct(
                s2.alias("s"), _chain_end(s2, exc_cols).alias("e")
            ),
        ),
        lambda sp: (sp["e"] - sp["s"]) <= F.lit(w_exc),
    )

    def _qualifies(start):
        e = _chain_end(start, inc_cols)
        fits = (e - start) <= w_inc if ki > 1 else F.lit(True)
        clash = F.exists(
            exc_spans,
            lambda sp: (sp["s"] <= e + F.lit(int(post)))
            & (sp["e"] >= start - F.lit(int(pre))),
        )
        return fits & ~clash

    present = None
    for name in inc_cols:
        nn = F.col(name).isNotNull()
        present = nn if present is None else present & nn
    starts = F.filter(F.col("_p0"), _qualifies)
    return (
        agg.filter(present)
        .select(F.col(id_col), F.size(starts).cast("long").alias("n_spans"))
        .filter(F.col("n_spans") > 0)
    )


def bm25_rescore_phrase(
    df,
    terms: list[str],
    window_size: int = 50,
    k: int = 10,
    phrase_weight: float = 1000.0,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """ES ``rescore`` analog (round 10 — two-phase ranking): the
    cheap BM25 query ranks everything, the expensive match_phrase of
    the SAME terms re-scores only the top ``window_size`` hits —
    ES's canonical proximity-rescore deployment:
    ``score = bm25 + n_phrase * phrase_weight`` inside the window,
    reordered, top-k. One multiply + one add on the bit-exact BM25
    double, so the whole two-phase pipeline value-hashes.

    Scale shape: phase 1 is bm25_rank's TakeOrdered (corpus-wide but
    cheap); phase 2 joins TEXT back for the window rows ONLY (a
    window_size-row broadcast side — the expensive position math is
    paid by <= window_size docs regardless of corpus size, which is
    the entire point of ES's rescore window).

    Returns (id_col, score_first, n_phrase, score)."""
    first = bm25_rank(df, terms, id_col=id_col, text_col=text_col, k=window_size)
    toks = F.regexp_extract_all(F.col(text_col), F.lit(WORD_RE), F.lit(0))
    joined = df.select(F.col(id_col), F.col(text_col)).join(
        F.broadcast(first.withColumnRenamed("score", "score_first")), id_col
    )
    n_phrase = phrase_count_col(toks, terms)
    return (
        joined.select(
            F.col(id_col),
            "score_first",
            n_phrase.alias("n_phrase"),
            (
                F.col("score_first")
                + n_phrase.cast("double") * F.lit(float(phrase_weight))
            ).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )
