"""Text-analysis function unit tests (north-star: lang-id, quality,
fingerprints) on handcrafted multilingual samples."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from irclogbot_spark.functions.text import (
    lang_id,
    punct_ratio,
    rolling_fingerprint,
    stopword_hits,
    token_count,
)

SAMPLES = [
    (1, "the cat sat on the mat and it is warm in the sun", "en"),
    (2, "der hund ist nicht klein und die katze ist auf dem dach", "de"),
    (3, "le chat est dans la maison et il est pour les amis", "fr"),
    (4, "el perro es grande y la casa es blanca por la noche", "es"),
    (5, "zzz qqq xxx www", "und"),
]


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(
        [(i, t) for i, t, _ in SAMPLES], "doc_id long, text string"
    )


def test_lang_id_on_handcrafted_samples(spark, df):
    got = {r.doc_id: r.lang for r in df.select("doc_id", lang_id("text").alias("lang")).collect()}
    for i, _, want in SAMPLES:
        assert got[i] == want, f"doc {i}: {got[i]} != {want}"


def test_stopword_hits_counts(spark, df):
    r = df.filter(F.col("doc_id") == 1).select(stopword_hits("text", "en").alias("h")).first()
    assert r.h >= 4  # the x3, and, it, is, in


def test_token_count_and_punct_ratio(spark):
    d = spark.createDataFrame([("Hello, world! How are you?",)], "text string")
    r = d.select(
        token_count("text").alias("t"), punct_ratio("text").alias("p")
    ).first()
    assert r.t == 5
    assert 0 < r.p < 0.2


def test_rolling_fingerprint_is_order_sensitive(spark):
    d = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma beta alpha"), (3, "alpha beta gamma"), (4, "")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.f for r in d.select("doc_id", rolling_fingerprint("text").alias("f")).collect()}
    assert got[1] == got[3]
    assert got[1] != got[2]  # transposition changes the value (unlike md5-of-set)
    assert got[4] == 0


def test_bm25_ranks_term_density_over_length(spark):
    from irclogbot_spark.functions.text import bm25_rank

    docs = spark.createDataFrame(
        [
            (1, "data data data systems"),          # dense in 'data'
            (2, "data systems and other things entirely unrelated to it"),
            (3, "nothing relevant here at all"),
            (4, "data " * 2 + "padding " * 50),     # long doc, diluted
        ],
        "doc_id long, text string",
    )
    out = bm25_rank(docs, ["data"], k=4).collect()
    ranks = [r.doc_id for r in out]
    scores = {r.doc_id: r.score for r in out}
    assert ranks[0] == 1, ranks                  # highest density wins
    assert scores[3] == 0.0                      # no term -> zero score
    assert scores[1] > scores[4]                 # length normalization bites


@pytest.mark.parametrize("k1,b", [(1.2, 1.0), (0.0, 0.75)])
def test_bm25_empty_doc_scores_zero_at_degenerate_params(spark, k1, b):
    """At b=1.0 (or k1=0) an empty doc's BM25 denominator
    tf + k1 * (1 - b + b * dl / avgdl) is 0 at tf=0; under the
    engine's pinned ANSI mode that division raised DIVIDE_BY_ZERO and
    failed the query. A missing term scores 0.0 instead, in the scan
    and the indexed form alike; so does a doc with NULL text."""
    from irclogbot_spark.functions.text import (
        bm25_rank,
        bm25_rank_indexed,
        build_text_index,
    )

    docs = spark.createDataFrame(
        [(1, "data data systems"), (2, ""), (3, "systems only"), (4, "data"), (5, None)],
        "doc_id long, text string",
    )
    scan = [(r.doc_id, r.score) for r in bm25_rank(docs, ["data"], k=5, k1=k1, b=b).collect()]
    scores = dict(scan)
    assert scores[2] == 0.0 and scores[3] == 0.0 and scores[5] == 0.0
    assert scores[1] > 0.0 and scores[4] > 0.0
    postings, doclens = build_text_index(docs)
    indexed = [
        (r.doc_id, r.score)
        for r in bm25_rank_indexed(postings, doclens, ["data"], k=5, k1=k1, b=b).collect()
    ]
    assert indexed == [row for row in scan if row[1] > 0.0]


def test_tfidf_topk_ranks_rare_terms_over_common(spark):
    """A term appearing in every doc (idf = N/N = 1) must rank below
    an equally-frequent term unique to one doc (idf = N); ranks are
    1-based, per-doc, ties broken on the term string."""
    from irclogbot_spark.functions.text import tfidf_topk

    rows = [
        (1, "common rare1 common common"),
        (2, "common filler filler common"),
        (3, "common words words words"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = tfidf_topk(df, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    top1 = {d: rs[0] for d, rs in by_doc.items()}
    # doc 1: rare1 (tf=1, df=1 -> score 3) beats common (tf=3, df=3 -> score 3)?
    # common: 3*3/3=3.0 == rare1: 1*3/1=3.0 -- tie broken on term: "common" < "rare1"
    assert [r.rank for r in by_doc[1]] == [1, 2]
    assert {r.term for r in by_doc[1]} == {"common", "rare1"}
    # doc 2: filler tf=2 df=1 -> 6.0 beats common tf=2 df=3 -> 2.0
    assert top1[2].term == "filler" and top1[2].score == 6.0
    # doc 3: words tf=3 df=1 -> 9.0
    assert top1[3].term == "words" and top1[3].score == 9.0
    with pytest.raises(ValueError):
        tfidf_topk(df, k=0)


def test_normalize_text_canonicalizes_byte_variants(spark):
    from irclogbot_spark.functions.text import normalize_text
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            ("Hello,  World!",),
            ("hello world",),
            ("  HELLO -- world??  ",),
            ("",),
        ],
        ["t"],
    ).select(normalize_text("t").alias("n"))
    got = [r["n"] for r in df.collect()]
    assert got[0] == got[1] == got[2] == "hello world"
    assert got[3] == ""


def test_normalized_dedup_merges_variants_raw_dedup_does_not(spark):
    from irclogbot_spark.functions.text import normalize_text
    from irclogbot_spark.operators.dedup import exact_dedup
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(1, "the cat sat"), (2, "The  cat SAT!"), (3, "a different doc")],
        ["doc_id", "text"],
    )
    raw = exact_dedup(docs)
    assert raw.count() == 3  # byte-distinct -> raw dedup keeps all
    normed = exact_dedup(
        docs.withColumn("_n", normalize_text("text")), text_col="_n"
    )
    assert sorted(r["doc_id"] for r in normed.collect()) == [1, 3]


def test_tokenize_inline_equals_join_form(spark):
    from irclogbot_spark.functions.text import (
        tokenize_with_vocab,
        tokenize_with_vocab_inline,
    )

    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "dog unknown words"), (3, "")],
        ["doc_id", "text"],
    )
    # duplicate term rows on purpose: both forms must collapse to MIN rank
    vocab = spark.createDataFrame(
        [(1, "the"), (2, "cat"), (3, "dog"), (7, "the")], ["rank", "term"]
    )
    a = tokenize_with_vocab(docs, vocab).orderBy("doc_id").collect()
    b = tokenize_with_vocab_inline(docs, vocab).orderBy("doc_id").collect()
    for x, y in zip(a, b):
        assert x["doc_id"] == y["doc_id"]
        assert list(x["token_ids"]) == list(y["token_ids"])
        assert x["n_tokens"] == y["n_tokens"] and x["n_oov"] == y["n_oov"]


def test_tokenize_inline_unk_id_validation(spark):
    from irclogbot_spark.functions.text import tokenize_with_vocab_inline
    import pytest

    with pytest.raises(ValueError):
        tokenize_with_vocab_inline(None, None, unk_id=1)


def test_fuzzy_and_mlt_served_from_the_shared_text_index(spark):
    """Round 9: ONE materialized text index (build_text_index's
    postings) answers BM25, fuzzy, and more-like-this — the indexed
    forms must equal the inline corpus-scan forms row for row."""
    from irclogbot_spark.functions.text import build_text_index, more_like_this
    from irclogbot_spark.operators.editdist import fuzzy_term_search

    docs = spark.createDataFrame(
        [
            (0, "spark shuffle table merge window"),
            (1, "spark spark batch value sort"),
            (2, "window table hash merge merge"),
            (3, "totally unrelated words here"),
        ],
        "doc_id long, text string",
    )
    postings, _ = build_text_index(docs)
    postings = postings.localCheckpoint(eager=True)

    terms = ["spack", "merge", "windos"]
    inline_f = {(r.term, r.doc_id) for r in fuzzy_term_search(docs, terms).collect()}
    indexed_f = {
        (r.term, r.doc_id)
        for r in fuzzy_term_search(docs, terms, postings=postings).collect()
    }
    assert inline_f == indexed_f
    assert ("spack", 0) in inline_f and ("spack", 1) in inline_f

    inline_m = {
        tuple(r) for r in more_like_this(docs, [0], top_terms=3, k=3).collect()
    }
    indexed_m = {
        tuple(r)
        for r in more_like_this(
            docs, [0], top_terms=3, k=3, postings=postings
        ).collect()
    }
    assert inline_m == indexed_m and len(inline_m) > 0


def test_trgm_stream_index_rejects_rebucketing(spark, tmp_path):
    """streaming/trgmindex.py: ingesting with a different n_buckets
    than the index was created with must raise, not silently mix
    bucketings."""
    import pytest

    from irclogbot_spark.streaming import trgmindex as TI

    docs = spark.createDataFrame([(1, "alpha beta")], "doc_id long, text string")
    TI.trgm_ingest_batch(docs, 0, str(tmp_path / "idx"), n_buckets=8)
    with pytest.raises(ValueError, match="n_buckets"):
        TI.trgm_ingest_batch(docs, 1, str(tmp_path / "idx"), n_buckets=16)


def test_phrase_search_inline_vs_indexed_and_edges(spark):
    """functions/text.py phrase ops: overlapping occurrences count
    once per start position, repeated phrase terms work, the indexed
    probe is bit-equal to the corpus scan, and short/empty docs never
    trip the sequence(1, 0) descending trap."""
    from irclogbot_spark.functions.text import (
        build_positional_index,
        phrase_search,
        phrase_search_indexed,
    )

    docs = spark.createDataFrame(
        [
            (1, "a a a b"),
            (2, "slow hash batch slow hash batch x"),
            (3, "slow  hash\tbatch"),  # any-whitespace tokenizer
            (4, "hash slow batch"),  # right terms, wrong order
            (5, ""),
            (6, "slow hash"),  # shorter than the phrase
        ],
        "doc_id long, text string",
    )
    pidx = build_positional_index(docs).localCheckpoint(eager=True)

    phrase = ["slow", "hash", "batch"]
    inline = {(r.doc_id, r.phrase_count) for r in phrase_search(docs, phrase).collect()}
    indexed = {
        (r.doc_id, r.phrase_count)
        for r in phrase_search_indexed(pidx, phrase).collect()
    }
    assert inline == {(2, 2), (3, 1)}
    assert indexed == inline

    # repeated term: 'a a a' contains 'a a' at starts 1 and 2
    rep = ["a", "a"]
    inline_r = {(r.doc_id, r.phrase_count) for r in phrase_search(docs, rep).collect()}
    indexed_r = {
        (r.doc_id, r.phrase_count) for r in phrase_search_indexed(pidx, rep).collect()
    }
    assert inline_r == {(1, 2)}
    assert indexed_r == inline_r


def test_highlight_snippets_boundaries(spark):
    """functions/text.py highlight_snippets: first occurrence only,
    <em> wrapping, and clamping at both text boundaries."""
    from irclogbot_spark.functions.text import highlight_snippets

    docs = spark.createDataFrame(
        [
            (1, "merge at the very start of this line"),
            (2, "x" * 50 + " merge " + "y" * 50),
            (3, "ends with merge"),
            (4, "no hit here"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.pos, r.snippet) for r in highlight_snippets(docs, "merge").collect()}
    assert set(got) == {1, 2, 3}
    assert got[1][0] == 1 and got[1][1].startswith("<em>merge</em> at the")
    pos2, snip2 = got[2]
    assert pos2 == 52
    assert snip2 == "x" * 29 + " <em>merge</em> " + "y" * 29
    assert got[3][1].endswith("<em>merge</em>")


def test_prefix_suggest_ranking(spark):
    """functions/text.py prefix_suggest: corpus-frequency ranking
    with doc frequency from the same aggregate, deterministic ties."""
    from irclogbot_spark.functions.text import prefix_suggest

    docs = spark.createDataFrame(
        [
            (1, "spark spark sort"),
            (2, "spark sort scan other"),
            (3, "scan table"),
        ],
        "doc_id long, text string",
    )
    rows = prefix_suggest(docs, "s", k=10).collect()
    assert [(r.term, r.freq, r.df_docs, r.rnk) for r in rows] == [
        ("spark", 3, 2, 1),
        ("scan", 2, 2, 2),
        ("sort", 2, 2, 3),
    ]


def test_span_near_semantics_and_phrase_degeneration(spark):
    """functions/text.py span_near_search: in-order window matching
    with the greedy earliest-next chain; slop=0 equals phrase
    adjacency counts exactly; out-of-order and over-window misses."""
    from irclogbot_spark.functions.text import (
        build_positional_index,
        phrase_search,
        span_near_search,
    )

    docs = spark.createDataFrame(
        [
            (1, "slow hash batch"),  # adjacent
            (2, "slow x hash y batch"),  # gaps 2+2 -> window 4 hits slop>=2
            (3, "batch hash slow"),  # wrong order
            (4, "slow x x x hash batch"),  # span 5 > window 4
            (5, "slow hash slow hash batch"),  # adjacent hit at 3..5
            #    plus a slop-2 start at 1 (1 -> 2 -> 5, span 4)
            (6, "a a a b"),
        ],
        "doc_id long, text string",
    )
    pidx = build_positional_index(docs).localCheckpoint(eager=True)
    phrase = ["slow", "hash", "batch"]

    slop0 = {(r.doc_id, r.n_spans) for r in span_near_search(pidx, phrase, 0).collect()}
    ph = {
        (r.doc_id, r.phrase_count) for r in phrase_search(docs, phrase).collect()
    }
    assert slop0 == ph == {(1, 1), (5, 1)}

    slop2 = {(r.doc_id, r.n_spans) for r in span_near_search(pidx, phrase, 2).collect()}
    # doc 2: span 1->3->5 = window 4 (= 2 + slop 2) fits; doc 4's
    # chain spans 5 (misses); doc 5: start 1 chains 1->2->5 (span 4,
    # fits), start 3 chains 3->4->5 (adjacent)
    assert slop2 == {(1, 1), (2, 1), (5, 2)}

    # repeated-term phrase through the same machinery
    rep = {(r.doc_id, r.n_spans) for r in span_near_search(pidx, ["a", "a"], 0).collect()}
    assert rep == {(6, 2)}


def test_at_rest_text_index_serves_all_query_types(spark, tmp_path):
    """operators/textindex.py: one written artifact serves phrase,
    span, BM25, and suggest with the same answers as the inline
    forms, and a literal-term probe prunes at the partition level
    (PartitionFilters on term_bkt)."""
    import re

    from irclogbot_spark.functions.text import (
        bm25_rank,
        bm25_rank_indexed,
        phrase_search,
        phrase_search_indexed,
        prefix_suggest,
        span_near_search,
    )
    from irclogbot_spark.operators.textindex import (
        postings_tf,
        probe_postings,
        read_text_index,
        write_text_index,
    )

    docs = spark.createDataFrame(
        [
            (1, "slow hash batch slow hash batch"),
            (2, "slow  hash\tbatch extra words here"),
            (3, "hash slow batch"),
            (4, "the data the data spark"),
            (5, "spark sort scan"),
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "tidx")
    write_text_index(docs, path, n_buckets=8)
    pidx, lens, nb = read_text_index(spark, path)
    assert nb == 8

    phrase = ["slow", "hash", "batch"]
    probed = probe_postings(pidx, phrase, nb)
    want_ph = {
        (r.doc_id, r.phrase_count) for r in phrase_search(docs, phrase).collect()
    }
    got_ph = {
        (r.doc_id, r.phrase_count)
        for r in phrase_search_indexed(probed, phrase).collect()
    }
    assert got_ph == want_ph == {(1, 2), (2, 1)}
    # the literal bucket list lands as storage-level PartitionFilters
    plan = (
        phrase_search_indexed(probed, phrase)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    pf = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert any("term_bkt" in m for m in pf), plan[:2000]

    got_sn = {
        (r.doc_id, r.n_spans)
        for r in span_near_search(probed, phrase, slop=1).collect()
    }
    # doc 3 ('hash slow batch') has no in-order chain from 'slow'
    assert got_sn == {(1, 2), (2, 1)}

    # k=1: an inverted index only sees docs with >= 1 hit (the
    # documented bm25_rank_indexed contract), so compare the hit
    terms = ["the", "data"]
    want_bm = bm25_rank(docs, terms, k=1).collect()
    got_bm = bm25_rank_indexed(
        postings_tf(probe_postings(pidx, terms, nb)), lens, terms, k=1
    ).collect()
    assert [tuple(r) for r in got_bm] == [tuple(r) for r in want_bm]
    assert want_bm[0].doc_id == 4

    want_sg = prefix_suggest(docs, "s", k=5).collect()
    got_sg = prefix_suggest(
        docs, "s", k=5, postings=postings_tf(pidx)
    ).collect()
    assert [tuple(r) for r in got_sg] == [tuple(r) for r in want_sg]


def test_bm25_rescore_reorders_within_window_only(spark):
    """functions/text.py bm25_rescore_phrase (round 10): the final
    hits are drawn ONLY from the first-phase top-window (ES's
    rescore contract — a doc outside the window can never enter),
    phrase hits outrank phraseless docs of similar BM25, and with
    phrase_weight=0 the output equals plain BM25 top-k."""
    from irclogbot_spark.functions.text import bm25_rank, bm25_rescore_phrase
    from irclogbot_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    terms = ["the", "data"]
    window = {r.doc_id for r in bm25_rank(docs, terms, k=20).collect()}
    out = bm25_rescore_phrase(docs, terms, window_size=20, k=5).collect()
    assert {r.doc_id for r in out} <= window
    assert out == sorted(out, key=lambda r: (-r.score, r.doc_id))
    zero = bm25_rescore_phrase(
        docs, terms, window_size=20, k=5, phrase_weight=0.0
    ).collect()
    plain = bm25_rank(docs, terms, k=5).collect()
    assert [(r.doc_id, r.score) for r in zero] == [
        (r.doc_id, r.score) for r in plain
    ]


def test_bm25_search_after_atrest_keyset_pagination(spark, tmp_path):
    """operators/textindex.py bm25_search_after_atrest (round 11):
    page 1 and the cursor-cut page 2 are disjoint, their union is
    the top-(2k) of the same ranking, order within each page is
    (score desc, id asc), and BOTH pages compile to
    TakeOrderedAndProject — never a global sort, never an offset."""
    from irclogbot_spark.functions.text import bm25_rank_indexed
    from irclogbot_spark.operators.textindex import (
        bm25_search_after_atrest,
        last_sort_values,
        postings_tf,
        probe_postings,
        read_text_index,
        write_text_index,
    )

    docs = spark.createDataFrame(
        [(i, "the data " + "data " * (i % 7) + "filler " * (i % 3))
         for i in range(40)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "tidx_sa")
    write_text_index(docs, path, n_buckets=8)
    terms = ["the", "data"]

    page1 = bm25_search_after_atrest(spark, path, terms, k=10)
    page2 = bm25_search_after_atrest(
        spark, path, terms, k=10, after=last_sort_values(page1)
    )
    r1 = [tuple(r) for r in page1.collect()]
    r2 = [tuple(r) for r in page2.collect()]
    assert len(r1) == 10 and len(r2) == 10
    assert not ({x[0] for x in r1} & {x[0] for x in r2})

    pidx, lens, nb = read_text_index(spark, path)
    top20 = [
        tuple(r)
        for r in bm25_rank_indexed(
            postings_tf(probe_postings(pidx, terms, nb)), lens, terms, k=20
        ).collect()
    ]
    assert r1 + r2 == top20

    # ES literal-cursor form: the same page 2 from the previous
    # page's last sort values passed as plain values
    cs, cid = r1[-1][1], r1[-1][0]
    r2_lit = [
        tuple(r)
        for r in bm25_search_after_atrest(
            spark, path, terms, k=10, after=(cs, cid)
        ).collect()
    ]
    assert r2_lit == r2

    for df in (page1, page2):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan, plan[:2000]


def test_fuzzy_atrest_max_expansions_top_frequency_rewrite(spark, tmp_path):
    """fuzzy_term_search_atrest (round 11, VERDICT r10 wrong #3):
    the default max_expansions=50 bounds the dictionary collect;
    an explicit cap keeps exactly the N matched types with the
    highest df (ties: term asc) — ES's top-frequency rewrite. Types
    'cat' (df 3) / 'bat' (df 2) / 'hat' (df 1) all match probe 'cat'
    at distance <= 1; cap=2 must keep cat+bat and drop hat's docs."""
    import inspect

    from irclogbot_spark.operators.textindex import (
        fuzzy_term_search_atrest,
        write_text_index,
    )

    sig = inspect.signature(fuzzy_term_search_atrest)
    assert sig.parameters["max_expansions"].default == 50

    docs = spark.createDataFrame(
        [
            (1, "cat"), (2, "cat"), (3, "cat"),
            (4, "bat"), (5, "bat"),
            (6, "hat"),
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "tidx_fz")
    write_text_index(docs, path, n_buckets=8)

    capped = {
        (r.term, r.doc_id)
        for r in fuzzy_term_search_atrest(
            spark, path, ["cat"], max_dist=1, max_expansions=2
        ).collect()
    }
    assert capped == {("cat", 1), ("cat", 2), ("cat", 3), ("cat", 4), ("cat", 5)}

    full = {
        (r.term, r.doc_id)
        for r in fuzzy_term_search_atrest(
            spark, path, ["cat"], max_dist=1, max_expansions=None
        ).collect()
    }
    assert full == capped | {("cat", 6)}


def test_prefix_suggest_atrest_take_ordered_not_global_sort(spark, tmp_path):
    """prefix_suggest_atrest (round 11, ADVICE r10): the dictionary
    cut compiles to TakeOrderedAndProject (partial top-k), with the
    rank window running over the <= k surviving rows — not a
    row_number over an unpartitioned window applied to every
    prefix-matching vocab row."""
    from irclogbot_spark.operators.textindex import (
        prefix_suggest_atrest,
        write_text_index,
    )

    docs = spark.createDataFrame(
        [(i, f"spark sort scan s{i % 5}") for i in range(20)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "tidx_sg")
    write_text_index(docs, path, n_buckets=8)
    df = prefix_suggest_atrest(spark, path, "s", k=3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    rows = [tuple(r) for r in df.collect()]
    assert len(rows) == 3
    assert [r[3] for r in rows] == [1, 2, 3]
    freqs = [r[1] for r in rows]
    assert freqs == sorted(freqs, reverse=True)


def test_bool_search_clause_semantics(spark):
    """operators/boolquery.py (round 11 — the ES bool query): must
    gates + scores, should scores + counts toward
    minimum_should_match, filter (dl range) and must_not gate
    without scoring, and the score equals the fixed-order sum of the
    same per-term BM25 contributions bm25_rank assembles."""
    from irclogbot_spark.functions.text import bm25_rank
    from irclogbot_spark.operators.boolquery import bool_search

    docs = spark.createDataFrame(
        [
            (1, "data spark merge x y z"),      # must+both should
            (2, "data spark a b c d"),          # must+1 should
            (3, "data x y z w v"),              # must, 0 should
            (4, "spark merge a b c d"),         # no must
            (5, "data spark dup a b c"),        # must_not hit
            (6, "data merge " + "pad " * 200),  # dl out of range
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.score, r.n_should)
        for r in bool_search(
            docs,
            must=["data"],
            should=["spark", "merge"],
            must_not=["dup"],
            minimum_should_match=1,
            dl_between=(3, 50),
            k=10,
        ).collect()
    }
    assert set(got) == {1, 2}
    assert got[1][1] == 2 and got[2][1] == 1
    # score additivity: the three-term bm25 ranking over the SAME
    # corpus assigns each doc the identical fixed-order sum (its
    # gates differ, its arithmetic must not)
    ref = {
        r.doc_id: r.score
        for r in bm25_rank(docs, ["data", "spark", "merge"], k=10).collect()
    }
    assert got[1][0] == ref[1] and got[2][0] == ref[2]
    # ES msm default: 0 when a must clause exists -> doc 3 admitted
    with_default = {
        r.doc_id
        for r in bool_search(
            docs,
            must=["data"],
            should=["spark", "merge"],
            must_not=["dup"],
            dl_between=(3, 50),
        ).collect()
    }
    assert with_default == {1, 2, 3}


def test_bool_search_atrest_bit_equal_and_bucket_pruned(spark, tmp_path):
    """bool_search_atrest (round 11): bit-identical rows to the scan
    form from ONE bucket-pruned postings probe (term_bkt
    PartitionFilters cover all referenced terms, must_not
    included)."""
    import re as _re

    from irclogbot_spark.operators.boolquery import (
        bool_search,
        bool_search_atrest,
    )
    from irclogbot_spark.operators.textindex import write_text_index

    docs = spark.createDataFrame(
        [
            (i, ("data " * (1 + i % 3))
             + ("spark " if i % 2 == 0 else "scan ")
             + ("merge " if i % 5 == 0 else "")
             + ("dup " if i % 11 == 0 else "")
             + "tail words here")
            for i in range(60)
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "tidx_bool")
    write_text_index(docs, path, n_buckets=8)
    kw = dict(
        must=["data"],
        should=["spark", "merge"],
        must_not=["dup"],
        minimum_should_match=1,
        dl_between=(3, 50),
        k=10,
    )
    want = [tuple(r) for r in bool_search(docs, **kw).collect()]
    at = bool_search_atrest(spark, path, **kw)
    got = [tuple(r) for r in at.collect()]
    assert got == want and len(got) > 0
    plan = at._jdf.queryExecution().executedPlan().toString()
    pf = _re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert any("term_bkt" in m for m in pf), plan[:2000]
    assert "TakeOrderedAndProject" in plan


def test_dis_max_scoring_and_atrest_twin(spark, tmp_path):
    """dis_max (round 11 — operators/boolquery.py): score =
    max(per-term BM25) + tie_breaker * (sum - max). tie_breaker=0
    is pure best-of (equals the max of the per-term scores);
    tie_breaker=1 equals the bool should-sum; the at-rest twin is
    bit-identical and bucket-pruned."""
    import re as _re

    from irclogbot_spark.operators.boolquery import (
        bool_search,
        dis_max_search,
        dis_max_search_atrest,
    )
    from irclogbot_spark.operators.textindex import write_text_index

    docs = spark.createDataFrame(
        [
            (i, ("scan " * (1 + i % 4))
             + ("merge " if i % 2 == 0 else "sort ")
             + ("vector " if i % 3 == 0 else "")
             + "pad words x y")
            for i in range(40)
        ],
        "doc_id long, text string",
    )
    terms = ["scan", "merge", "vector"]
    # tie_breaker=1.0 degenerates to the additive should-sum: same
    # scores as a bool query with only should clauses (msm=1)
    tb1 = {
        r.doc_id: r.score
        for r in dis_max_search(docs, terms, tie_breaker=1.0, k=40).collect()
    }
    should = {
        r.doc_id: r.score
        for r in bool_search(
            docs, should=terms, minimum_should_match=1, k=40
        ).collect()
    }
    assert tb1 == should
    # tie_breaker=0.0: pure best-of — every returned score must
    # equal one of the doc's per-term scores, and ordering by the
    # discounted formula must change vs tb=1 for some doc pair
    tb0 = {
        r.doc_id: r.score
        for r in dis_max_search(docs, terms, tie_breaker=0.0, k=40).collect()
    }
    assert set(tb0) == set(tb1)
    assert all(tb0[d] <= tb1[d] for d in tb0)

    path = str(tmp_path / "tidx_dm")
    write_text_index(docs, path, n_buckets=8)
    at = dis_max_search_atrest(spark, path, terms, tie_breaker=0.3, k=10)
    got = [tuple(r) for r in at.collect()]
    want = [
        tuple(r)
        for r in dis_max_search(docs, terms, tie_breaker=0.3, k=10).collect()
    ]
    assert got == want and len(got) == 10
    plan = at._jdf.queryExecution().executedPlan().toString()
    pf = _re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert any("term_bkt" in m for m in pf), plan[:2000]


def test_boosting_and_constant_score_compound_queries(spark, tmp_path):
    """Round 11 — the compound family's last two members
    (operators/boolquery.py): boosting DEMOTES (never excludes) on a
    negative match — the demoted doc stays in the result at exactly
    negative_boost x its positive score; constant_score scores every
    filter hit exactly the boost. At-rest twins bit-identical."""
    from irclogbot_spark.operators.boolquery import (
        boosting_search,
        boosting_search_atrest,
        bool_search,
        constant_score_search,
        constant_score_search_atrest,
    )
    from irclogbot_spark.operators.textindex import write_text_index

    docs = spark.createDataFrame(
        [
            (1, "batch window x y z"),
            (2, "batch window slow y z"),   # demoted, not excluded
            (3, "batch a b c d"),
            (4, "slow only here w v"),      # no positive -> absent
            (5, "data merge p q r s"),
            (6, "data merge slow " + "pad " * 130),  # dl out of range
            (7, "data only here x y"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.score
        for r in boosting_search(
            docs, ["batch", "window"], ["slow"], negative_boost=0.5, k=10
        ).collect()
    }
    assert set(got) == {1, 2, 3}
    # doc 2 = doc 1's token profile + 'slow': same positive tf/dl
    # would differ (dl 5 both) -> demotion is exactly x0.5 of the
    # UNDEMOTED score, read from the should-sum bool twin
    undemoted = {
        r.doc_id: r.score
        for r in bool_search(
            docs, should=["batch", "window"], minimum_should_match=1, k=10
        ).collect()
    }
    assert got[2] == undemoted[2] * 0.5
    assert got[1] == undemoted[1]

    cs = constant_score_search(
        docs, ["data", "merge"], boost=1.5, dl_between=(3, 50), k=20
    )
    rows = [(r.doc_id, r.score) for r in cs.collect()]
    assert rows == [(5, 1.5)]

    path = str(tmp_path / "tidx_bc")
    write_text_index(docs, path, n_buckets=8)
    at_b = [
        tuple(r)
        for r in boosting_search_atrest(
            spark, path, ["batch", "window"], ["slow"], 0.5, k=10
        ).collect()
    ]
    want_b = [
        tuple(r)
        for r in boosting_search(
            docs, ["batch", "window"], ["slow"], 0.5, k=10
        ).collect()
    ]
    assert at_b == want_b
    at_c = [
        tuple(r)
        for r in constant_score_search_atrest(
            spark, path, ["data", "merge"], 1.5, dl_between=(3, 50), k=20
        ).collect()
    ]
    assert at_c == rows


def test_function_score_factors_and_modes(spark, tmp_path):
    """function_score (round 11 — operators/boolquery.py): the
    linear decay hits ES's anchor points exactly (1.0 at the origin,
    decay at origin±scale, 0.0 at and beyond origin±s); weight and
    field_value_factor combine per score_mode/boost_mode; the
    at-rest twin (stored-fields fetch for the function field) is
    bit-identical."""
    from irclogbot_spark.operators.boolquery import (
        bool_search,
        function_score_search,
        function_score_search_atrest,
    )
    from irclogbot_spark.operators.textindex import write_text_index

    # one 'data' doc per n_chars anchor: origin, ±scale, ±s, beyond
    docs = spark.createDataFrame(
        [
            (1, "data x", 300),
            (2, "data y", 500),   # +scale -> 0.5
            (3, "data z", 100),   # -scale -> 0.5
            (4, "data w", 700),   # +s -> 0.0
            (5, "data v", 1200),  # beyond -> clamped 0.0
        ],
        "doc_id long, text string, n_chars long",
    )
    decay = [{"kind": "linear_decay", "field": "n_chars",
              "origin": 300, "scale": 200}]
    base = {
        r.doc_id: r.score
        for r in bool_search(docs, should=["data"], minimum_should_match=1,
                             k=10).collect()
    }
    got = {
        r.doc_id: r.score
        for r in function_score_search(docs, ["data"], decay, k=10).collect()
    }
    assert got[1] == base[1] * 1.0
    assert got[2] == base[2] * 0.5 and got[3] == base[3] * 0.5
    assert got[4] == 0.0 and got[5] == 0.0

    # weight + sum modes: score = bm25 + (w1 + w2)
    ws = [{"kind": "weight", "weight": 2.0}, {"kind": "weight", "weight": 3.0}]
    got_sum = {
        r.doc_id: r.score
        for r in function_score_search(
            docs, ["data"], ws, score_mode="sum", boost_mode="sum", k=10
        ).collect()
    }
    assert all(got_sum[d] == base[d] + 5.0 for d in got_sum)

    # field_value_factor + at-rest twin bit-equality
    funcs = [
        {"kind": "field_value_factor", "field": "n_chars", "factor": 0.001},
        {"kind": "linear_decay", "field": "n_chars", "origin": 300, "scale": 200},
    ]
    path = str(tmp_path / "tidx_fs")
    write_text_index(docs, path, n_buckets=8)
    want = [
        tuple(r)
        for r in function_score_search(docs, ["data"], funcs, k=10).collect()
    ]
    at = [
        tuple(r)
        for r in function_score_search_atrest(
            spark, path, docs, ["data"], funcs, k=10
        ).collect()
    ]
    assert at == want


def test_compound_query_input_validation(spark):
    """Round 12 (ADVICE r11): the compound entry points reject the
    inputs whose scan/at-rest behavior would diverge or whose plan
    build would crash — (a) explicit minimum_should_match <= 0 with
    no must clause (zero-scoring hits exist in the scan form but the
    at-rest pivot cannot serve them; the documented ES deviation),
    (b) duplicate terms across clauses (the at-rest pivot('term',
    ref) would raise AnalysisException while the scan form silently
    accepts), (c) linear_decay decay outside (0,1) / scale <= 0
    (ZeroDivisionError at plan build), (d) typo'd
    score_mode/boost_mode with <= 1 function (previously silently
    fell through to the default combine)."""
    import pytest

    from irclogbot_spark.operators.boolquery import (
        bool_search,
        boosting_search,
        dis_max_search,
        function_score_search,
    )

    docs = spark.createDataFrame(
        [(1, "data spark merge"), (2, "data scan x")],
        "doc_id long, text string",
    )
    # (a) explicit msm <= 0 with empty must — both forms reject; the
    # should-only DEFAULT (msm=1) still works, with or without filter
    with pytest.raises(ValueError, match="constant_score"):
        bool_search(docs, should=["spark"], minimum_should_match=0)
    got = {
        r.doc_id
        for r in bool_search(
            docs, should=["spark"], dl_between=(1, 50), k=10
        ).collect()
    }
    assert got == {1}
    # msm=0 with a must clause remains the valid ES default
    assert bool_search(docs, must=["data"], should=["merge"], k=10).count() == 2
    # (b) duplicate terms across clauses, every compound type
    with pytest.raises(ValueError, match="duplicate"):
        bool_search(docs, must=["data"], should=["data"])
    with pytest.raises(ValueError, match="duplicate"):
        dis_max_search(docs, ["spark", "spark"])
    with pytest.raises(ValueError, match="duplicate"):
        boosting_search(docs, ["data"], ["data"])
    with pytest.raises(ValueError, match="duplicate"):
        function_score_search(docs, ["data", "data"], [])
    # (c) decay/scale bounds
    with pytest.raises(ValueError, match="decay"):
        function_score_search(
            docs, ["data"],
            [{"kind": "linear_decay", "field": "doc_id",
              "origin": 0, "scale": 10, "decay": 1.0}],
        )
    with pytest.raises(ValueError, match="scale"):
        function_score_search(
            docs, ["data"],
            [{"kind": "linear_decay", "field": "doc_id",
              "origin": 0, "scale": 0.0}],
        )
    # (d) mode typos caught even with a single function
    with pytest.raises(ValueError, match="score_mode"):
        function_score_search(
            docs, ["data"], [{"kind": "weight", "weight": 2.0}],
            score_mode="avg",
        )
    with pytest.raises(ValueError, match="boost_mode"):
        function_score_search(
            docs, ["data"], [{"kind": "weight", "weight": 2.0}],
            boost_mode="replace",
        )


def test_multi_match_best_fields_semantics(spark, tmp_path):
    """multi_match type=best_fields (round 12 —
    operators/multimatch.py): each field scores boost x the
    fixed-order BM25 sum under ITS OWN statistics (per-field
    dl/avgdl/df); the combine is the dis_max
    max + tie_breaker * (sum - max); a doc matches on >= 1 term in
    >= 1 field. Degenerate checks: one field with boost 1 equals the
    should-only bool query over that field; tie_breaker=1.0 is the
    plain per-field sum. The at-rest twin (one index PER FIELD,
    full-outer-joined hit sets) is bit-identical."""
    from irclogbot_spark.operators.boolquery import bool_search
    from irclogbot_spark.operators.multimatch import (
        multi_match_best_fields,
        multi_match_best_fields_atrest,
    )
    from irclogbot_spark.operators.textindex import write_text_index

    docs = spark.createDataFrame(
        [
            (1, "spark merge intro", "body about spark spark and merge"),
            (2, "data layout", "merge strategies for spark tables"),
            (3, "unrelated title", "nothing relevant here"),
            (4, "spark only title", "body with no query hits"),
            (5, "plain", "spark appears once"),
        ],
        "doc_id long, title string, body string",
    )
    terms = ["spark", "merge"]
    # single-field boost-1 degenerate == should-only bool over body
    mm1 = {
        r.doc_id: r.score
        for r in multi_match_best_fields(
            docs, terms, [("body", 1.0)], k=10
        ).collect()
    }
    ref = {
        r.doc_id: r.score
        for r in bool_search(
            docs, should=terms, minimum_should_match=1, k=10,
            text_col="body",
        ).collect()
    }
    assert mm1 == ref
    # tie_breaker=1.0 degenerates to s_title + s_body; 0.0 to max
    both = multi_match_best_fields(
        docs, terms, [("title", 2.0), ("body", 1.0)], tie_breaker=1.0, k=10
    )
    best_of = multi_match_best_fields(
        docs, terms, [("title", 2.0), ("body", 1.0)], tie_breaker=0.0, k=10
    )
    s_sum = {r.doc_id: r.score for r in both.collect()}
    s_max = {r.doc_id: r.score for r in best_of.collect()}
    assert set(s_sum) == {1, 2, 4, 5}  # doc 3 hits nothing
    assert all(s_sum[d] >= s_max[d] for d in s_sum)
    # doc 5 hits body only: max == sum == its body score
    assert s_sum[5] == s_max[5]
    # at-rest bit-identity: one index per field, hit sets differ per
    # field (doc 4 hits title only, doc 5 body only)
    t1 = str(tmp_path / "idx_title")
    t2 = str(tmp_path / "idx_body")
    write_text_index(docs.select("doc_id", "title"), t1, text_col="title", n_buckets=8)
    write_text_index(docs.select("doc_id", "body"), t2, text_col="body", n_buckets=8)
    kw = dict(tie_breaker=0.3, k=10)
    want = [
        tuple(r)
        for r in multi_match_best_fields(
            docs, terms, [("title", 2.0), ("body", 1.0)], **kw
        ).collect()
    ]
    got = [
        tuple(r)
        for r in multi_match_best_fields_atrest(
            spark, [("title", t1), ("body", t2)], terms,
            {"title": 2.0, "body": 1.0}, **kw
        ).collect()
    ]
    assert got == want and len(got) == 4
    # validation: duplicate terms, duplicate fields, bad boost
    import pytest

    with pytest.raises(ValueError, match="duplicate"):
        multi_match_best_fields(docs, ["spark", "spark"], [("body", 1.0)])
    with pytest.raises(ValueError, match="duplicate fields"):
        multi_match_best_fields(docs, terms, [("body", 1.0), ("body", 2.0)])
    with pytest.raises(ValueError, match="boost"):
        multi_match_best_fields(docs, terms, [("body", 0.0)])


def test_minimum_should_match_percentage_syntax(spark, tmp_path):
    """Round 13: ES's minimum_should_match value syntax — 'N%' is N
    percent of the optional clauses rounded DOWN, '-N%' is the
    max-missing form (n_should - floor(N%)), int-strings pass
    through, the combination syntax ('3<90%') rejects loudly. The
    percentage query equals the explicitly-resolved int query in
    both physical forms."""
    import pytest

    from irclogbot_spark.operators.boolquery import (
        bool_search,
        bool_search_atrest,
        parse_minimum_should_match,
    )
    from irclogbot_spark.operators.textindex import write_text_index

    # the resolution table (ES reference semantics)
    assert parse_minimum_should_match(None, 4) is None
    assert parse_minimum_should_match(3, 4) == 3
    assert parse_minimum_should_match("3", 4) == 3
    assert parse_minimum_should_match("50%", 4) == 2
    assert parse_minimum_should_match("75%", 4) == 3
    assert parse_minimum_should_match("75%", 3) == 2  # floor
    assert parse_minimum_should_match("-25%", 4) == 3  # 1 may miss
    assert parse_minimum_should_match("-25%", 3) == 3  # floor(0.75)=0 miss
    assert parse_minimum_should_match("100%", 4) == 4
    for bad in ("3<90%", "x%", "pct"):
        with pytest.raises(ValueError):
            parse_minimum_should_match(bad, 4)

    docs = spark.createDataFrame(
        [
            (1, "data batch window merge"),
            (2, "data batch x y"),
            (3, "data only here"),
            (4, "window merge z"),
            (5, "nothing relevant"),
        ],
        "doc_id long, text string",
    )
    should = ["data", "batch", "window", "merge"]
    pct = [
        tuple(r)
        for r in bool_search(
            docs, should=should, minimum_should_match="50%", k=10
        ).collect()
    ]
    explicit = [
        tuple(r)
        for r in bool_search(
            docs, should=should, minimum_should_match=2, k=10
        ).collect()
    ]
    assert pct == explicit and {r[0] for r in pct} == {1, 2, 4}
    path = str(tmp_path / "idx_msm")
    write_text_index(docs, path, n_buckets=8)
    at = [
        tuple(r)
        for r in bool_search_atrest(
            spark, path, should=should, minimum_should_match="-25%", k=10
        ).collect()
    ]
    sc = [
        tuple(r)
        for r in bool_search(
            docs, should=should, minimum_should_match=3, k=10
        ).collect()
    ]
    assert at == sc and len(at) == 1  # only doc 1 has >= 3 of 4


def test_bool_fuzzy_clause_expansion_and_atrest(spark, tmp_path):
    """Round 13 (VERDICT r12 next #4): fuzzy clauses composed into
    the bool family — each fuzzy stem expands against the term
    dictionary (banded Levenshtein <= max_dist) in ES's
    top-frequency rewrite order (df desc, term asc), capped per stem
    at max_expansions with already-referenced terms excluded BEFORE
    the cap, and the expansions join the should list: the compiled
    query equals the equivalent direct bool_search. The at-rest form
    walks the vocab sidecar and is bit-identical; the streamed-index
    injection derives df from postings."""
    import pytest

    from irclogbot_spark.operators.boolquery import (
        bool_fuzzy_search,
        bool_fuzzy_search_atrest,
        bool_search,
    )
    from irclogbot_spark.operators.textindex import write_text_index

    docs = spark.createDataFrame(
        [
            (1, "data merge batch x"),
            (2, "data merge merge y"),
            (3, "data merga z w"),
            (4, "data serge only"),
            (5, "merge alone here q"),
            (6, "data nothing else at all"),
        ],
        "doc_id long, text string",
    )
    # mergz expands within dist 1 to {merge, merga}; rewrite order is
    # df desc, term asc: merge (df 3) then merga (df 1). 'serge' is
    # dist 2 — out.
    got = [
        tuple(r)
        for r in bool_fuzzy_search(
            docs, must=["data"], fuzzy=["mergz"], k=10
        ).collect()
    ]
    want = [
        tuple(r)
        for r in bool_search(
            docs, must=["data"], should=["merge", "merga"], k=10
        ).collect()
    ]
    assert got == want and len(got) == 5  # docs 1,2,3,4,6 (must=data)
    # expansion-cap order pinned: max_expansions=1 keeps the highest
    # df match (merge), not the alphabetical first (merga)
    capped = [
        tuple(r)
        for r in bool_fuzzy_search(
            docs, must=["data"], fuzzy=["mergz"], max_expansions=1, k=10
        ).collect()
    ]
    assert capped == [
        tuple(r)
        for r in bool_search(docs, must=["data"], should=["merge"], k=10).collect()
    ]
    # exclusion before the cap: 'merge' already referenced as a
    # should term -> the 1-wide expansion backfills with merga
    backfilled = [
        tuple(r)
        for r in bool_fuzzy_search(
            docs, must=["data"], should=["merge"], fuzzy=["mergz"],
            max_expansions=1, k=10,
        ).collect()
    ]
    assert backfilled == [
        tuple(r)
        for r in bool_search(
            docs, must=["data"], should=["merge", "merga"], k=10
        ).collect()
    ]
    # at-rest: vocab-sidecar walk, bit-identical to the scan form
    path = str(tmp_path / "idx_bf")
    write_text_index(docs, path, n_buckets=8)
    for kw in (
        dict(must=["data"], fuzzy=["mergz"], k=10),
        dict(must=["data"], fuzzy=["mergz"], max_expansions=1, k=10),
        dict(must=["data"], should=["merge"], fuzzy=["mergz"],
             max_expansions=1, k=10),
        dict(should=["batch"], fuzzy=["mergz"], must_not=["serge"], k=10),
    ):
        a = [
            tuple(r)
            for r in bool_fuzzy_search_atrest(spark, path, **kw).collect()
        ]
        s = [tuple(r) for r in bool_fuzzy_search(docs, **kw).collect()]
        assert a == s and len(a) > 0, kw
    # validation: bad knobs raise; empty expansion with no other
    # positive clause raises (the programmer-facing bool contract)
    with pytest.raises(ValueError, match="max_dist"):
        bool_fuzzy_search(docs, must=["data"], fuzzy=["x"], max_dist=-1)
    with pytest.raises(ValueError, match="max_expansions"):
        bool_fuzzy_search(docs, must=["data"], fuzzy=["x"], max_expansions=0)
    with pytest.raises(ValueError, match="must or should"):
        bool_fuzzy_search(docs, fuzzy=["qqqqqqqq"], k=10)


def test_multi_match_cross_fields_blended_df_semantics(spark, tmp_path):
    """multi_match type=cross_fields (round 13 — VERDICT r12 next
    #2): TERM-centric scoring — each term's df blends to the max
    across the field group (BlendedTermQuery), the term scores in
    every field with that shared df (own dl/avgdl length norm, own
    boost), fields combine per term as max + tie_breaker*(sum-max),
    terms sum in declaration order. Checks: (a) exact scores against
    an independent pure-python BM25 replica; (b) the degeneracy pin —
    ONE field makes best_fields == most_fields == cross_fields
    exactly; (c) blending demotes a term that is rare in one field
    but common in the other (vs best_fields' per-field df); (d) the
    at-rest per-field-index form is bit-identical; (e) tie_breaker
    folds the non-best fields in."""
    from irclogbot_spark.operators.multimatch import (
        multi_match_best_fields,
        multi_match_best_fields_atrest,
    )
    from irclogbot_spark.operators.textindex import write_text_index

    rows = [
        (1, "will smith", "will met will at the will office"),
        (2, "ada smith", "will called about the account"),
        (3, "grace jones", "nothing to see"),
        (4, "will jones", "smith street office"),
        (5, "plain title", "will will will"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, title string, body string")
    terms = ["will", "smith"]
    fields = [("title", 2.0), ("body", 1.0)]
    k1, b = 1.2, 0.75

    # independent replica (python floats == doubles; same op order)
    toks = {i: (t.split(), bo.split()) for i, t, bo in rows}
    n = len(rows)
    dl = {f: {i: len(toks[i][fi]) for i in toks} for fi, f in enumerate(["title", "body"])}
    avgdl = {f: sum(dl[f].values()) / n for f in dl}
    tf = {
        (f, i, t): toks[i][fi].count(t)
        for fi, f in enumerate(["title", "body"])
        for i in toks
        for t in terms
    }
    dfreq = {
        (f, t): sum(1 for i in toks if tf[(f, i, t)] > 0)
        for f in ["title", "body"]
        for t in terms
    }

    def bm25(tf_, df_, f, i):
        denom_norm = 1.0 - b + b * dl[f][i] / avgdl[f]
        idf = (n - df_ + 0.5) / (df_ + 0.5)
        return idf * ((tf_ * (k1 + 1.0)) / (tf_ + k1 * denom_norm))

    def expected(tie):
        out = {}
        for i in toks:
            if not any(tf[(f, i, t)] > 0 for f in dl for t in terms):
                continue
            total = 0.0
            for t in terms:
                blend = max(dfreq[("title", t)], dfreq[("body", t)])
                per = [
                    bo * bm25(tf[(f, i, t)], blend, f, i)
                    for f, bo in fields
                ]
                s = per[0] + per[1]
                best = max(per)
                total += best + tie * (s - best)
            out[i] = total
        return out

    for tie in (0.0, 0.4):
        got = {
            r.doc_id: r.score
            for r in multi_match_best_fields(
                docs, terms, fields, k=10, mm_type="cross_fields",
                tie_breaker=tie,
            ).collect()
        }
        want = expected(tie)
        assert set(got) == set(want)
        for i in got:
            assert abs(got[i] - want[i]) < 1e-12, (tie, i, got[i], want[i])

    # blending demotes: 'smith' is rare in body (df 1) but common in
    # title (df 2) -> blended df 2 lowers body-smith idf vs the
    # per-field df best_fields uses, so cross != best on doc 4
    best = {
        r.doc_id: r.score
        for r in multi_match_best_fields(docs, terms, fields, k=10).collect()
    }
    cross = {
        r.doc_id: r.score
        for r in multi_match_best_fields(
            docs, terms, fields, k=10, mm_type="cross_fields"
        ).collect()
    }
    assert set(best) == set(cross)  # identical >=1-term gate
    assert any(abs(best[i] - cross[i]) > 1e-9 for i in best)

    # degeneracy: ONE field -> all three types identical
    one = [("body", 1.0)]
    per_type = [
        {
            r.doc_id: r.score
            for r in multi_match_best_fields(
                docs, terms, one, k=10, mm_type=mt
            ).collect()
        }
        for mt in ("best_fields", "most_fields", "cross_fields")
    ]
    assert per_type[0] == per_type[1] == per_type[2]

    # at-rest bit-identity (per-field indexes, full-outer raw join)
    t1, t2 = str(tmp_path / "xf_t"), str(tmp_path / "xf_b")
    write_text_index(docs.select("doc_id", "title"), t1, text_col="title", n_buckets=8)
    write_text_index(docs.select("doc_id", "body"), t2, text_col="body", n_buckets=8)
    for tie in (0.0, 0.4):
        want_rows = [
            tuple(r)
            for r in multi_match_best_fields(
                docs, terms, fields, k=10, mm_type="cross_fields",
                tie_breaker=tie,
            ).collect()
        ]
        got_rows = [
            tuple(r)
            for r in multi_match_best_fields_atrest(
                spark, [("title", t1), ("body", t2)], terms,
                {"title": 2.0, "body": 1.0}, k=10, mm_type="cross_fields",
                tie_breaker=tie,
            ).collect()
        ]
        assert got_rows == want_rows and len(got_rows) == 4, tie

    import pytest

    with pytest.raises(ValueError, match="unknown multi_match type"):
        multi_match_best_fields(docs, terms, fields, mm_type="nope")


def test_multi_match_operator_and_gates(spark, tmp_path):
    """multi_match operator=and (round 13 — ES's match-operator
    knob): under the field-centric types some FIELD must contain ALL
    terms (a field missing a term contributes exactly 0.0 — its
    match query is an AND); under cross_fields every TERM must
    appear in >= 1 field. Checks: the field-centric hit set and the
    non-matching-field zeroing, the term-centric hit set with
    unchanged scores, degeneracy (a doc fully matching every field
    scores the same under or/and), and at-rest bit-identity for all
    three types."""
    import pytest

    from irclogbot_spark.operators.multimatch import (
        multi_match_best_fields,
        multi_match_best_fields_atrest,
    )
    from irclogbot_spark.operators.textindex import write_text_index

    docs = spark.createDataFrame(
        [
            (1, "spark merge plan", "spark merge in body too"),  # both full
            (2, "spark merge only title", "nothing relevant"),   # title full
            (3, "spark solo", "merge solo"),                     # split terms
            (4, "spark only", "spark only body"),                # merge absent
            (5, "plain", "merge spark in body"),                 # body full
        ],
        "doc_id long, title string, body string",
    )
    terms = ["spark", "merge"]
    fields = [("title", 2.0), ("body", 1.0)]

    # field-centric AND: docs 1, 2, 5 (some field has both terms);
    # doc 3 (terms split across fields) and doc 4 (merge missing) out
    and_best = {
        r.doc_id: r.score
        for r in multi_match_best_fields(
            docs, terms, fields, tie_breaker=0.3, k=10, operator="and"
        ).collect()
    }
    assert set(and_best) == {1, 2, 5}
    # a non-matching field contributes 0.0: doc 2's score under
    # tie_breaker=1.0 (plain sum) equals its title-only score
    and_sum = {
        r.doc_id: r.score
        for r in multi_match_best_fields(
            docs, terms, fields, tie_breaker=1.0, k=10, operator="and"
        ).collect()
    }
    title_only = {
        r.doc_id: r.score
        for r in multi_match_best_fields(
            docs, terms, [("title", 2.0)], k=10, operator="and"
        ).collect()
    }
    assert and_sum[2] == title_only[2]
    # cross_fields AND: term-centric — doc 3 (split) is IN, doc 4 out
    and_cross = {
        r.doc_id: r.score
        for r in multi_match_best_fields(
            docs, terms, fields, k=10, mm_type="cross_fields",
            operator="and",
        ).collect()
    }
    or_cross = {
        r.doc_id: r.score
        for r in multi_match_best_fields(
            docs, terms, fields, k=10, mm_type="cross_fields"
        ).collect()
    }
    assert set(and_cross) == {1, 2, 3, 5}
    # ... with scores unchanged (the gate tightens, scoring doesn't)
    for i in and_cross:
        assert and_cross[i] == or_cross[i]
    # a doc fully matching every field scores the same under or/and
    or_best = {
        r.doc_id: r.score
        for r in multi_match_best_fields(
            docs, terms, fields, tie_breaker=0.3, k=10
        ).collect()
    }
    assert and_best[1] == or_best[1]
    # at-rest bit-identity for all three types under operator=and
    t1, t2 = str(tmp_path / "opand_t"), str(tmp_path / "opand_b")
    write_text_index(docs.select("doc_id", "title"), t1, text_col="title", n_buckets=8)
    write_text_index(docs.select("doc_id", "body"), t2, text_col="body", n_buckets=8)
    for mt, tie in (("best_fields", 0.3), ("most_fields", 0.0), ("cross_fields", 0.0)):
        want = [
            tuple(r)
            for r in multi_match_best_fields(
                docs, terms, fields, tie_breaker=tie, k=10, mm_type=mt,
                operator="and",
            ).collect()
        ]
        got = [
            tuple(r)
            for r in multi_match_best_fields_atrest(
                spark, [("title", t1), ("body", t2)], terms,
                {"title": 2.0, "body": 1.0}, tie_breaker=tie, k=10,
                mm_type=mt, operator="and",
            ).collect()
        ]
        assert got == want and len(got) > 0, mt
    with pytest.raises(ValueError, match="operator"):
        multi_match_best_fields(docs, terms, fields, operator="xor")


def test_multi_match_null_field_scores_zero_both_forms(spark, tmp_path):
    """Round 13 (ADVICE r12): a NULL field value must score exactly
    0.0 in that field in BOTH physical forms — the scan form used to
    tokenize NULL into a NULL array whose size(-1) poisoned dl/tf
    (negative tf into BM25) while the at-rest form coalesced the
    missing field to 0.0. The scan now coalesces NULL to '' and the
    at-rest doclens writes dl=0 for NULL text, so avgdl and scores
    stay bit-identical."""
    from irclogbot_spark.operators.multimatch import (
        multi_match_best_fields,
        multi_match_best_fields_atrest,
    )
    from irclogbot_spark.operators.textindex import write_text_index

    docs = spark.createDataFrame(
        [
            (1, "spark merge intro", "body about spark and merge"),
            (2, None, "merge strategies for spark tables"),
            (3, "spark only title", None),
            (4, None, None),
            (5, "plain", "spark appears once"),
        ],
        "doc_id long, title string, body string",
    )
    terms = ["spark", "merge"]
    fields = [("title", 2.0), ("body", 1.0)]
    for mm_type in ("best_fields", "most_fields"):
        rows = multi_match_best_fields(
            docs, terms, fields, k=10, mm_type=mm_type,
            tie_breaker=0.3 if mm_type == "best_fields" else 0.0,
        ).collect()
        got = {r.doc_id: r.score for r in rows}
        # doc 4 (both NULL) never matches; every score is finite > 0
        assert 4 not in got and set(got) == {1, 2, 3, 5}
        assert all(s > 0.0 for s in got.values()), got
    # at-rest bit-identity with NULL fields present in the corpus
    t1 = str(tmp_path / "idx_title_null")
    t2 = str(tmp_path / "idx_body_null")
    write_text_index(
        docs.select("doc_id", "title"), t1, text_col="title", n_buckets=8
    )
    write_text_index(
        docs.select("doc_id", "body"), t2, text_col="body", n_buckets=8
    )
    want = [
        tuple(r)
        for r in multi_match_best_fields(
            docs, terms, fields, tie_breaker=0.3, k=10
        ).collect()
    ]
    got_at = [
        tuple(r)
        for r in multi_match_best_fields_atrest(
            spark, [("title", t1), ("body", t2)], terms,
            {"title": 2.0, "body": 1.0}, tie_breaker=0.3, k=10
        ).collect()
    ]
    assert got_at == want and len(got_at) == 4


@pytest.mark.parametrize("k1,b", [(1.2, 1.0), (0.0, 0.75)])
def test_multi_match_absent_field_at_degenerate_params(spark, tmp_path, k1, b):
    """A doc absent from a field has tf=0 and dl=0 there; at b=1.0 or
    k1=0 the field's BM25 denominator is 0, which raised
    DIVIDE_BY_ZERO under ANSI mode in both forms. The field scores
    0.0 instead, and the at-rest form stays bit-identical to the
    scan."""
    from irclogbot_spark.operators.multimatch import (
        multi_match_best_fields,
        multi_match_best_fields_atrest,
    )
    from irclogbot_spark.operators.textindex import write_text_index

    docs = spark.createDataFrame(
        [
            (1, "spark merge intro", "body about spark and merge"),
            (2, None, "merge strategies for spark tables"),
            (3, "spark only title", None),
            (4, "plain", "spark appears once"),
        ],
        "doc_id long, title string, body string",
    )
    terms = ["spark", "merge"]
    t1, t2 = str(tmp_path / "title"), str(tmp_path / "body")
    write_text_index(docs.select("doc_id", "title"), t1, text_col="title", n_buckets=8)
    write_text_index(docs.select("doc_id", "body"), t2, text_col="body", n_buckets=8)
    want = [
        tuple(r)
        for r in multi_match_best_fields(
            docs, terms, [("title", 2.0), ("body", 1.0)], tie_breaker=0.3, k=10,
            k1=k1, b=b,
        ).collect()
    ]
    got = [
        tuple(r)
        for r in multi_match_best_fields_atrest(
            spark, [("title", t1), ("body", t2)], terms,
            {"title": 2.0, "body": 1.0}, tie_breaker=0.3, k=10, k1=k1, b=b,
        ).collect()
    ]
    assert got == want and len(got) == 4
    assert all(s > 0.0 for _, s in got)


def test_match_phrase_prefix_semantics(spark, tmp_path):
    """match_phrase_prefix (round 12 — operators/multimatch.py):
    fixed leading terms + last-position prefix; expansion in TERM
    ORDER capped at max_expansions (only expanded terms count);
    overlapping starts count; empty leading terms = the pure prefix
    query. The at-rest twin (vocab-sidecar expansion walk +
    bucket-pruned positional probe) is bit-identical."""
    import pytest

    from irclogbot_spark.operators.multimatch import (
        match_phrase_prefix,
        match_phrase_prefix_atrest,
    )
    from irclogbot_spark.operators.textindex import write_text_index

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox and the quick brown fence"),
            (2, "quick brown dog"),
            (3, "quick silver brown fish"),
            (4, "a quick brown f"),
            (5, "quick brown quick brown quick brown fast"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.phrase_count
        for r in match_phrase_prefix(docs, ["quick", "brown"], "f", k=10).collect()
    }
    # doc 2: last token 'dog' doesn't start with f; doc 3: not
    # consecutive; doc 5: only the LAST 'quick brown' precedes 'fast'
    assert got == {1: 2, 4: 1, 5: 1}
    # expansion cap: term-ordered types starting with 'f' are
    # [f, fast, fence, fish, fox]; cap=2 keeps {f, fast}
    capped = {
        r.doc_id: r.phrase_count
        for r in match_phrase_prefix(
            docs, ["quick", "brown"], "f", max_expansions=2, k=10
        ).collect()
    }
    assert capped == {4: 1, 5: 1}
    # pure prefix query (no leading terms): every 'qu*' token counts
    pure = {
        r.doc_id: r.phrase_count
        for r in match_phrase_prefix(docs, [], "qu", k=10).collect()
    }
    assert pure == {1: 2, 2: 1, 3: 1, 4: 1, 5: 3}
    # at-rest twin: same three shapes, bit-identical
    path = str(tmp_path / "idx_pp")
    write_text_index(docs, path, n_buckets=8)
    for kw in (
        dict(terms=["quick", "brown"], prefix="f", k=10),
        dict(terms=["quick", "brown"], prefix="f", max_expansions=2, k=10),
        dict(terms=[], prefix="qu", k=10),
        dict(terms=["quick", "brown"], prefix="zz", k=10),  # no expansion
    ):
        want = [tuple(r) for r in match_phrase_prefix(docs, **kw).collect()]
        got = [
            tuple(r)
            for r in match_phrase_prefix_atrest(spark, path, **kw).collect()
        ]
        assert got == want, kw
    # validation
    with pytest.raises(ValueError, match="prefix"):
        match_phrase_prefix(docs, ["quick"], "")
    with pytest.raises(ValueError, match="max_expansions"):
        match_phrase_prefix(docs, ["quick"], "f", max_expansions=0)


def test_tokenize_inline_max_vocab_bound(spark):
    """Round 12 (VERDICT r11 next #5): the inline vocab collect is
    an ENFORCED bound — an oversized vocab raises instead of
    silently collecting; max_vocab=None opts out explicitly."""
    import pytest

    from irclogbot_spark.functions.text import tokenize_with_vocab_inline

    docs = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    vocab = spark.createDataFrame(
        [(i, f"t{i}") for i in range(1, 8)], ["rank", "term"]
    )
    with pytest.raises(ValueError, match="distinct terms"):
        tokenize_with_vocab_inline(docs, vocab, max_vocab=5)
    # at the bound, under it, and opted out: all fine
    assert tokenize_with_vocab_inline(docs, vocab, max_vocab=7).count() == 1
    assert tokenize_with_vocab_inline(docs, vocab, max_vocab=None).count() == 1
    with pytest.raises(ValueError, match="max_vocab"):
        tokenize_with_vocab_inline(docs, vocab, max_vocab=0)


def test_simple_query_string_parser_and_compile(spark, tmp_path):
    """simple_query_string (round 12 — operators/querystring.py):
    the +/-/bare/trailing-* search-box syntax parses with ES's
    never-throws contract and compiles onto the bool machinery; the
    compiled query equals the equivalent direct bool_search; prefix
    clauses expand against the term dictionary (term order, capped,
    per prefix); the at-rest form is bit-identical. Round 13 (ADVICE
    r12): NO raw search-box input raises — +term*/-term* degrade to
    the should prefix, a query with no surviving positive clause
    (only -term, or a prefix expanding to nothing) returns the empty
    frame, and already-referenced terms are excluded BEFORE the
    per-prefix cap so the expansion stays full-width."""
    from irclogbot_spark.operators.boolquery import bool_search
    from irclogbot_spark.operators.querystring import (
        parse_simple_query,
        simple_query_string_atrest,
        simple_query_string_search,
    )
    from irclogbot_spark.operators.textindex import write_text_index

    # parser contract
    assert parse_simple_query("+data batch -dup window") == {
        "must": ["data"], "should": ["batch", "window"],
        "must_not": ["dup"], "prefixes": [],
    }
    # never-throws: bare operators drop, duplicates keep FIRST
    assert parse_simple_query("+ - * +data data -data") == {
        "must": ["data"], "should": [], "must_not": [], "prefixes": [],
    }
    assert parse_simple_query("mer* go")["prefixes"] == ["mer"]
    # +term*/-term* degrade to the should prefix (polarity dropped —
    # the documented deviation; never raises on search-box input)
    assert parse_simple_query("+mer*") == {
        "must": [], "should": [], "must_not": [], "prefixes": ["mer"],
    }
    assert parse_simple_query("-mer* +data")["prefixes"] == ["mer"]

    docs = spark.createDataFrame(
        [
            (1, "data batch window x"),
            (2, "data window only here"),
            (3, "data dup batch excluded"),
            (4, "batch window no must"),
            (5, "data merge mercury value"),
            (6, "data merged things"),
        ],
        "doc_id long, text string",
    )
    got = [
        tuple(r)
        for r in simple_query_string_search(
            docs, "+data batch -dup window", k=10
        ).collect()
    ]
    want = [
        tuple(r)
        for r in bool_search(
            docs, must=["data"], should=["batch", "window"],
            must_not=["dup"], k=10,
        ).collect()
    ]
    assert got == want and {r[0] for r in got} == {1, 2, 5, 6}
    # prefix expansion: mer* -> {merge, mercury, merged} term-ordered,
    # capped per prefix; expansions land as should terms
    exp = [
        tuple(r)
        for r in simple_query_string_search(docs, "+data mer*", k=10).collect()
    ]
    want_exp = [
        tuple(r)
        for r in bool_search(
            docs, must=["data"], should=["merge", "mercury", "merged"], k=10
        ).collect()
    ]
    assert exp == want_exp
    capped = [
        tuple(r)
        for r in simple_query_string_search(
            docs, "+data mer*", max_expansions=1, k=10
        ).collect()
    ]
    assert capped == [
        tuple(r)
        for r in bool_search(docs, must=["data"], should=["merge"], k=10).collect()
    ]
    # exclusion BEFORE the cap (round 13, ADVICE r12): 'merge' is
    # already referenced, so the 2-wide expansion backfills with the
    # next dictionary terms instead of shrinking to one
    backfilled = [
        tuple(r)
        for r in simple_query_string_search(
            docs, "+merge mer*", max_expansions=2, k=10
        ).collect()
    ]
    assert backfilled == [
        tuple(r)
        for r in bool_search(
            docs, must=["merge"], should=["mercury", "merged"], k=10
        ).collect()
    ]
    # at-rest bit-identity, with and without prefix expansion
    path = str(tmp_path / "idx_sqs")
    write_text_index(docs, path, n_buckets=8)
    for q in ("+data batch -dup window", "+data mer*", "+merge mer*"):
        a = [
            tuple(r)
            for r in simple_query_string_atrest(spark, path, q, k=10).collect()
        ]
        s = [
            tuple(r) for r in simple_query_string_search(docs, q, k=10).collect()
        ]
        assert a == s, q
    # no surviving positive clause -> ES's empty hits, never an
    # error (ADVICE r12 medium): pure must_not, a dead prefix, and a
    # degraded must-prefix that expands to nothing — both physical
    # forms return the empty (id, score, n_should) frame
    for q in ("-dup", "zzz*", "+zzz*", "-dup zzz*", "", "+ - *"):
        empty_scan = simple_query_string_search(docs, q, k=10)
        assert empty_scan.columns == ["doc_id", "score", "n_should"], q
        assert empty_scan.count() == 0, q
        empty_at = simple_query_string_atrest(spark, path, q, k=10)
        assert empty_at.columns == ["doc_id", "score", "n_should"], q
        assert empty_at.count() == 0, q


def test_multi_match_most_fields_is_per_field_sum(spark, tmp_path):
    """multi_match type=most_fields (round 12): the combine is the
    plain sum of the boosted per-field scores — equal to best_fields
    with tie_breaker=1.0 (the degenerate identity) and strictly >=
    best_fields at any tie_breaker < 1 where both fields hit; the
    at-rest twin is bit-identical; tie_breaker with most_fields and
    unknown types are rejected."""
    import pytest

    from irclogbot_spark.operators.multimatch import (
        multi_match_best_fields,
        multi_match_best_fields_atrest,
    )
    from irclogbot_spark.operators.textindex import write_text_index

    docs = spark.createDataFrame(
        [
            (1, "spark merge intro", "body about spark and merge"),
            (2, "data layout", "merge strategies for spark tables"),
            (3, "spark only title", "no hits in body"),
        ],
        "doc_id long, title string, body string",
    )
    terms, fields = ["spark", "merge"], [("title", 2.0), ("body", 1.0)]
    most = multi_match_best_fields(
        docs, terms, fields, k=10, mm_type="most_fields"
    )
    tb1 = multi_match_best_fields(docs, terms, fields, tie_breaker=1.0, k=10)
    assert [tuple(r) for r in most.collect()] == [tuple(r) for r in tb1.collect()]
    t1, t2 = str(tmp_path / "mf_t"), str(tmp_path / "mf_b")
    write_text_index(docs.select("doc_id", "title"), t1, text_col="title", n_buckets=8)
    write_text_index(docs.select("doc_id", "body"), t2, text_col="body", n_buckets=8)
    at = multi_match_best_fields_atrest(
        spark, [("title", t1), ("body", t2)], terms,
        {"title": 2.0, "body": 1.0}, k=10, mm_type="most_fields",
    )
    assert [tuple(r) for r in at.collect()] == [tuple(r) for r in most.collect()]
    with pytest.raises(ValueError, match="tie_breaker"):
        multi_match_best_fields(
            docs, terms, fields, tie_breaker=0.5, mm_type="most_fields"
        )
    # cross_fields is implemented since round 13 (its own test);
    # an actually-unknown type still raises
    with pytest.raises(ValueError, match="multi_match type"):
        multi_match_best_fields(docs, terms, fields, mm_type="worst_fields")


def test_terms_set_per_doc_msm_field(spark, tmp_path):
    """terms_set (round 12 — operators/boolquery.py): the required
    match count is a PER-DOCUMENT field; n_matched >= the doc's own
    value gates (clamped to >= 1 — the engine's scoring-hit floor);
    score is the fixed-order BM25 sum of matching terms. At-rest
    twin (stored-fields fetch for the msm column) bit-identical."""
    import pytest

    from irclogbot_spark.operators.boolquery import (
        terms_set_search,
        terms_set_search_atrest,
    )
    from irclogbot_spark.operators.textindex import write_text_index

    docs = spark.createDataFrame(
        [
            (1, "data spark merge", 2),   # 3 matches >= 2 -> in
            (2, "data only here", 2),     # 1 match  <  2 -> out
            (3, "data spark", 3),         # 2 matches < 3 -> out
            (4, "data other words", 1),   # 1 match >= 1 -> in
            (5, "data spark pad", 0),     # msm 0 clamps to 1 -> in
            (6, "none of them", 1),       # 0 matches -> out
        ],
        "doc_id long, text string, req long",
    )
    terms = ["data", "spark", "merge"]
    got = {
        r.doc_id: r.n_matched
        for r in terms_set_search(docs, terms, "req", k=10).collect()
    }
    assert got == {1: 3, 4: 1, 5: 2}
    path = str(tmp_path / "idx_ts")
    write_text_index(docs.select("doc_id", "text"), path, n_buckets=8)
    at = [
        tuple(r)
        for r in terms_set_search_atrest(
            spark, path, docs.select("doc_id", "req"), terms, "req", k=10
        ).collect()
    ]
    want = [tuple(r) for r in terms_set_search(docs, terms, "req", k=10).collect()]
    assert at == want
    with pytest.raises(ValueError, match="duplicate"):
        terms_set_search(docs, ["data", "data"], "req")


def test_span_first_boundary_semantics(spark, tmp_path):
    """span_first (round 12 — functions/text.py): the in-order span
    must END within the first `end` positions; the greedy
    earliest-next chain argument carries over from span_near
    (minimal end => a start qualifies iff some qualifying chain
    exists); single-term degenerates to position <= end; at-rest
    probe bit-identical."""
    import pytest

    from irclogbot_spark.functions.text import (
        build_positional_index,
        span_first_search,
    )
    from irclogbot_spark.operators.textindex import (
        probe_postings,
        write_text_index,
    )

    docs = spark.createDataFrame(
        [
            (1, "slow hash starts the doc"),              # end@2 -> in
            (2, "pad pad pad slow hash late"),            # end@5 -> out for end=4
            (3, "slow pad hash inside slop"),             # window 2, end@3 -> in
            (4, "slow pad pad hash over slop"),           # window 3 > 2 -> out
            (5, "slow hash slow hash again"),             # ends @2 and @4
            (6, "hash slow wrong order only"),            # needs q1 > p; @1? slow@2,hash@1 -> no chain
        ],
        "doc_id long, text string",
    )
    pidx = build_positional_index(docs)
    got = {
        r.doc_id: r.n_spans
        for r in span_first_search(pidx, ["slow", "hash"], end=4, slop=1).collect()
    }
    assert got == {1: 1, 3: 1, 5: 2}
    # boundary tightens: end=2 admits only the opening-position span
    tight = {
        r.doc_id: r.n_spans
        for r in span_first_search(pidx, ["slow", "hash"], end=2, slop=1).collect()
    }
    assert tight == {1: 1, 5: 1}
    # single term: position <= end
    one = {
        r.doc_id: r.n_spans
        for r in span_first_search(pidx, ["hash"], end=2).collect()
    }
    assert one == {1: 1, 5: 1, 6: 1}
    # at-rest probe twin
    path = str(tmp_path / "idx_sf")
    write_text_index(docs, path, n_buckets=8)
    from irclogbot_spark.operators.textindex import read_text_index

    apidx, _l, nb = read_text_index(spark, path)
    at = {
        r.doc_id: r.n_spans
        for r in span_first_search(
            probe_postings(apidx, ["slow", "hash"], nb), ["slow", "hash"],
            end=4, slop=1,
        ).collect()
    }
    assert at == got
    with pytest.raises(ValueError, match="end"):
        span_first_search(pidx, ["slow"], end=0)


def test_span_not_exclusion_semantics(spark, tmp_path):
    """span_not (round 12 — functions/text.py): include spans
    (greedy in-order chain) are dropped when any exclude span
    overlaps the pre/post-widened zone; no exclude postings -> all
    include spans kept (left-join shape); docs whose every span is
    excluded drop out; shared include/exclude terms rejected;
    at-rest probe bit-identical."""
    import pytest

    from irclogbot_spark.functions.text import (
        build_positional_index,
        span_not_search,
    )
    from irclogbot_spark.operators.textindex import (
        probe_postings,
        read_text_index,
        write_text_index,
    )

    docs = spark.createDataFrame(
        [
            (1, "slow hash clean span here"),
            (2, "slow hash scan polluted"),           # scan in post zone
            (3, "scan slow hash polluted front"),     # scan in pre zone
            (4, "slow hash pad pad scan far"),        # scan outside zone
            (5, "slow hash and slow hash scan"),      # 1st clean, 2nd excluded
            (6, "slow pad hash slop span"),           # slop chain, clean
        ],
        "doc_id long, text string",
    )
    pidx = build_positional_index(docs)
    kw = dict(slop=1, pre=1, post=1)
    got = {
        r.doc_id: r.n_spans
        for r in span_not_search(pidx, ["slow", "hash"], ["scan"], **kw).collect()
    }
    assert got == {1: 1, 4: 1, 5: 1, 6: 1}
    # pre/post widen: at pre=post=0 the zone is the span itself, and
    # no scan token sits INSIDE any span — every span survives
    # (doc 2's scan is one past the end, doc 3's one before the
    # start, doc 5's second span ends right before its scan)
    loose = {
        r.doc_id: r.n_spans
        for r in span_not_search(
            pidx, ["slow", "hash"], ["scan"], slop=1, pre=0, post=0
        ).collect()
    }
    assert loose == {1: 1, 2: 1, 3: 1, 4: 1, 5: 2, 6: 1}
    # exclude CHAIN: 'slow pad' adjacent only in doc 6; its hash@3
    # doesn't overlap [1,2] at pre=post=0 -> all docs keep all spans
    chain = {
        r.doc_id: r.n_spans
        for r in span_not_search(pidx, ["hash"], ["slow", "pad"]).collect()
    }
    assert chain == {1: 1, 2: 1, 3: 1, 4: 1, 5: 2, 6: 1}
    # ...but widening PRE by one reaches back to the exclude span
    # ending at position 2 and kills doc 6's hash@3
    chain_wide = {
        r.doc_id: r.n_spans
        for r in span_not_search(
            pidx, ["hash"], ["slow", "pad"], pre=1
        ).collect()
    }
    assert 6 not in chain_wide and chain_wide[5] == 2
    # at-rest probe twin
    path = str(tmp_path / "idx_snot")
    write_text_index(docs, path, n_buckets=8)
    apidx, _l, nb = read_text_index(spark, path)
    at = {
        r.doc_id: r.n_spans
        for r in span_not_search(
            probe_postings(apidx, ["slow", "hash", "scan"], nb),
            ["slow", "hash"], ["scan"], **kw,
        ).collect()
    }
    assert at == got
    with pytest.raises(ValueError, match="shared"):
        span_not_search(pidx, ["slow", "hash"], ["hash"])
    with pytest.raises(ValueError, match="pre/post"):
        span_not_search(pidx, ["slow"], ["scan"], pre=-1)


def test_index_scan_memo_invalidated_on_rewrite(spark, tmp_path):
    """The round-13 analyzed-scan memo must never serve a stale
    FileIndex: rewriting an index path through its writer has to be
    visible to the very next read in the same application."""
    from irclogbot_spark.operators.textindex import (
        read_text_index,
        read_vocab,
        write_text_index,
    )
    from irclogbot_spark.operators.trgm import (
        read_trgm_index,
        trgm_search,
        write_trgm_index,
    )

    path = str(tmp_path / "memo_idx")
    docs1 = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "beta beta delta")], ["doc_id", "text"]
    )
    write_text_index(docs1, path, n_buckets=4)
    pidx, lens, nb = read_text_index(spark, path)
    assert {r.term for r in read_vocab(spark, path).collect()} == {
        "alpha", "beta", "gamma", "delta"
    }
    assert lens.count() == 2
    # second read in the same app returns the memoized frames
    pidx2, _, _ = read_text_index(spark, path)
    assert pidx2 is pidx
    # rewrite with different content — reads must reflect it
    docs2 = spark.createDataFrame(
        [(7, "omega omega"), (8, "omega psi"), (9, "psi chi")],
        ["doc_id", "text"],
    )
    write_text_index(docs2, path, n_buckets=4)
    pidx3, lens3, _ = read_text_index(spark, path)
    assert pidx3 is not pidx
    assert lens3.count() == 3
    assert {r.term for r in read_vocab(spark, path).collect()} == {
        "omega", "psi", "chi"
    }

    tpath = str(tmp_path / "memo_trgm")
    write_trgm_index(docs1, tpath, n_buckets=4)
    idx, tnb = read_trgm_index(spark, tpath)
    hits = {r.doc_id for r in trgm_search(
        docs1, ["beta"], index=idx, index_buckets=tnb).collect()}
    assert hits == {1, 2}
    write_trgm_index(docs2, tpath, n_buckets=4)
    idx2, tnb2 = read_trgm_index(spark, tpath)
    hits2 = {r.doc_id for r in trgm_search(
        docs2, ["omega"], index=idx2, index_buckets=tnb2).collect()}
    assert hits2 == {7, 8}
