"""Edit-distance near-duplicate detection (q-gram count-filter join).

The fourth near-dup modality beside MinHash-Jaccard (operators/
dedup.py), SimHash (ibid.) and embedding-cosine (operators/
semdedup.py): find pairs within Levenshtein distance d — the signal
that catches small in-place corruptions (OCR noise, template fills,
encoding mangling) that token-set measures dilute and embeddings
smooth over.

Design is the classic approximate-string-join pipeline (Gravano et
al., VLDB 2001: "Approximate String Joins in a Database (Almost) for
Free"; count filter after Sutinen & Tarhio):

1. distinct positional q-grams per document, computed IN-ROW
   (sequence -> transform -> array_distinct -> explode) and
   immediately compressed to `xxhash64(gram)` longs — gram STRINGS
   never enter a shuffle (at 100 TB the q-gram rowset is
   O(total corpus chars); 8-byte longs with long comparators beat
   string keys on both shuffle bytes and sort cost), and text never
   enters one either;
2. stop-gram cull: gram hashes appearing in > max_df documents are
   dropped (the winnow stop-fingerprint / LSH max_bucket
   convention) — this caps the per-gram pair fan-out at max_df^2 no
   matter how boilerplate-heavy the corpus. The df count is its own
   partial-aggregated pass (NOT a collect_set-then-filter: a
   boilerplate gram with df in the billions must die in a partial
   agg, never materialize as one task's array);
3. bucket: the culled (hash, id) rows group into per-gram id arrays
   of size <= max_df, REUSING the cull join's hash partitioning
   (no new exchange), and candidate pairs expand IN-ROW from each
   array (<= max_df^2/2 per bucket) — there is no gram-keyed
   self-join at all; the only pair-shaped shuffle is the bare
   (id, id) partial-agg count;
4. verify: exact Levenshtein over the candidate pairs only — the
   THREE-ARG `F.levenshtein(l, r, threshold)` so the JVM runs the
   banded O(len*d) DP, not the full O(len^2); texts are joined back
   ONLY for the (tiny) candidate set, un-hinted so AQE broadcasts
   the candidate frame when small.

Hashing grams is exact for the count filter, not a heuristic trade:
with h = xxhash64, |h(GA) \\ h(GB)| <= |GA \\ GB| <= q*d, so
|h(GA) ∩ h(GB)| >= |h(GA)| - q*d and the length-dependent bound
below still never drops a true pair; a collision can only ADD a
candidate (killed by the Levenshtein verify) or, vanishingly
(~n^2/2^65 across the corpus), perturb a df count. The DuckDB
oracle twin keeps raw gram strings — parity is value-exact at test
SFs, which also pins collision-freedom there.

The count-filter threshold is length-dependent, not a constant:

    shared >= max(min_shared, min(n_kept_a, n_kept_b) - q*d)

This bound is EXACT, not heuristic: an edit overlaps at most q
positional grams, so at most q*d distinct gram strings of A are
absent from B's gram set; and because the cull is by global gram
string (df is a property of g, not of the doc), any kept gram of A
that survives in B's gram set is kept for B too — hence
|kept_a ∩ kept_b| >= n_kept - q*d. A constant threshold is either
too loose for long boilerplate-heavy docs (at sf0.01 a flat 10
admits 58k candidate pairs; the dynamic rule admits 11k with
identical final output) or kills short-doc recall (a flat 40 loses
163 of 218 true pairs at sf0.1). `min_shared` is only the floor for
docs shorter than (min_shared + q*d + q - 1) chars, where the
subtraction goes nonpositive — those are best-effort, as any
blocked scheme must be.

Never an all-pairs comparison: the quadratic form exists only in the
DuckDB oracle's eyes (the oracle replicates the same candidate
generation, so engine and oracle agree exactly — `docs_editdist_
neardup` in queries.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from irclogbot_spark.functions.lits import literal_frame


def qgrams(text: Column | str, q: int = 8) -> Column:
    """Distinct positional q-grams of ``text`` as an in-row array.
    Texts shorter than q contribute their whole (single) prefix gram
    — substring clamps identically in Spark and DuckDB."""
    col = F.col(text) if isinstance(text, str) else text
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(col) - (q - 1), F.lit(1))),
            lambda i: col.substr(i, F.lit(q)),
        )
    )


def editdist_neardup(
    docs: DataFrame,
    *,
    q: int = 8,
    max_df: int = 50,
    min_shared: int = 10,
    max_dist: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Pairs of documents within Levenshtein distance ``max_dist``,
    blocked by the exact q-gram count filter (see module docstring).
    Returns (id_a, id_b, shared, dist), id_a < id_b."""
    from irclogbot_spark.plans.partitioning import ensure_parallelism

    d = docs.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_text"))
    # gram extraction is the CPU-dominant stage (O(total corpus chars)
    # explode): spread it across the cluster even when the input is a
    # single small file/partition (the sf0.1 layout)
    d_wide = ensure_parallelism(d)
    # (id, gram-hash) longs — the only corpus-sized rowset; strings stay in-row
    gid = d_wide.select(
        "_id", F.explode(qgrams("_text", q)).alias("g")
    ).select("_id", F.xxhash64("g").alias("gh"))
    # df cull via partial-aggregated count: a billion-df stop gram dies
    # map-side, never as one task's collected array
    dfc = gid.groupBy("gh").agg(F.count(F.lit(1)).alias("_df"))
    kept = gid.join(dfc.filter(F.col("_df") <= max_df), "gh").select("_id", "gh")
    n_kept = kept.groupBy("_id").agg(F.count(F.lit(1)).alias("n_kept"))
    # bucket ids per surviving gram (<= max_df each, reuses the join's
    # gh partitioning) and expand candidate pairs IN-ROW — no self-join
    buckets = kept.groupBy("gh").agg(F.collect_set("_id").alias("ids"))
    pair_arr = F.flatten(
        F.transform(
            F.col("ids"),
            lambda a: F.filter(
                F.transform(
                    F.col("ids"),
                    lambda b: F.struct(a.alias("id_a"), b.alias("id_b")),
                ),
                lambda s: s["id_a"] < s["id_b"],
            ),
        )
    )
    cand = (
        buckets.select(F.explode(pair_arr).alias("p"))
        .select("p.id_a", "p.id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    nka = n_kept.select(F.col("_id").alias("id_a"), F.col("n_kept").alias("_nka"))
    nkb = n_kept.select(F.col("_id").alias("id_b"), F.col("n_kept").alias("_nkb"))
    cand = (
        cand.join(nka, "id_a")
        .join(nkb, "id_b")
        .filter(
            F.col("shared")
            >= F.greatest(
                F.lit(min_shared), F.least("_nka", "_nkb") - F.lit(q * max_dist)
            )
        )
        .select("id_a", "id_b", "shared")
    )
    ta = d.select(F.col("_id").alias("id_a"), F.col("_text").alias("_ta"))
    tb = d.select(F.col("_id").alias("id_b"), F.col("_text").alias("_tb"))
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .withColumn("dist", F.levenshtein("_ta", "_tb", max_dist))
        .filter((F.col("dist") >= 0) & (F.col("dist") <= max_dist))
        .select("id_a", "id_b", "shared", "dist")
    )


def fuzzy_term_search(
    df: DataFrame,
    terms: list[str],
    max_dist: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    postings: DataFrame | None = None,
) -> DataFrame:
    """ES-style fuzzy term query (the reference's implied search
    surface, SURVEY §2H: `{"fuzzy": {"value": t, "fuzziness": d}}`
    against the irclog/documents index): every (term, doc) pair
    where the doc contains a TOKEN within Levenshtein distance
    <= max_dist of the term. Plain Levenshtein (no transposition
    discount), matching the ANSI twin.

    Scale shape — the Zipf split the unigram segmenter uses: the DP
    runs per token TYPE, not per occurrence. One distinct shuffle
    compresses the corpus to its vocabulary; the tiny term list
    BROADCASTS against it with an in-row length prefilter
    (|len(tok)-len(term)| <= d — a Levenshtein lower bound) ahead of
    the banded three-arg levenshtein (JVM O(len*d) DP, -1 above the
    threshold); the few matching types then broadcast-join back to
    the (id, type) postings — candidate-only, the trgm verify
    convention. Text never enters an exchange; the only corpus-sized
    shuffles are the two distincts.

    ``postings`` (optional): a persisted (id, term[, ...]) text
    index — functions/text.py build_text_index's postings frame —
    serves BOTH the vocabulary and the doc hits instead of the
    corpus scan, so ONE materialized index answers BM25, fuzzy, and
    more-like-this queries (the ES deployment shape). The default
    inline path scans the corpus twice (vocab + hits), both
    map-only; materializing is the caller's trade.

    Returns distinct (term, doc_id) rows.
    """
    if not terms:
        raise ValueError("need at least one term")
    if max_dist < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    from irclogbot_spark.operators.dedup import tokens

    spark = df.sparkSession
    tdf = literal_frame(spark, [(t,) for t in terms], "term string")
    if postings is not None:
        toks = postings.select(F.col(id_col), F.col("term").alias("tok"))
    else:
        toks = df.select(
            F.col(id_col),
            F.explode(F.array_distinct(tokens(text_col))).alias("tok"),
        )
    vocab = toks.select("tok").distinct()
    dist = F.levenshtein(F.col("tok"), F.col("term"), max_dist)
    matches = vocab.join(
        F.broadcast(tdf),
        (F.abs(F.length("tok") - F.length("term")) <= F.lit(max_dist))
        & (dist >= 0)
        & (dist <= max_dist),
    )
    return (
        toks.join(F.broadcast(matches.select("tok", "term")), "tok")
        .select("term", F.col(id_col))
        .distinct()
    )
