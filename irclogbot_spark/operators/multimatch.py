"""ES multi-field retrieval — ``multi_match`` (types best_fields,
most_fields, and cross_fields) and ``match_phrase_prefix``, the
high-traffic search-box query types
(SURVEY.md §2H; the reference's implied search UI — utils.py:93-103's
Flask vestige — is exactly a search box, and every ES search box
issues these; VERDICT r11 next #2).

multi_match best_fields semantics (the ES contract): the query
compiles to a dis_max over per-FIELD match queries. Each field f
scores sum-over-terms of its own BM25 (per-field dl, avgdl, df — a
field is its own corpus in ES) times the field's boost; the doc's
score is max over fields + tie_breaker * (sum - max); a doc matches
when >= 1 term matches in >= 1 field. Per-field sums and the
cross-field total use fixed declaration order, so the scores
value-hash against the SQL twin (the boolquery.py convention).
``most_fields`` keeps the identical per-field frame and replaces the
dis_max combine with the plain sum (ES compiles most_fields to a
bool should over the per-field match queries).

``cross_fields`` (round 13 — VERDICT r12 next #2, the last
multi_match type) is TERM-centric where the other two are
field-centric: ES treats the field group as one logical field for
term statistics (the structured first-name/last-name, street/city
deployment — 'Will Smith' should not reward 'Will' being rare in
last_name). Each term's document frequency BLENDS across the group —
df_blend(t) = max over fields of df_field(t), ES's
BlendedTermQuery — and the term then scores in every field with that
shared df (keeping each field's own dl/avgdl length norm and boost);
the per-term cross-field combine is the dis_max
max + tie_breaker * (sum - max) (ES's dismaxBlendedQuery;
tie_breaker defaults to 0.0 = pure best-of), and the TERMS sum in
declaration order (operator OR). A single field degenerates all
three types to the same score — blending over one field is its own
df and max = sum — the pinned degeneracy test. All arithmetic stays
the engine's rational BM25, so scores value-hash against the SQL
twin.

The ``operator`` knob (round 13) compiles ES's match operator into
the gate: ``and`` under the field-centric types requires one field
to contain ALL terms (that field's match query is an AND; a
non-matching field contributes exactly 0.0), and under cross_fields
requires every term somewhere in the group (term-centric). Gate and
expression changes only — no new dataflow in either physical form.

match_phrase_prefix semantics: a phrase whose LAST position is a
prefix — the query "quick brown f" matches docs containing
"quick brown <token starting with f>". ES expands the prefix against
the term dictionary in TERM ORDER, capped at ``max_expansions``
(default 50 — the same enforced bound fuzzy_term_search got in r11),
and only expanded terms count. Result rows carry the phrase-prefix
occurrence count (every matching start position, overlaps included —
the phrase_count_col convention).

Scale shape:

- multi_match, both forms: the two forms differ only in how they
  build the per-field frame; one projection (``_mm_project``) holds
  the gates, the per-field or cross_fields scores, the combine and
  the top-k. The BM25 pieces are functions/text.py's shared helpers
  (``bm25_scan_columns`` per field, ``bm25_term_scores``), with
  column-name templates for the ``tf_<field>_<i>`` columns.
- multi_match scan form: one projection tokenizes every field once
  (``_toks_<field>``), the next computes per-field dl +
  per-field-per-term tf; ONE global aggregate produces the
  corpus-stats row (n, per-field avgdl, per-field-per-term df) and
  broadcasts back; the per-field scores, the dis_max combine, and
  the gate are map-side expressions; top-k is a partial
  TakeOrdered. Zero corpus shuffles — identical to the boolquery.py
  scan contract.
- multi_match at-rest form: one bucket-pruned postings probe PER
  FIELD INDEX (a field is its own index, as in ES), ONE hit-sized
  pivot over the union of the field probes (dl read from the posting
  rows), per-field stats as literals from each index's stored
  statistics (a doc appears only under fields it hits; a missing
  field contributes exactly 0.0, the same value its tf=0 scan
  expression yields, so the two physical forms stay bit-identical).
- match_phrase_prefix scan form: the prefix expansion is a
  term-type-sized distinct (Heaps-sublinear) cut to max_expansions
  by a total order; candidate starts are found in-row (the
  phrase_search start-position filter) and only MATCHED (id,
  last_token) pairs leave the row — a broadcast join against the
  tiny expansion set and one hit-sized count aggregate finish it.
  Document text never shuffles.
- match_phrase_prefix at-rest form: the expansion walks the vocab
  sidecar (the ES term-dictionary walk — the fuzzy_term_search_atrest
  pruning-boundary contract, textindex.py module docstring), collects
  the <= max_expansions matched types (bounded, the learned-table
  size class), and probes ONLY the fixed phrase terms' + expanded
  terms' postings with literal bucket PartitionFilters; position
  intersection is the phrase_search_indexed algorithm with the last
  offset tested against the union of expansion position lists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from irclogbot_spark.functions.lits import (
    sql_double,
    sql_fold,
    sql_ident,
    sql_in,
    sql_name,
    sql_string,
)
from irclogbot_spark.functions.text import (
    WORD_RE,
    bm25_scan_columns,
    bm25_scan_frame,
    bm25_score_sum,
    bm25_term_scores,
)
from irclogbot_spark.operators.boolquery import (
    _check_no_duplicate_terms,
    _dis_max,
    _top_k,
)


def _norm_fields(fields) -> list[tuple[str, float]]:
    """Accept [(field, boost), ...] or {field: boost} (dict order is
    declaration order); validate non-empty, unique, positive."""
    pairs = list(fields.items()) if isinstance(fields, dict) else [
        (f, float(b)) for f, b in fields
    ]
    if not pairs:
        raise ValueError("multi_match needs at least one field")
    names = [f for f, _ in pairs]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate fields: {names}")
    for f, b in pairs:
        if float(b) <= 0.0:
            raise ValueError(f"field boost must be > 0, got {f}={b}")
    return [(f, float(b)) for f, b in pairs]


def _field_score(
    fname: str, boost: float, n_terms: int, k1: float, b: float, n_col: str = "n"
) -> str:
    """boost * fixed-order sum of per-term BM25 under field ``fname``'s
    own statistics — the per-field match subquery's score. ``n_col``
    names the corpus-size column (the at-rest joined frame carries
    one per field as ``n_<field>``; the scan form one shared ``n``)."""
    score = bm25_score_sum(n_terms, k1, b, **_field_names(fname), n=n_col)
    return f"({sql_double(boost)} * {score})"


def _field_names(fname: str) -> dict:
    """Field ``fname``'s column names in the per-field frame, as the
    templates functions/text.py's BM25 helpers take."""
    return {
        "dl": f"dl_{fname}",
        "tf": f"tf_{fname}_{{i}}",
        "avgdl": f"avgdl_{fname}",
        "df": f"df_{fname}_{{i}}",
    }


#: the supported multi_match types (ES's analyzer-compatible group)
MM_TYPES = ("best_fields", "most_fields", "cross_fields")


def _cross_fields_score(
    pairs: list[tuple[str, float]],
    n_terms: int,
    k1: float,
    b: float,
    tie_breaker: float,
) -> str:
    """The term-centric cross_fields score over the shared per-field
    frame: per term, df blends to the max across the field group
    (BlendedTermQuery), the term scores in each field with that
    shared df (own dl/avgdl norm, own boost), fields combine per
    term as max + tie_breaker * (sum - max), and terms sum in
    declaration order. Pure map-side arithmetic — no extra dataflow
    over the best_fields frame."""
    blended = []
    for i in range(n_terms):
        dfs = [sql_ident(f"df_{fname}_{i}") for fname, _ in pairs]
        blended.append(f"greatest({', '.join(dfs)})" if len(dfs) > 1 else dfs[0])
    by_field = [
        [
            f"({sql_double(boost)} * {s})"
            for s in bm25_term_scores(
                n_terms, k1, b, **{**_field_names(fname), "df": blended}
            )
        ]
        for fname, boost in pairs
    ]
    return sql_fold("+", [_dis_max(list(scores), tie_breaker) for scores in zip(*by_field)])


def _combine_fields(per_field: list[str], mm_type: str, tie_breaker: float) -> str:
    """The field-centric combines: ``best_fields`` is the dis_max
    max + tie_breaker * (sum - max); ``most_fields`` is ES's bool
    should over the per-field matches — the plain fixed-order sum
    (tie_breaker is meaningless there and must stay default).
    ``cross_fields`` never reaches here — it is term-centric and
    goes through :func:`_cross_fields_score`."""
    if mm_type not in ("best_fields", "most_fields"):
        raise ValueError(f"unknown multi_match type {mm_type!r}")
    if mm_type == "most_fields":
        if tie_breaker != 0.0:
            raise ValueError("tie_breaker only applies to best_fields")
        return sql_fold("+", per_field)
    return _dis_max(per_field, tie_breaker)


def _check_mm(mm_type: str, operator: str, terms: list[str]) -> None:
    if mm_type not in MM_TYPES:
        raise ValueError(f"unknown multi_match type {mm_type!r}")
    if operator not in ("or", "and"):
        raise ValueError(f"unknown multi_match operator {operator!r}")
    if not terms:
        raise ValueError("multi_match needs at least one term")
    _check_no_duplicate_terms(list(terms))


def _mm_project(
    j: DataFrame,
    pairs: list[tuple[str, float]],
    n_terms: int,
    tie_breaker: float,
    k: int,
    id_col: str,
    k1: float,
    b: float,
    mm_type: str,
    operator: str,
    n_col: str,
) -> DataFrame:
    """Top-k (id, score) of multi_match over a per-field frame — the
    scan frame or the at-rest pivot, both carrying ``dl_<field>``,
    ``tf_<field>_<i>``, ``avgdl_<field>`` and ``df_<field>_<i>``.
    ``n_col`` names a field's corpus-size column for the
    field-centric types (a template over the field ``f``);
    cross_fields reads the shared ``n``. operator="and" adds its gate
    here; the >= 1-hit gate of operator="or" is the caller's."""

    def full_match(fname: str) -> str:
        return sql_fold("AND", [_hit(fname, i) for i in range(n_terms)])

    if operator == "and":
        if mm_type == "cross_fields":
            # term-centric AND: every term in >= 1 field
            gate = sql_fold(
                "AND",
                [sql_fold("OR", [_hit(fname, i) for fname, _ in pairs]) for i in range(n_terms)],
            )
        else:
            # field-centric AND: some field contains ALL terms (a doc
            # absent from a field's at-rest hit set has tf=0 there)
            gate = sql_fold("OR", [full_match(fname) for fname, _ in pairs])
        j = j.filter(gate)
    if mm_type == "cross_fields":
        score = _cross_fields_score(pairs, n_terms, k1, b, tie_breaker)
    else:
        scores = [
            _field_score(fname, boost, n_terms, k1, b, n_col.format(f=fname))
            for fname, boost in pairs
        ]
        if operator == "and":
            # a field missing a term does not match: it contributes
            # exactly 0.0 (the same literal both physical forms use)
            scores = [
                f"CASE WHEN {full_match(fname)} THEN {s} ELSE 0.0D END"
                for (fname, _), s in zip(pairs, scores)
            ]
        score = _combine_fields(scores, mm_type, tie_breaker)
    return _top_k(j, id_col, score, k)


def _hit(fname: str, i: int) -> str:
    """SQL text: the doc's field ``fname`` contains term ``i``."""
    return f"({sql_ident(f'tf_{fname}_{i}')} > 0)"


def multi_match_best_fields(
    df: DataFrame,
    terms: list[str],
    fields,
    tie_breaker: float = 0.0,
    k: int = 10,
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    mm_type: str = "best_fields",
    operator: str = "or",
) -> DataFrame:
    """Scan-form multi_match: top-k (id_col, score) ordered
    (score desc, id asc). ``fields`` maps field column -> boost
    ([(name, boost), ...] or dict in declaration order). ``mm_type``
    picks the combine over the same per-field frame: ``best_fields``
    (field dis_max, the default), ``most_fields`` (per-field sum —
    ES's the-more-fields-match-the-better variant), or
    ``cross_fields`` (round 13 — term-centric blended-df dis_max,
    the module-docstring semantics; one different map-side
    expression, same zero-shuffle scan shape).

    ``operator`` (round 13 — ES's match-operator knob): ``"or"``
    (default) matches on >= 1 term in >= 1 field. ``"and"`` under
    best/most_fields requires some FIELD to contain ALL terms (the
    per-field match queries compile with operator=and; a field
    missing a term does not match and contributes exactly 0.0 — ES's
    field-centric AND), and under cross_fields requires every TERM
    to appear in >= 1 field (the term-centric AND — the blended
    score expression is unchanged, only the gate tightens). Pure
    gate/expression changes — the zero-shuffle scan shape is
    untouched."""
    _check_mm(mm_type, operator, terms)
    pairs = _norm_fields(fields)
    # NULL field -> '' (round 13, per ADVICE r12): tokenizing a NULL
    # column yields NULL, and F.size(NULL) = -1 would poison dl/tf (a
    # negative tf feeds BM25), while the at-rest form coalesces a
    # missing field to exactly 0.0 — the empty string gives dl=0/tf=0,
    # so a NULL field scores 0.0 in BOTH physical forms (bit-identity
    # preserved). One stats row carries the one shared n.
    j = bm25_scan_frame(
        df,
        [id_col],
        *[
            bm25_scan_columns(
                f"coalesce({sql_ident(fname)}, '')",
                list(terms),
                toks=f"_toks_{fname}",
                n="n" if fi == 0 else None,
                **_field_names(fname),
            )
            for fi, (fname, _) in enumerate(pairs)
        ],
    )
    if operator == "or":
        # the at-rest pivot's hit set is this set: >= 1 term in >= 1 field
        j = j.filter(
            sql_fold("OR", [_hit(fname, i) for fname, _ in pairs for i in range(len(terms))])
        )
    return _mm_project(
        j, pairs, len(terms), tie_breaker, k, id_col, k1, b, mm_type, operator, "n"
    )


def multi_match_best_fields_atrest(
    spark: SparkSession,
    paths,
    terms: list[str],
    boosts,
    tie_breaker: float = 0.0,
    k: int = 10,
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    indexes: dict | None = None,
    mm_type: str = "best_fields",
    operator: str = "or",
) -> DataFrame:
    """multi_match served from PER-FIELD at-rest indexes (a field is
    its own index in ES) — bit-identical to
    :func:`multi_match_best_fields`. ``paths`` maps field -> index
    directory ([(field, path), ...] or dict in declaration order);
    ``boosts`` maps field -> boost; ``indexes`` optionally injects
    pre-loaded (pidx, doclens, n_buckets) frames per field (the
    streamed-index form, whose statistics are collected from the
    frames); ``mm_type`` / ``operator`` as in the scan form
    (operator="and" is a map-side filter over the grouped pivot's
    tf_<field>_<i> columns — a term matches a field where its
    tf > 0 — applied after the pivot: no extra exchange, and the
    pivot's union hit set is a superset of the docs the gate keeps).

    ONE grouped pivot serves every field and every mm_type (round-14
    optimization, VERDICT r13 next #9; guide §2.4): the per-field
    probe hits union into a single (id, field, term, tf, dl) frame
    and ONE doc-keyed aggregation produces all tf_<field>_<i> and
    dl_<field> columns — dl is read from the posting rows, so no
    doclens table is joined. A doc absent from a field's hit set gets
    tf=0 and dl=0 there, and BM25 at tf=0 is exactly +0.0 regardless
    of dl — the same value its scan expression yields — so
    bit-identity with the scan form holds. Each field's statistics
    (n_<field>, avgdl_<field>, df_<field>_<i>) are literals from its
    index's stored meta and vocab sidecars, read for all fields in
    one vocab collect (textindex.py probe_indexes); cross_fields
    carries n once, from the first field (every field's index covers
    the same corpus). The scoring is the scan form's projection."""
    from irclogbot_spark.operators.textindex import probe_indexes

    _check_mm(mm_type, operator, terms)
    path_pairs = list(paths.items()) if isinstance(paths, dict) else list(paths)
    pairs = _norm_fields([(f, dict(boosts)[f]) for f, _ in path_pairs])
    probed = probe_indexes(
        spark,
        [
            indexes[fname] if indexes is not None and fname in indexes else path
            for fname, path in path_pairs
        ],
        list(terms),
        id_col,
    )
    hits = None
    for fi, (h, _stats) in enumerate(probed):
        h = h.selectExpr(sql_ident(id_col), f"{fi} AS `_f`", "`term`", "`tf`", "`dl`")
        hits = h if hits is None else hits.unionByName(h)
    # ONE doc-keyed pivot for all fields: the union hit set IS the
    # union of the per-field hit sets, and a (field, term) the doc
    # missed aggregates to the same coalesced 0 the per-field pivots
    # produced
    joined = hits.groupBy(id_col).agg(
        *[
            F.expr(
                f"coalesce(max(CASE WHEN ((`_f` = {fi}) AND (`term` = {sql_string(t)}))"
                f" THEN `tf` END), 0) AS {sql_name(f'tf_{fname}_{i}')}"
            )
            for fi, (fname, _) in enumerate(path_pairs)
            for i, t in enumerate(terms)
        ],
        *[
            F.expr(
                f"coalesce(max(CASE WHEN (`_f` = {fi}) THEN `dl` END), 0)"
                f" AS {sql_name(f'dl_{fname}')}"
            )
            for fi, (fname, _) in enumerate(path_pairs)
        ],
    )
    stat_cols = [f"{probed[0][1].n_docs} AS `n`"]
    for (fname, _), (_h, stats) in zip(path_pairs, probed):
        stat_cols += stats.columns(
            list(terms), f"n_{fname}", f"avgdl_{fname}", f"df_{fname}_{{i}}"
        )
    return _mm_project(
        joined.selectExpr("*", *stat_cols),
        pairs, len(terms), tie_breaker, k, id_col, k1, b, mm_type, operator, "n_{f}",
    )


def match_phrase_prefix(
    df: DataFrame,
    terms: list[str],
    prefix: str,
    max_expansions: int = 50,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Scan-form match_phrase_prefix: top-k (id_col, phrase_count)
    of docs containing the fixed ``terms`` followed by a token
    starting with ``prefix``, counting only the first
    ``max_expansions`` prefix expansions in term order (ES's
    dictionary-order expansion cap). ``terms`` may be empty — the
    pure prefix query, ES's single-partial-term search box."""
    if not prefix:
        raise ValueError("match_phrase_prefix needs a non-empty prefix")
    if max_expansions is not None and max_expansions <= 0:
        raise ValueError(f"max_expansions must be > 0, got {max_expansions}")
    terms = list(terms or [])
    m = len(terms) + 1
    toks = F.regexp_extract_all(F.col(text_col), F.lit(WORD_RE), F.lit(0))

    # the expansion set: prefix-matching term types in term order,
    # cut to max_expansions — term-type-sized before the cut
    expansions = (
        df.select(F.explode(F.array_distinct(toks)).alias("term"))
        .filter(F.col("term").startswith(prefix))
        .distinct()
    )
    if max_expansions is not None:
        expansions = expansions.orderBy("term").limit(int(max_expansions))

    # candidate starts, fully in-row: positions i where toks[i..i+m-2]
    # equals the fixed terms and toks[i+m-1] starts with the prefix;
    # only matched (id, last_token) pairs leave the row. sequence()
    # runs DESCENDING for n < 1, so short docs guard to empty
    # explicitly (the phrase_count_col convention).
    starts = F.when(
        F.size(toks) >= m, F.sequence(F.lit(1), F.size(toks) - m + 1)
    ).otherwise(F.array().cast("array<int>"))

    def _cand(i):
        cond = F.element_at(toks, i + m - 1).startswith(prefix)
        if terms:
            target = F.array(*[F.lit(t) for t in terms])
            cond = (F.slice(toks, i, m - 1) == target) & cond
        return cond

    lasts = df.select(
        F.col(id_col),
        F.explode(
            F.transform(F.filter(starts, _cand), lambda i: F.element_at(toks, i + m - 1))
        ).alias("_last"),
    )
    return (
        lasts.join(F.broadcast(expansions), lasts["_last"] == expansions["term"])
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("phrase_count"))
        .orderBy(F.desc("phrase_count"), F.asc(id_col))
        .limit(k)
    )


def match_phrase_prefix_atrest(
    spark: SparkSession,
    path: str,
    terms: list[str],
    prefix: str,
    max_expansions: int = 50,
    k: int = 10,
    id_col: str = "doc_id",
    index: tuple | None = None,
) -> DataFrame:
    """match_phrase_prefix served from the at-rest positional index —
    bit-identical counts to :func:`match_phrase_prefix`. The
    expansion walks the vocab sidecar (the term-dictionary walk —
    the fuzzy_term_search_atrest pruning boundary) and collects the
    <= max_expansions matched types (an enforced bound, the r11
    fuzzy convention); only the fixed terms' + expanded terms'
    postings are fetched, bucket-pruned. Position intersection is
    the phrase_search_indexed algorithm with the last offset tested
    against the union of expansion position lists."""
    from irclogbot_spark.operators.textindex import (
        probe_postings,
        read_text_index,
        read_vocab,
    )

    if not prefix:
        raise ValueError("match_phrase_prefix needs a non-empty prefix")
    if max_expansions is not None and max_expansions <= 0:
        raise ValueError(f"max_expansions must be > 0, got {max_expansions}")
    terms = list(terms or [])
    m = len(terms) + 1
    if index is not None:
        pidx, _doclens, n_buckets = index
        vocab = (
            pidx.select("term").distinct()
        )  # streamed frames carry no vocab sidecar; term types only
    else:
        pidx, _doclens, n_buckets = read_text_index(spark, path)
        vocab = read_vocab(spark, path)
    exp = (
        vocab.selectExpr("`term`")
        .filter(f"startswith(`term`, {sql_string(prefix)})")
        .distinct()
    )
    if max_expansions is not None:
        exp = exp.orderBy("term").limit(int(max_expansions))
    expanded = [r[0] for r in exp.collect()]  # bounded: <= max_expansions
    probe = list(dict.fromkeys(terms + expanded))
    if not probe:  # empty prefix expansion with no fixed terms
        return pidx.selectExpr(
            sql_ident(id_col), "CAST(0 AS BIGINT) AS `phrase_count`"
        ).limit(0)
    p = probe_postings(pidx, probe, n_buckets)
    aggs = [
        f"max(CASE WHEN (`term` = {sql_string(t)}) THEN `positions` END) AS `ps{j}`"
        for j, t in enumerate(terms)
    ]
    aggs.append(
        f"flatten(collect_list(CASE WHEN {sql_in('term', expanded)} THEN `positions` END))"
        " AS `exp_pos`"
    )
    per_doc = p.groupBy(id_col).agg(*[F.expr(a) for a in aggs])
    for j in range(len(terms)):
        per_doc = per_doc.filter(f"(`ps{j}` IS NOT NULL)")
    per_doc = per_doc.filter("(size(`exp_pos`) > 0)")
    if terms:
        # a start position x of the fixed terms whose later terms and
        # expansion sit at x + j
        cond = f"array_contains(`exp_pos`, ((x + {m}) - 1))"
        for j in range(1, len(terms)):
            cond = f"(array_contains(`ps{j}`, (x + {j})) AND {cond})"
        count = f"size(filter(`ps0`, x -> {cond}))"
    else:
        count = "size(`exp_pos`)"
    return (
        per_doc.selectExpr(sql_ident(id_col), f"CAST({count} AS BIGINT) AS `phrase_count`")
        .filter("(`phrase_count` > 0)")
        .orderBy(F.desc("phrase_count"), F.asc(id_col))
        .limit(k)
    )
