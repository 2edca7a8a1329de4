"""ES compound queries — ``bool`` (must/should/filter/must_not) and
``dis_max`` (disjunction-max), the two compound types every ES
deployment issues (SURVEY.md §2H; every Kibana search bar compiles
to a bool query, every multi_match best_fields to a dis_max).

bool semantics (the ES contract, reproduced exactly):

- ``must``: every term must match; each contributes its BM25
  per-term score.
- ``should``: optional matches; each MATCHING term adds its BM25
  per-term score, and the doc must match at least
  ``minimum_should_match`` of them. Default: 0 when a must clause
  exists, 1 otherwise. DELIBERATE DEVIATION from ES: real ES also
  defaults msm to 0 when only a filter clause accompanies should,
  admitting zero-scoring filter-only hits (score 0.0). This engine's
  compound contract is that every returned doc has >= 1 scoring hit
  (required for the scan/at-rest bit-identity — the at-rest pivot
  only materializes docs with a postings hit), so with an empty
  ``must`` the msm floor is 1 regardless of ``dl_between``, and an
  explicit ``minimum_should_match <= 0`` with empty must raises
  ValueError. ES's filter-only-match shape is served by
  :func:`constant_score_search` instead.
- ``filter``: non-scoring gate. Modeled as a token-length range
  over the same dl the BM25 norm uses (the ES deployment shape is a
  numeric/date range over a doc-values field; dl is the one numeric
  field both the corpus scan AND the at-rest index carry — in its
  doclens table and in every posting row — so both physical paths
  serve the identical clause).
- ``must_not``: the doc must contain none of these terms;
  contributes no score (ES executes it as a filter-context
  exclusion).
- score = the per-term BM25 contributions of must + should terms
  added IN DECLARATION ORDER (a tf=0 should term contributes exactly
  0.0, so no conditional is needed — the gate conditions and the
  score expression stay independent, the same fixed-order double
  assembly as bm25_rank / bm25_scores_indexed keeps the two physical
  paths and the DuckDB oracle bit-identical).

dis_max semantics: a doc matches when >= 1 clause term matches;
score = max(per-term scores) + tie_breaker * (sum - max) — the
best clause dominates, the others contribute at a discount (ES's
exact formula; tie_breaker=0 is pure best-of, 1.0 degenerates to
the bool should-sum). max/sum/discount use the identical expression
tree in the DuckDB twin (GREATEST + the fixed-order sum), so the
scores value-hash.

Scale shape (every scorer here, both physical paths). The BM25
assembly is shared, in functions/text.py: ``bm25_scan_frame`` /
``bm25_scan_columns`` build the scan frame, ``bm25_term_frame`` the
at-rest one, and ``bm25_term_scores`` / ``bm25_score_sum`` the
per-term scores; each query type here only adds its gates and its
combine, in one ``_<type>_project`` both forms call.

- Scan form: one projection tokenizes each row once (``_toks``), the
  next computes per-doc dl + one tf per referenced term; ONE global
  aggregate produces the corpus-stats row (n, avgdl, per-term df)
  and broadcasts back; the gates and the score are map-side
  expressions; top-k is a partial TakeOrdered. Zero corpus shuffles.
- At-rest form: ONE bucket-pruned postings probe covers all
  referenced terms (literal crc32 bucket list -> PartitionFilters —
  a bool must_not term's postings are READ, bucket-pruned, and used
  as an in-pivot exclusion; the corpus text is never touched); one
  doc-keyed pivot aggregation reassembles per-doc tf columns and
  the dl each posting row carries; n, avgdl and df are literals
  from the index's stored statistics (meta + vocab sidecars).
  Exactly one corpus-hit-sized exchange, and no stats aggregate.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from irclogbot_spark.functions.lits import sql_double, sql_fold, sql_ident, sql_value
from irclogbot_spark.functions.text import (
    WORD_RE,
    bm25_scan_columns,
    bm25_scan_frame,
    bm25_score_sum,
    bm25_term_scores,
)


def _hit(i: int) -> str:
    """SQL text: the doc contains referenced term ``i``."""
    return f"(`tf{i}` > 0)"


def _hit_count(idx) -> str:
    """SQL text: how many of the terms ``idx`` the doc contains, as a
    left-to-right sum of 0/1 cases."""
    return sql_fold("+", [f"CASE WHEN {_hit(i)} THEN 1 ELSE 0 END" for i in idx])


def _dis_max(scores: list[str], tie_breaker: float) -> str:
    """SQL text: max + tie_breaker * (sum - max) over ``scores``."""
    best = f"greatest({', '.join(scores)})" if len(scores) > 1 else scores[0]
    total = sql_fold("+", scores)
    return f"({best} + ({sql_double(tie_breaker)} * ({total} - {best})))"


def _top_k(j: DataFrame, id_col: str, score: str, k: int) -> DataFrame:
    """Top-k (id, score) of the docs in ``j``, ``score`` SQL text."""
    return (
        j.selectExpr(sql_ident(id_col), f"{score} AS `score`")
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def parse_minimum_should_match(spec, n_should: int) -> int | None:
    """ES's minimum_should_match value syntax (round 13): an int (or
    int-string) passes through; ``"N%"`` resolves to N percent of
    the optional clause count ROUNDED DOWN (ES: 'percent of total
    optional clauses, rounded down'); ``"-N%"`` is the
    maximum-missing form — n_should minus floor(N% of n_should)
    ('indicates the max number of optional clauses that may be
    missing'). The combination syntax ('3<90%') is not supported —
    reject loudly rather than mis-resolve."""
    if spec is None or isinstance(spec, int):
        return spec
    s = str(spec).strip()
    if "<" in s:
        raise ValueError(
            f"minimum_should_match combination syntax is not supported: {s!r}"
        )
    if s.endswith("%"):
        try:
            pct = int(s[:-1])
        except ValueError:
            raise ValueError(f"bad minimum_should_match percentage: {s!r}")
        missing_or_needed = (abs(pct) * n_should) // 100
        return (
            n_should - missing_or_needed if pct < 0 else missing_or_needed
        )
    try:
        return int(s)
    except ValueError:
        raise ValueError(f"bad minimum_should_match value: {s!r}")


def _resolve_msm(
    minimum_should_match, must: list[str], should: list[str]
) -> int:
    """Resolve minimum_should_match per the module contract: every
    returned doc needs >= 1 scoring hit, so with empty ``must`` the
    floor is 1 (explicit msm <= 0 there is rejected — the deliberate
    ES deviation documented in the module docstring; use
    constant_score for filter-only matching). Accepts ES's value
    syntax (int, "N", "N%", "-N%" — round 13,
    :func:`parse_minimum_should_match`)."""
    minimum_should_match = parse_minimum_should_match(
        minimum_should_match, len(should)
    )
    if minimum_should_match is not None:
        if not must and should and minimum_should_match <= 0:
            raise ValueError(
                "minimum_should_match <= 0 with no must clause would "
                "admit zero-scoring hits, which the at-rest index "
                "cannot serve (scan/at-rest bit-identity); use "
                "constant_score_search for filter-only matching"
            )
        return minimum_should_match
    # default: should is optional when a must clause exists,
    # required (>= 1) when should is the only scoring clause —
    # including when a dl_between filter is present (the documented
    # deviation from ES's filter-aware default)
    return 0 if must else (1 if should else 0)


def _check_no_duplicate_terms(ref: list[str]) -> None:
    """The at-rest path pivots on the referenced terms —
    ``pivot('term', ref)`` with a repeated value yields ambiguous
    duplicate columns and the reassembly select fails with an
    AnalysisException while the scan form silently accepts the same
    input. Reject duplicates at every public entry point so both
    physical forms agree on the accepted input space."""
    seen: set[str] = set()
    dups: set[str] = set()
    for t in ref:
        (dups if t in seen else seen).add(t)
    if dups:
        dups = sorted(dups)
        raise ValueError(
            f"duplicate terms across clauses are not allowed: {dups}"
        )


def _term_frame_atrest(
    spark: SparkSession,
    path: str,
    ref: list[str],
    id_col: str,
    index: tuple | None = None,
) -> DataFrame:
    """The scan frame (id, dl, tf<i>, n, avgdl, df<i> — functions/text.py
    bm25_scan_frame) reassembled from the at-rest index: one
    bucket-pruned postings probe over every referenced term and one
    doc-keyed pivot agg (functions/text.py bm25_term_frame), with dl
    read from the posting rows and n, avgdl and per-term df as
    literals from the index's stored statistics. The stored df
    equals the scan's tf>0 count because a postings row exists iff
    tf > 0. Docs with zero referenced-term hits are absent — every
    compound gate requires >= 1 scoring hit, so the hit sets agree.

    ``index``: pre-loaded (pidx, doclens, n_buckets) frames — the
    streamed-index form (streaming/textindex.py load_text returns
    frames, not a directory; generation layouts carry no single
    path), whose stats are collected from the frames. Path form
    reads the one-shot artifact."""
    from irclogbot_spark.functions.text import bm25_term_frame
    from irclogbot_spark.operators.textindex import probe_indexes

    [(hits, stats)] = probe_indexes(
        spark, [index if index is not None else path], ref, id_col
    )
    return bm25_term_frame(hits, ref, stats, id_col)


def _bool_project(
    j: DataFrame,
    must: list[str],
    should: list[str],
    must_not: list[str],
    msm: int,
    dl_between: tuple[int, int] | None,
    k: int,
    id_col: str,
    k1: float,
    b: float,
) -> DataFrame:
    n_scoring = len(must) + len(should)
    n_ref = n_scoring + len(must_not)
    score = bm25_score_sum(n_scoring, k1, b)
    n_should = _hit_count(range(len(must), n_scoring)) if should else "0"
    gates = ["true"]
    gates += [_hit(i) for i in range(len(must))]
    gates += [f"(`tf{i}` = 0)" for i in range(n_scoring, n_ref)]
    if dl_between is not None:
        lo, hi = (int(v) for v in dl_between)
        gates.append(f"((`dl` >= {lo}) AND (`dl` <= {hi}))")
    gate = sql_fold("AND", gates)
    out = (
        j.selectExpr(
            sql_ident(id_col),
            f"{score} AS `score`",
            f"CAST({n_should} AS BIGINT) AS `n_should`",
            f"{gate} AS `_g`",
        )
        .filter(f"(`_g` AND (`n_should` >= {int(msm)}))")
        .drop("_g")
    )
    return out.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def bool_search(
    df: DataFrame,
    must: list[str] | None = None,
    should: list[str] | None = None,
    must_not: list[str] | None = None,
    minimum_should_match: int | str | None = None,
    dl_between: tuple[int, int] | None = None,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Scan-form scored bool query. Returns top-k
    (id_col, score, n_should) ordered (score desc, id asc)."""
    must, should, must_not = list(must or []), list(should or []), list(must_not or [])
    if not must and not should:
        raise ValueError("bool query needs at least one must or should term")
    msm = _resolve_msm(minimum_should_match, must, should)
    ref = must + should + must_not
    _check_no_duplicate_terms(ref)
    j = bm25_scan_frame(
        df, [id_col], bm25_scan_columns(sql_ident(text_col), ref, len(must) + len(should))
    )
    return _bool_project(
        j, must, should, must_not, msm, dl_between, k, id_col, k1, b
    )


def bool_search_atrest(
    spark: SparkSession,
    path: str,
    must: list[str] | None = None,
    should: list[str] | None = None,
    must_not: list[str] | None = None,
    minimum_should_match: int | str | None = None,
    dl_between: tuple[int, int] | None = None,
    k: int = 10,
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    index: tuple | None = None,
) -> DataFrame:
    """The bool query served from the at-rest text index —
    bit-identical rows to :func:`bool_search` (same fixed-order
    assembly over the reassembled term frame). ``index`` injects
    pre-loaded (pidx, doclens, n_buckets) frames — the streamed
    generation-layout form."""
    must, should, must_not = list(must or []), list(should or []), list(must_not or [])
    if not must and not should:
        raise ValueError("bool query needs at least one must or should term")
    msm = _resolve_msm(minimum_should_match, must, should)
    ref = must + should + must_not
    _check_no_duplicate_terms(ref)
    j = _term_frame_atrest(spark, path, ref, id_col, index)
    return _bool_project(
        j, must, should, must_not, msm, dl_between, k, id_col, k1, b
    )


def _dis_max_project(
    j: DataFrame,
    terms: list[str],
    tie_breaker: float,
    k: int,
    id_col: str,
    k1: float,
    b: float,
) -> DataFrame:
    score = _dis_max(bm25_term_scores(len(terms), k1, b), tie_breaker)
    gate = sql_fold("OR", [_hit(i) for i in range(len(terms))])
    return _top_k(j.filter(gate), id_col, score, k)


def dis_max_search(
    df: DataFrame,
    terms: list[str],
    tie_breaker: float = 0.3,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Scan-form dis_max: top-k (id_col, score) where score =
    max(per-term BM25) + tie_breaker * (sum - max); a doc matches
    when >= 1 term matches."""
    if not terms:
        raise ValueError("dis_max needs at least one term")
    _check_no_duplicate_terms(list(terms))
    j = bm25_scan_frame(df, [id_col], bm25_scan_columns(sql_ident(text_col), list(terms)))
    return _dis_max_project(j, list(terms), tie_breaker, k, id_col, k1, b)


def dis_max_search_atrest(
    spark: SparkSession,
    path: str,
    terms: list[str],
    tie_breaker: float = 0.3,
    k: int = 10,
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    index: tuple | None = None,
) -> DataFrame:
    """dis_max served from the at-rest index — bit-identical to
    :func:`dis_max_search` (the >= 1-hit gate matches the pivot's
    natural hit set, so no absent-doc asymmetry exists). ``index``
    injects pre-loaded frames, the streamed form."""
    if not terms:
        raise ValueError("dis_max needs at least one term")
    _check_no_duplicate_terms(list(terms))
    j = _term_frame_atrest(spark, path, list(terms), id_col, index)
    return _dis_max_project(j, list(terms), tie_breaker, k, id_col, k1, b)


def _boosting_project(
    j: DataFrame,
    positive: list[str],
    negative: list[str],
    negative_boost: float,
    k: int,
    id_col: str,
    k1: float,
    b: float,
) -> DataFrame:
    n_pos = len(positive)
    score = bm25_score_sum(n_pos, k1, b)
    pos_gate = sql_fold("OR", [_hit(i) for i in range(n_pos)])
    if negative:
        neg_match = sql_fold("OR", [_hit(i) for i in range(n_pos, n_pos + len(negative))])
        score = (
            f"({score} * CASE WHEN {neg_match} THEN {sql_double(negative_boost)} "
            f"ELSE 1.0D END)"
        )
    return _top_k(j.filter(pos_gate), id_col, score, k)


def boosting_search(
    df: DataFrame,
    positive: list[str],
    negative: list[str],
    negative_boost: float = 0.5,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """ES ``boosting`` query: docs matching >= 1 positive term,
    scored by the positive terms' fixed-order BM25 sum, DEMOTED (not
    excluded — the difference from bool must_not) by
    ``negative_boost`` when any negative term also matches. The
    demotion is one multiplication on the same expression tree both
    engines evaluate, so scores value-hash."""
    if not positive:
        raise ValueError("boosting needs at least one positive term")
    ref = list(positive) + list(negative or [])
    _check_no_duplicate_terms(ref)
    j = bm25_scan_frame(
        df, [id_col], bm25_scan_columns(sql_ident(text_col), ref, len(positive))
    )
    return _boosting_project(
        j, list(positive), list(negative or []), negative_boost, k, id_col, k1, b
    )


def boosting_search_atrest(
    spark: SparkSession,
    path: str,
    positive: list[str],
    negative: list[str],
    negative_boost: float = 0.5,
    k: int = 10,
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    index: tuple | None = None,
) -> DataFrame:
    """boosting served from the at-rest index (the negative terms'
    postings are read bucket-pruned into the pivot's demotion
    column) — bit-identical to :func:`boosting_search`."""
    if not positive:
        raise ValueError("boosting needs at least one positive term")
    ref = list(positive) + list(negative or [])
    _check_no_duplicate_terms(ref)
    j = _term_frame_atrest(spark, path, ref, id_col, index)
    return _boosting_project(
        j, list(positive), list(negative or []), negative_boost, k, id_col, k1, b
    )


def constant_score_search(
    df: DataFrame,
    filter_terms: list[str],
    boost: float = 1.0,
    dl_between: tuple[int, int] | None = None,
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ES ``constant_score`` query: a pure filter-context match
    (every filter term present + the optional dl range) scoring
    every hit exactly ``boost`` — the cacheable no-relevance wrapper
    ES deployments put around term/range filters. Deterministic page:
    first k hits by id (scores are all equal, so id IS the sort
    key). Scan form is map-only — no stats row is even computed."""
    if not filter_terms:
        raise ValueError("constant_score needs at least one filter term")
    toks = F.regexp_extract_all(F.col(text_col), F.lit(WORD_RE), F.lit(0))
    gate = reduce(
        operator.and_,
        [F.size(F.filter(toks, lambda x: x == F.lit(t))) > 0 for t in filter_terms],
    )
    if dl_between is not None:
        lo, hi = dl_between
        gate = gate & F.size(toks).between(F.lit(int(lo)), F.lit(int(hi)))
    return (
        df.filter(gate)
        .select(F.col(id_col), F.lit(float(boost)).alias("score"))
        .orderBy(F.asc(id_col))
        .limit(k)
    )


def constant_score_search_atrest(
    spark: SparkSession,
    path: str,
    filter_terms: list[str],
    boost: float = 1.0,
    dl_between: tuple[int, int] | None = None,
    k: int = 20,
    id_col: str = "doc_id",
    index: tuple | None = None,
) -> DataFrame:
    """constant_score from the at-rest index: the all-terms-present
    gate is a bucket-pruned postings probe + one doc-keyed distinct
    count (no tf, no stats); dl joins only when the range clause
    needs it — bit-identical to :func:`constant_score_search`."""
    from irclogbot_spark.operators.textindex import (
        probe_postings,
        read_text_index,
    )

    if not filter_terms:
        raise ValueError("constant_score needs at least one filter term")
    terms = list(dict.fromkeys(filter_terms))
    pidx, doclens, n_buckets = (
        index if index is not None else read_text_index(spark, path)
    )
    hits = (
        probe_postings(pidx, terms, n_buckets)
        .groupBy(id_col)
        .agg(F.count_distinct(F.col("term")).alias("_nt"))
        .filter(F.col("_nt") == F.lit(len(terms)))
        .select(id_col)
    )
    if dl_between is not None:
        lo, hi = dl_between
        hits = hits.join(
            doclens.filter(F.col("dl").between(F.lit(int(lo)), F.lit(int(hi)))),
            id_col,
            "left_semi",
        )
    return (
        hits.select(F.col(id_col), F.lit(float(boost)).alias("score"))
        .orderBy(F.asc(id_col))
        .limit(k)
    )


def _terms_set_project(
    j: DataFrame,
    terms: list[str],
    msm_col: str,
    k: int,
    id_col: str,
    k1: float,
    b: float,
) -> DataFrame:
    score = bm25_score_sum(len(terms), k1, b)
    n_matched = f"CAST({_hit_count(range(len(terms)))} AS BIGINT)"
    # the engine-wide >= 1-scoring-hit floor (the at-rest pivot only
    # materializes hit docs): a per-doc msm of 0 or less clamps to 1
    # — the module-docstring deviation, same reasoning as bool msm
    req = f"greatest(CAST({sql_ident(msm_col)} AS BIGINT), CAST(1 AS BIGINT))"
    return (
        j.selectExpr(
            sql_ident(id_col),
            f"{score} AS `score`",
            f"{n_matched} AS `n_matched`",
            f"({n_matched} >= {req}) AS `_g`",
        )
        .filter("`_g`")
        .drop("_g")
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def terms_set_search(
    df: DataFrame,
    terms: list[str],
    msm_col: str,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """ES ``terms_set`` query (round 12 — §2H): match the ``terms``
    where the REQUIRED count comes from a per-document field
    (``minimum_should_match_field`` — the classic skills/tags
    deployment: a job posting row says how many of the searched
    skills it requires). A doc matches when its number of matching
    terms >= its own msm field (clamped to >= 1 — the engine's
    >= 1-scoring-hit contract); score = the fixed-order BM25 sum of
    the matching terms (tf=0 terms contribute exactly 0.0). Returns
    top-k (id, score, n_matched). Scan form: the msm field rides the
    same in-row projection as the tf columns — zero corpus
    shuffles."""
    if not terms:
        raise ValueError("terms_set needs at least one term")
    _check_no_duplicate_terms(list(terms))
    j = bm25_scan_frame(
        df, [id_col, msm_col], bm25_scan_columns(sql_ident(text_col), list(terms))
    )
    return _terms_set_project(j, list(terms), msm_col, k, id_col, k1, b)


def terms_set_search_atrest(
    spark: SparkSession,
    path: str,
    corpus: DataFrame,
    terms: list[str],
    msm_col: str,
    k: int = 10,
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    index: tuple | None = None,
) -> DataFrame:
    """terms_set from the at-rest index: BM25 inputs from the
    bucket-pruned probe, the per-doc msm FIELD from a column-pruned
    corpus fetch (the stored-fields read — the function_score
    convention), joined co-keyed on the id. Bit-identical to
    :func:`terms_set_search` (the clamp makes the zero-hit
    divergence unreachable, as in bool)."""
    if not terms:
        raise ValueError("terms_set needs at least one term")
    _check_no_duplicate_terms(list(terms))
    j = _term_frame_atrest(spark, path, list(terms), id_col, index)
    j = j.join(corpus.select(id_col, msm_col), id_col)
    return _terms_set_project(j, list(terms), msm_col, k, id_col, k1, b)


def _function_factor(spec: dict, fields: dict) -> str:
    """One ES score function as a SQL-text factor (``fields`` maps a
    field name to its SQL text). Supported kinds —
    all pure rational arithmetic, so the factors value-hash against
    the SQL twin (the gauss/exp decays need exp(), which differs
    across libms in the last ulp and could never hash — the linear
    decay is the one ES decay shape with exact cross-engine
    semantics, the same reasoning as bm25_rank's rational idf):

    - field_value_factor: factor * field (ES modifier 'none';
      missing -> the ``missing`` default, ES's own knob)
    - weight: a constant
    - linear_decay: max(0, (s - max(0, |v - origin| - offset)) / s)
      with s = scale / (1 - decay) — ES's exact linear decay
      (factor = decay at distance offset+scale, 1.0 inside offset)
    """
    kind = spec["kind"]
    if kind == "field_value_factor":
        v = (
            f"coalesce(CAST({fields[spec['field']]} AS DOUBLE), "
            f"{sql_double(spec.get('missing', 1.0))})"
        )
        return f"({sql_double(spec.get('factor', 1.0))} * {v})"
    if kind == "weight":
        return sql_double(spec["weight"])
    if kind == "linear_decay":
        decay = float(spec.get("decay", 0.5))
        scale = float(spec["scale"])
        # decay=1.0 would divide by zero at plan-build; ES itself
        # requires 0 < decay < 1 and a positive scale
        if not (0.0 < decay < 1.0):
            raise ValueError(f"linear_decay requires 0 < decay < 1, got {decay}")
        if scale <= 0.0:
            raise ValueError(f"linear_decay requires scale > 0, got {scale}")
        s = sql_double(scale / (1.0 - decay))
        dist = f"abs(({fields[spec['field']]} - {sql_value(spec['origin'])}))"
        offset = float(spec.get("offset", 0.0))
        if offset:
            dist = f"greatest(0.0D, ({dist} - {sql_double(offset)}))"
        return f"greatest(0.0D, (({s} - {dist}) / {s}))"
    raise ValueError(f"unknown score function kind {kind!r}")


def _function_score_project(
    j: DataFrame,
    terms: list[str],
    functions: list[dict],
    field_cols: dict,
    score_mode: str,
    boost_mode: str,
    k: int,
    id_col: str,
    k1: float,
    b: float,
) -> DataFrame:
    # validate modes up front — with <= 1 function the combine
    # branches never run, so a typo'd mode would otherwise silently
    # behave like the default
    if score_mode not in ("multiply", "sum"):
        raise ValueError(f"unknown score_mode {score_mode!r}")
    if boost_mode not in ("multiply", "sum"):
        raise ValueError(f"unknown boost_mode {boost_mode!r}")
    qscore = bm25_score_sum(len(terms), k1, b)
    combine = {"multiply": "*", "sum": "+"}
    combined = None
    for spec in functions:
        f = _function_factor(spec, field_cols)
        combined = f if combined is None else f"({combined} {combine[score_mode]} {f})"
    score = qscore if combined is None else f"({qscore} {combine[boost_mode]} {combined})"
    gate = sql_fold("OR", [_hit(i) for i in range(len(terms))])
    return _top_k(j.filter(gate), id_col, score, k)


def function_score_search(
    df: DataFrame,
    terms: list[str],
    functions: list[dict],
    score_mode: str = "multiply",
    boost_mode: str = "multiply",
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """ES function_score query: the match's fixed-order BM25 sum
    reshaped by document-level score functions (field boosts,
    constant weights, linear decay — the recency/popularity-boost
    deployment). Factors combine per ``score_mode`` in declaration
    order, then fold into the query score per ``boost_mode`` —
    identical expression trees in the SQL twin. Scan form: the
    function fields ride the same in-row projection as the tf
    columns; still zero corpus shuffles."""
    if not terms:
        raise ValueError("function_score needs at least one term")
    _check_no_duplicate_terms(list(terms))
    fields = sorted({s["field"] for s in functions if "field" in s})
    j = bm25_scan_frame(
        df, [id_col, *fields], bm25_scan_columns(sql_ident(text_col), list(terms))
    )
    return _function_score_project(
        j, list(terms), functions, {f: sql_ident(f) for f in fields},
        score_mode, boost_mode, k, id_col, k1, b,
    )


def _expand_fuzzy(
    vocab: DataFrame,
    stems: list[str],
    exclude: set[str],
    max_dist: int,
    max_expansions: int,
) -> list[str]:
    """Expand each fuzzy stem against a (term, df) dictionary frame
    to the vocabulary types within banded Levenshtein <= max_dist,
    in ES's TOP-FREQUENCY REWRITE order (df desc, term asc — the
    fuzzy_term_search_atrest convention), capped PER STEM at
    max_expansions. Terms already referenced by another clause (or
    by an earlier stem) are excluded BEFORE the cap — the round-13
    prefix-expansion convention (querystring._expand_prefixes): a
    stem always yields the full max_expansions new terms when the
    dictionary has them; the excluded term's extra should-clause
    score is the same documented deviation. The driver-side collect
    is bounded by len(stems) * max_expansions (the enforced-bound
    convention, VERDICT r10 wrong #3)."""
    if max_dist < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    if max_expansions is None or max_expansions <= 0:
        raise ValueError(f"max_expansions must be > 0, got {max_expansions}")
    out: list[str] = []
    for s in stems:
        skip = set(exclude) | set(out)
        dist = F.levenshtein(F.col("term"), F.lit(s), max_dist)
        cand = vocab.filter(
            (F.abs(F.length("term") - F.lit(len(s))) <= F.lit(max_dist))
            & (dist >= 0)
            & (dist <= max_dist)
        )
        if skip:
            cand = cand.filter(~F.col("term").isin(sorted(skip)))
        cand = cand.orderBy(F.desc("df"), F.asc("term")).limit(
            int(max_expansions)
        )
        out.extend(r["term"] for r in cand.collect())  # bounded
    return out


def bool_fuzzy_search(
    df: DataFrame,
    must: list[str] | None = None,
    should: list[str] | None = None,
    must_not: list[str] | None = None,
    fuzzy: list[str] | None = None,
    max_dist: int = 1,
    max_expansions: int = 50,
    minimum_should_match: int | str | None = None,
    dl_between: tuple[int, int] | None = None,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """ES bool query with FUZZY clauses (round 13 — VERDICT r12 next
    #4: ES ``match`` accepts ``fuzziness`` inside compound queries;
    a Kibana search bar with a typo compiles to exactly this). Each
    ``fuzzy`` stem expands against the corpus term dictionary
    (banded Levenshtein <= max_dist, ES's top-frequency rewrite
    order, capped at max_expansions per stem) and the expansions
    join the SHOULD list — ES relaxes a multi-expansion fuzzy clause
    to a should group the same way, and the compiled query IS
    :func:`bool_search`, so every scale property (zero corpus
    shuffles beyond the term-type distinct; the expansion is a
    Heaps-sublinear vocabulary aggregate) and the output contract
    (id, score, n_should) are inherited, not reimplemented.

    Raises when no positive clause survives (the programmer-facing
    bool contract); route raw search-box input through
    simple_query_string for the never-throws behavior."""
    must = list(must or [])
    should = list(should or [])
    must_not = list(must_not or [])
    stems = list(fuzzy or [])
    if stems:
        toks = F.regexp_extract_all(F.col(text_col), F.lit(WORD_RE), F.lit(0))
        vocab = (
            df.select(
                F.col(id_col),
                F.explode(F.array_distinct(toks)).alias("term"),
            )
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"))
        )
        should = should + _expand_fuzzy(
            vocab,
            stems,
            set(must + should + must_not),
            max_dist,
            max_expansions,
        )
    return bool_search(
        df,
        must=must,
        should=should or None,
        must_not=must_not or None,
        minimum_should_match=minimum_should_match,
        dl_between=dl_between,
        k=k,
        id_col=id_col,
        text_col=text_col,
        k1=k1,
        b=b,
    )


def bool_fuzzy_search_atrest(
    spark: SparkSession,
    path: str,
    must: list[str] | None = None,
    should: list[str] | None = None,
    must_not: list[str] | None = None,
    fuzzy: list[str] | None = None,
    max_dist: int = 1,
    max_expansions: int = 50,
    minimum_should_match: int | str | None = None,
    dl_between: tuple[int, int] | None = None,
    k: int = 10,
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    index: tuple | None = None,
) -> DataFrame:
    """bool_fuzzy_search served from the at-rest index: the fuzzy
    expansion walks the VOCAB SIDECAR (the ES term-dictionary walk —
    the fuzzy_term_search_atrest pruning boundary; the sidecar's df
    column equals the scan's per-type document count, so the
    top-frequency rewrite picks bit-identical expansions), then the
    compiled bool query runs through :func:`bool_search_atrest`'s
    bucket-pruned probe — bit-identical to the scan form. ``index``
    injects pre-loaded (pidx, doclens, n_buckets) frames (the
    streamed form; df derives from the postings since a streamed
    index carries no sidecar)."""
    must = list(must or [])
    should = list(should or [])
    must_not = list(must_not or [])
    stems = list(fuzzy or [])
    if stems:
        from irclogbot_spark.operators.textindex import read_vocab

        vocab = (
            index[0].groupBy("term").agg(F.count(F.lit(1)).alias("df"))
            if index is not None
            else read_vocab(spark, path).select("term", "df")
        )
        should = should + _expand_fuzzy(
            vocab,
            stems,
            set(must + should + must_not),
            max_dist,
            max_expansions,
        )
    return bool_search_atrest(
        spark,
        path,
        must=must,
        should=should or None,
        must_not=must_not or None,
        minimum_should_match=minimum_should_match,
        dl_between=dl_between,
        k=k,
        id_col=id_col,
        k1=k1,
        b=b,
        index=index,
    )


def function_score_search_atrest(
    spark: SparkSession,
    path: str,
    corpus: DataFrame,
    terms: list[str],
    functions: list[dict],
    score_mode: str = "multiply",
    boost_mode: str = "multiply",
    k: int = 10,
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    index: tuple | None = None,
) -> DataFrame:
    """function_score from the at-rest index: BM25 inputs from the
    bucket-pruned probe, the function FIELDS from a column-pruned
    corpus fetch (the stored-fields/doc-values read — the collapse
    convention), joined co-keyed on the id. Bit-identical to
    :func:`function_score_search`."""
    if not terms:
        raise ValueError("function_score needs at least one term")
    _check_no_duplicate_terms(list(terms))
    fields = sorted({s["field"] for s in functions if "field" in s})
    j = _term_frame_atrest(spark, path, list(terms), id_col, index)
    if fields:
        j = j.join(corpus.select(id_col, *fields), id_col)
    return _function_score_project(
        j, list(terms), functions, {f: sql_ident(f) for f in fields},
        score_mode, boost_mode, k, id_col, k1, b,
    )
