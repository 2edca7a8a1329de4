"""Product quantization (PQ) for embedding similarity at corpus
scale — the compressed-scan ANN path beside SRP-LSH (ann_topk) and
IVF (ivf_topk): Jegou et al., "Product Quantization for Nearest
Neighbor Search" (TPAMI 2011).

Why it exists at 100 TB: a 64-dim float32 embedding is 256 bytes; its
PQ code (8 subspaces x 16 codewords) is 8 SMALL ints — a 30x+ scan
reduction. The corpus is encoded ONCE (map-only, plan-constant
codebooks), stored beside the id, and every subsequent query scans
only the code column with per-query lookup tables (ADC — asymmetric
distance computation): no fold over 64 doubles per (query, row), just
M table lookups and M adds. An optional exact rerank touches raw
vectors for the tiny ADC top-R candidate set only.

Determinism (the oracle contract, same recipe as the IVF trainer in
operators/similarity.py): the trainer accumulates floor(x * 2^30) as
BIGINT — associative integer addition makes the learned codebooks a
pure function of the corpus under ANY partitioning, and
``train_pq_codebooks_local`` replicates them bit-for-bit on the
driver so the DuckDB twin can inline them as literals. Assignment
uses argmax(dot(sub, codeword) - ||codeword||^2 / 2) — equivalent to
nearest-by-L2 but expressed through the dot-product kernel both
engines evaluate identically (sequential left-folds / DuckDB's
data x data list_dot_product); the bias and squared norms are
plan constants inlined on both sides.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from irclogbot_spark.operators.similarity import (
    _argmax_cell,
    _cos_pre,
    as_double,
    dot,
    norm,
)
from irclogbot_spark.plans.partitioning import ensure_parallelism

#: fixed-point scale for the trainer's order-free integer accumulation
_PQ_QUANT = 1 << 30


def _fold_sq(vals: list[float]) -> float:
    """||v||^2 as the sequential left fold both engines use."""
    acc = 0.0
    for x in vals:
        acc = acc + x * x
    return acc


def _book_lit(book: list[list[float]]):
    """One plan-constant literal array of (cvec, bias, c2) structs per
    subspace, shipped as a SINGLE parsed SQL expression. Two measured
    fixed-overhead fixes live here (emb_pq_topk was ~7.5 s at ANY
    data size — sf0.01 == sf0.1 within 10%): (1) score/lut
    expressions run F.transform OVER this array — one lambda tree
    evaluated K times at runtime instead of K unrolled fold-dot
    trees, identical arithmetic, ~K-times smaller plans; (2) the
    table itself is F.expr-parsed — per-element F.lit/F.array calls
    cost one py4j round-trip EACH, and plan construction alone
    measured 4-10 s of driver time (see functions/lits.py for the
    exactness argument: repr + 'D' inverts to the identical
    double)."""
    from irclogbot_spark.functions.lits import sql_double

    items = ",".join(
        "named_struct('cvec', array({vs}), 'bias', {b}, 'c2', {c2})".format(
            vs=",".join(sql_double(x) for x in c),
            b=sql_double(_fold_sq(c) / 2.0),
            c2=sql_double(_fold_sq(c)),
        )
        for c in book
    )
    return F.expr(f"array({items})")


def _check_books(books: list[list[list[float]]]) -> tuple[int, int, int]:
    n_sub, n_codes, sub = len(books), len(books[0]), len(books[0][0])
    for b in books:
        if len(b) != n_codes or any(len(c) != sub for c in b):
            raise ValueError("ragged codebook structure")
    return n_sub, n_codes, sub


def _slices(df: DataFrame, vcol: str, n_sub: int, sub: int) -> DataFrame:
    """Materialize the per-subspace slices once — score expressions
    below reference each slice n_codes times, and an unmaterialized
    slice would be re-evaluated per reference."""
    return df.select(
        "*", *[F.slice(F.col(vcol), m * sub + 1, sub).alias(f"_sv{m}") for m in range(n_sub)]
    )


def _assign_codes(sliced: DataFrame, books: list[list[list[float]]]) -> DataFrame:
    """Append _c{m} code columns: first-argmax of the biased dot
    scores, with the score arrays materialized in their own
    projection (array_position + array_max reference the operand
    twice — see similarity._argmax_cell)."""
    n_sub = len(books)

    def _score(m: int):
        # closure helper: a 2-arg lambda would make F.transform pass
        # the ELEMENT INDEX as the second argument
        return F.transform(
            _book_lit(books[m]),
            lambda s: dot(F.col(f"_sv{m}"), s["cvec"]) - s["bias"],
        )

    scored = sliced.select(
        "*", *[_score(m).alias(f"_sc{m}") for m in range(n_sub)]
    )
    return scored.select(
        "*", *[_argmax_cell(F.col(f"_sc{m}")).alias(f"_c{m}") for m in range(n_sub)]
    )


def train_pq_codebooks(
    corpus: DataFrame,
    n_sub: int = 8,
    n_codes: int = 16,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Train per-subspace codebooks (n_sub x n_codes x dim/n_sub) by
    k-means on each subspace independently.

    Distributed shape: ONE plan per iteration covers all subspaces —
    assignment is a map-only projection against plan-constant
    codewords, the update explodes (subspace, cell, dim) and
    partially aggregates before its single shuffle, and only the
    n_sub x n_codes x subdim codeword table (1k doubles here)
    returns to the driver per round. Init is deterministic: codeword
    c of subspace m is the m-th slice of the c-th vector by id.
    Empty cells keep their previous codeword.
    """
    # ONE materialization of the slim (id, vector) projection for the
    # whole training loop (round-13 optimization): every iteration
    # re-reads it for assignment + update, and without the barrier
    # each of the n_iter rounds (plus the seed collect) re-ran the
    # scan + repartition. The checkpointed frame is
    # O(corpus embeddings) on local disk — the trade every iterative
    # trainer here budgets (prep.py convention).
    vecs = (
        ensure_parallelism(corpus)
        .select(F.col(id_col).alias("_id"), as_double(vec_col).alias("v"))
        .localCheckpoint(eager=True)
    )
    seed_rows = vecs.orderBy("_id").limit(n_codes).collect()
    if len(seed_rows) < n_codes:
        raise ValueError(f"corpus smaller than n_codes={n_codes}")
    dim = len(seed_rows[0].v)
    if dim % n_sub != 0:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    sub = dim // n_sub
    books = [
        [list(r.v[m * sub : (m + 1) * sub]) for r in seed_rows] for m in range(n_sub)
    ]
    for _ in range(n_iter):
        assigned = _assign_codes(_slices(vecs.select("v"), "v", n_sub, sub), books)
        exploded = assigned.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(m).alias("m"),
                            F.col(f"_c{m}").alias("cell"),
                            F.col(f"_sv{m}").alias("sv"),
                        )
                        for m in range(n_sub)
                    ]
                )
            ).alias("e")
        ).select("e.m", "e.cell", F.posexplode("e.sv").alias("d", "x"))
        sums = (
            exploded.groupBy("m", "cell", "d")
            .agg(
                F.sum(F.floor(F.col("x") * F.lit(float(_PQ_QUANT))).cast("long")).alias(
                    "s"
                ),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        new = [[list(c) for c in book] for book in books]
        for r in sums:
            new[r.m][r.cell][r.d] = (r.s / _PQ_QUANT) / r.n
        books = new
    return books


def train_pq_codebooks_local(
    rows: list[tuple[int, list[float]]],
    n_sub: int = 8,
    n_codes: int = 16,
    n_iter: int = 5,
) -> list[list[list[float]]]:
    """Driver-side replica of ``train_pq_codebooks`` — bit-identical
    by construction (for oracle-building and trainer verification):
    dots are sequential left folds, assignment takes the FIRST
    argmax, accumulation sums floor(x * 2^30) in exact integers, and
    the mean runs the identical (s / 2^30) / n float division."""
    rows = sorted(rows, key=lambda r: r[0])
    if len(rows) < n_codes:
        raise ValueError(f"corpus smaller than n_codes={n_codes}")
    dim = len(rows[0][1])
    if dim % n_sub != 0:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    sub = dim // n_sub
    books = [
        [list(v[m * sub : (m + 1) * sub]) for _, v in rows[:n_codes]]
        for m in range(n_sub)
    ]
    for _ in range(n_iter):
        sums = [[[0] * sub for _ in range(n_codes)] for _ in range(n_sub)]
        counts = [[0] * n_codes for _ in range(n_sub)]
        for _, v in rows:
            for m in range(n_sub):
                sv = v[m * sub : (m + 1) * sub]
                scores = []
                for c in books[m]:
                    acc = 0.0
                    for x, y in zip(sv, c):
                        acc = acc + x * y  # left fold, F.aggregate order
                    scores.append(acc - _fold_sq(c) / 2.0)
                cell = scores.index(max(scores))  # first argmax
                counts[m][cell] += 1
                srow = sums[m][cell]
                for d, x in enumerate(sv):
                    srow[d] += math.floor(x * float(_PQ_QUANT))
        new = [[list(c) for c in book] for book in books]
        for m in range(n_sub):
            for cell in range(n_codes):
                n = counts[m][cell]
                if n > 0:
                    for d in range(sub):
                        new[m][cell][d] = (sums[m][cell][d] / _PQ_QUANT) / n
        books = new
    return books


def pq_encode(
    corpus: DataFrame,
    books: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes) — the stored form of the index. Map-only: slices
    and biased-dot score arrays are plan-constant expressions; at
    scale this is the write-once pass whose output replaces the raw
    vector column in every subsequent scan."""
    n_sub, _, sub = _check_books(books)
    base = ensure_parallelism(corpus).select(
        F.col(id_col), as_double(vec_col).alias("v")
    )
    coded = _assign_codes(_slices(base, "v", n_sub, sub), books)
    return coded.select(
        F.col(id_col), F.array(*[F.col(f"_c{m}") for m in range(n_sub)]).alias("codes")
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    books: list[list[list[float]]],
    k: int = 5,
    rerank: int = 0,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k: approximate squared-L2 of each query against every
    corpus CODE — sum over subspaces of a per-query lookup table
    entry — then (optionally) exact-cosine rerank of the ADC top-R.

    Scale shape: the per-query M x K lookup tables are built on the
    broadcast query side (||q_m||^2 - 2 q_m . c + ||c||^2, all
    plan-constant except the query); the corpus side touches ONLY the
    codes column — no 64-double fold per pair, M element_at + M adds.
    With rerank > 0 the raw vectors are read back for just the
    nq x rerank ADC survivors via a broadcast hash join on id.

    Returns (query_id, vec_id, adc_dist, pq_rank) for the ADC-only
    form, plus cosine when rerank > 0 (pq_rank then orders by exact
    cosine DESC with the adc candidate set).
    """
    n_sub, n_codes, sub = _check_books(books)
    if rerank and rerank < k:
        raise ValueError(f"rerank ({rerank}) must be >= k ({k})")
    enc = pq_encode(corpus, books, id_col=corpus_id, vec_col=vec_col)
    q0 = queries.select(F.col(query_id), as_double(vec_col).alias("qv"))
    q1 = _slices(q0, "qv", n_sub, sub)
    q2 = q1.select(
        "*",
        *[
            dot(F.col(f"_sv{m}"), F.col(f"_sv{m}")).alias(f"_q2{m}")
            for m in range(n_sub)
        ],
    )
    def _lut_row(m: int):
        return F.transform(
            _book_lit(books[m]),
            lambda s: F.col(f"_q2{m}")
            - F.lit(2.0) * dot(F.col(f"_sv{m}"), s["cvec"])
            + s["c2"],
        )

    lut = F.array(*[_lut_row(m) for m in range(n_sub)])
    qlut = q2.select(F.col(query_id), F.col("qv"), lut.alias("lut"))
    adc = F.aggregate(
        F.zip_with(F.col("codes"), F.col("lut"), lambda code, row: F.element_at(row, code + 1)),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    w_adc = Window.partitionBy(query_id).orderBy(F.asc("adc_dist"), F.asc(corpus_id))
    scored = (
        enc.join(F.broadcast(qlut), F.col(corpus_id) != F.col(query_id))
        .select(query_id, corpus_id, F.col("qv"), adc.alias("adc_dist"))
        .withColumn("pq_rank", F.row_number().over(w_adc))
    )
    if not rerank:
        return scored.filter(F.col("pq_rank") <= k).select(
            query_id, corpus_id, "adc_dist", "pq_rank"
        )
    cand = scored.filter(F.col("pq_rank") <= rerank).select(
        query_id, corpus_id, "qv", "adc_dist"
    )
    vecs = corpus.select(
        F.col(corpus_id),
        as_double(vec_col).alias("cv"),
        norm(as_double(vec_col)).alias("cn"),
    )
    w_cos = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.asc(corpus_id))
    return (
        vecs.join(F.broadcast(cand), corpus_id)
        .select(
            query_id,
            corpus_id,
            "adc_dist",
            _cos_pre(
                dot(F.col("cv"), F.col("qv")),
                F.col("cn"),
                F.sqrt(dot(F.col("qv"), F.col("qv"))),
            ).alias("cosine"),
        )
        .withColumn("pq_rank", F.row_number().over(w_cos))
        .filter(F.col("pq_rank") <= k)
    )


def encode_ivfpq(
    corpus: DataFrame,
    centroids: list[list[float]],
    books: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The stored IVF-PQ index rows (id, cell, codes, <vec_col>):
    one map-only pass against both frozen learned tables. A
    deployment writes this partitioned by cell (the probe then runs
    as parquet partition pruning) and probes forever; the streaming
    twin (streaming/annindex.py) appends new batches with the same
    projection."""
    from irclogbot_spark.operators.similarity import _argmax_cell, _cell_dots

    n_sub, _, sub = _check_books(books)
    base = ensure_parallelism(corpus).select(
        F.col(id_col), F.col(vec_col), as_double(vec_col).alias("v")
    )
    celled = base.select(
        "*", _cell_dots(F.col("v"), centroids).alias("_cd")
    ).select(F.col(id_col), F.col(vec_col), F.col("v"), _argmax_cell(F.col("_cd")).alias("cell"))
    return _assign_codes(_slices(celled, "v", n_sub, sub), books).select(
        F.col(id_col),
        F.col("cell"),
        F.array(*[F.col(f"_c{m}") for m in range(n_sub)]).alias("codes"),
        F.col(vec_col),
    )


def ivfpq_search(
    index: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    books: list[list[list[float]]],
    k: int = 5,
    n_probe: int = 4,
    rerank: int = 20,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a PRE-ENCODED IVF-PQ index (``encode_ivfpq`` rows — in
    memory or loaded back from the cell-partitioned parquet a
    deployment maintains): per-query probe cells + ADC lookup tables
    built on the broadcast side, candidates from the (broadcast)
    cell join — partition pruning at rest — ADC top-R, exact-cosine
    rerank against the index's own vector column."""
    n_sub, n_codes, sub = _check_books(books)
    if rerank < k:
        raise ValueError(f"rerank ({rerank}) must be >= k ({k})")
    enc = index.select(F.col(corpus_id), F.col("cell"), F.col("codes"))
    # query side: probed cells (the ivf_topk recipe — (-dot, cell)
    # structs sorted, sliced to n_probe) plus the per-query ADC lut
    q0 = queries.select(F.col(query_id), as_double(vec_col).alias("qv"))
    from irclogbot_spark.functions.lits import lit_double_matrix

    cl = lit_double_matrix(centroids)
    cell_dots = F.transform(
        cl,
        lambda c, j: F.struct(
            (-dot(F.col("qv"), c)).alias("negdot"), j.cast("int").alias("cell")
        ),
    )
    q1 = _slices(q0, "qv", n_sub, sub)
    q2 = q1.select(
        "*",
        *[
            dot(F.col(f"_sv{m}"), F.col(f"_sv{m}")).alias(f"_q2{m}")
            for m in range(n_sub)
        ],
    )

    def _lut_row(m: int):
        return F.transform(
            _book_lit(books[m]),
            lambda s: F.col(f"_q2{m}")
            - F.lit(2.0) * dot(F.col(f"_sv{m}"), s["cvec"])
            + s["c2"],
        )

    lut = F.array(*[_lut_row(m) for m in range(n_sub)])
    qp = q2.select(
        F.col(query_id),
        F.col("qv"),
        lut.alias("lut"),
        F.explode(F.slice(F.array_sort(cell_dots), 1, n_probe)).alias("p"),
    ).select(query_id, "qv", "lut", F.col("p.cell").alias("cell"))
    adc = F.aggregate(
        F.zip_with(
            F.col("codes"), F.col("lut"), lambda code, row: F.element_at(row, code + 1)
        ),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    w_adc = Window.partitionBy(query_id).orderBy(F.asc("adc_dist"), F.asc(corpus_id))
    cand = (
        enc.join(F.broadcast(qp), "cell")
        .filter(F.col(corpus_id) != F.col(query_id))
        .select(query_id, corpus_id, F.col("qv"), adc.alias("adc_dist"))
        .withColumn("_ar", F.row_number().over(w_adc))
        .filter(F.col("_ar") <= rerank)
        .select(query_id, corpus_id, "qv", "adc_dist")
    )
    vecs = index.select(
        F.col(corpus_id),
        as_double(vec_col).alias("cv"),
        norm(as_double(vec_col)).alias("cn"),
    )
    w_cos = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.asc(corpus_id))
    return (
        vecs.join(F.broadcast(cand), corpus_id)
        .select(
            query_id,
            corpus_id,
            "adc_dist",
            _cos_pre(
                dot(F.col("cv"), F.col("qv")),
                F.col("cn"),
                F.sqrt(dot(F.col("qv"), F.col("qv"))),
            ).alias("cosine"),
        )
        .withColumn("pq_rank", F.row_number().over(w_cos))
        .filter(F.col("pq_rank") <= k)
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    books: list[list[list[float]]],
    k: int = 5,
    n_probe: int = 4,
    rerank: int = 20,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ — the production ANN index shape (FAISS's default)
    re-expressed relationally: coarse IVF cells bound WHICH rows are
    touched (each query probes n_probe of n_cells — on disk the cell
    is a partition column, so the probe is parquet partition
    PRUNING), PQ codes bound the BYTES per touched row (ADC lookup
    instead of a 64-double fold), and the exact-cosine rerank reads
    raw vectors for only the ADC top-R.

    One-shot composition of ``encode_ivfpq`` + ``ivfpq_search`` —
    both trainers are the deterministic integer-quantized recipe, so
    the full pipeline value-hashes against an ANSI twin with both
    learned tables inlined.
    """
    return ivfpq_search(
        encode_ivfpq(corpus, centroids, books, id_col=corpus_id, vec_col=vec_col),
        queries,
        centroids,
        books,
        k=k,
        n_probe=n_probe,
        rerank=rerank,
        corpus_id=corpus_id,
        query_id=query_id,
        vec_col=vec_col,
    )


# --------------------------------------------------------------- SQ8
def sq8_train_bounds(df: DataFrame, vec_col: str = "embedding", dim: int = 64):
    """Per-dimension (min, max) of the floor-milli-quantized corpus —
    the learned table of scalar quantization (faiss SQ8): 2*dim
    BIGINTs, a bounded plan constant like the PQ codebooks. One
    partial-agg pass; integer mins/maxes are associative, so the
    bounds are a pure function of the corpus under any partitioning.
    Returns (mins, maxes) as Python lists."""
    from irclogbot_spark.operators.projection import quantize_milli

    q = quantize_milli(vec_col)
    aggs = []
    for i in range(dim):
        aggs.append(F.min(F.element_at(q, i + 1)).alias(f"mn{i}"))
        aggs.append(F.max(F.element_at(q, i + 1)).alias(f"mx{i}"))
    row = df.agg(*aggs).collect()[0]
    return (
        [int(row[f"mn{i}"]) for i in range(dim)],
        [int(row[f"mx{i}"]) for i in range(dim)],
    )


def sq8_error_stats(
    df: DataFrame,
    mins: list[int],
    maxes: list[int],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector SQ8 round-trip error: encode each milli-quantized
    coordinate to a byte code clamp((m - min) * 255 DIV range,
    0, 255) — the clamp is real SQ8 behavior AND the cross-engine
    guard: a vector OUTSIDE the trained bounds (bounds from corpus A
    applied to corpus B) has negative/overflowing d where truncating
    and flooring division disagree by one, but both clamp to the
    same 0/255. Decode is min + code * range DIV 255; sum/max
    absolute error in milli units. Divisions are exact-integer by
    range: |d*255| <= 255*range and code*range <= 255*range, both
    far under 2^53, so the double division + truncate equals integer
    DIV for the clamped operands on both engines. Map-only against
    the plan-constant bounds (zero exchanges; the projection-operator
    rule). Constant dimensions (range 0) encode to code 0 and
    reconstruct exactly."""
    from irclogbot_spark.functions.lits import lit_long_array
    from irclogbot_spark.operators.projection import quantize_milli

    q = quantize_milli(vec_col)
    mn = lit_long_array(mins)
    rng = lit_long_array([mx - m for m, mx in zip(mins, maxes)])

    def _err(d, r):
        code = F.greatest(
            F.lit(0).cast("long"),
            F.least(
                F.lit(255).cast("long"),
                ((d * F.lit(255)).cast("long") / r).cast("long"),
            ),
        )
        recon = (code * r / F.lit(255)).cast("long")
        return F.abs(d - F.when(r > 0, recon).otherwise(F.lit(0)).cast("long"))

    errs = F.zip_with(F.zip_with(q, mn, lambda m, lo: m - lo), rng, _err)
    return ensure_parallelism(df).select(
        F.col(id_col),
        F.aggregate(
            errs, F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("sum_abs_err_milli"),
        F.array_max(errs).cast("long").alias("max_abs_err_milli"),
    )
