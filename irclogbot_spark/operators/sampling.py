"""Deterministic sampling & splitting for training-data pipelines.

Every operator here is a pure function of row content — no F.rand, no
RDD sampling: at 100 TB a sample must be REPRODUCIBLE (same corpus →
same sample, regardless of partitioning, task retries, or cluster
size), and downstream stages (dedup verdicts, eval splits) must be
able to re-derive membership without storing it. The mechanism is the
same hash-bucket arithmetic the engine's LSH and salting use:
``pmod(xxhash64(key, salt), 1_000_000)`` as a uniform draw.

All map-only except the per-group reservoir (one shuffle on the
group key). Scale notes per operator.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from irclogbot_spark.functions.lits import sql_ident
from irclogbot_spark.plans.partitioning import ensure_parallelism

#: resolution of the uniform draw (1e-6 rate granularity)
_DENOM = 1_000_000


def _draw(key_cols: list[str], salt: str) -> Column:
    """Uniform integer in [0, _DENOM) derived from row content — the
    per-row coin that makes every sampler below deterministic."""
    return F.pmod(
        F.xxhash64(F.lit(salt), *[F.col(c) for c in key_cols]), F.lit(_DENOM)
    )


def portable_draw(key_cols: list[str], salt: str) -> Column:
    """Same uniform draw under a hash with an exact ANSI twin (the
    md5-prefix fold the MinHash oracle mode uses — dedup.md5_hash31):
    ``CAST('0x' || substr(md5(concat_ws(chr(31), salt, keys...)), 1, 15)
    AS BIGINT) % 1000000``. Slower than xxhash64 (md5 + string parse),
    so it is the ORACLE-CHECK draw; production paths keep ``_draw``.
    Keys are cast to string, joined with an \\x1f separator (never in
    the data) so the concatenation is injective."""
    s = F.concat_ws(
        "\x1f", F.lit(salt), *[F.col(c).cast("string") for c in key_cols]
    )
    h = F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
    return F.pmod(h, F.lit(_DENOM).cast("long"))


def consistent_sample(
    df: DataFrame, rate: float, key_cols: list[str], salt: str = "sample", draw_fn=None
) -> DataFrame:
    """Bernoulli(rate) sample keyed on row content: map-only, no
    shuffle, stable under repartition/retry, and CONSISTENT — the
    same key draws the same verdict in every run and every table,
    so a document and its derived rows (chunks, embeddings) can be
    sampled coherently by sharing key_cols. Change ``salt`` to draw
    an independent sample. ``draw_fn`` swaps the hash (see
    portable_draw)."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    return df.filter((draw_fn or _draw)(key_cols, salt) < int(rate * _DENOM))


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    stratum_col: str,
    key_cols: list[str],
    default_rate: float = 0.0,
    salt: str = "sample",
    draw_fn=None,
) -> DataFrame:
    """Per-stratum Bernoulli rates (e.g. downsample boilerplate-heavy
    sources, keep rare languages at 1.0) — the corpus-mixing knob of
    an LLM data pipeline. Map-only: the rate lookup is a literal CASE
    on the stratum column, the draw is the same content hash; no
    shuffle, no per-stratum pass."""
    for s, r in rates.items():
        if not 0.0 <= r <= 1.0:
            raise ValueError(f"rate for stratum {s!r} must be in [0, 1], got {r}")
    rate = F.lit(int(default_rate * _DENOM))
    for s, r in rates.items():
        rate = F.when(F.col(stratum_col) == s, F.lit(int(r * _DENOM))).otherwise(rate)
    return df.filter((draw_fn or _draw)(key_cols, salt) < rate)


def split_thresholds(weights: dict[str, float]) -> list[tuple[str, int]]:
    """Cumulative integer draw-thresholds for all but the last split
    name (the last catches the remainder). Shared by split_columns
    and the oracle-SQL builder so both sides inherit the SAME float
    rounding — re-deriving ``int(acc * _DENOM)`` independently risks
    an off-by-one at e.g. 0.8 + 0.1."""
    total = sum(weights.values())
    if total <= 0:
        raise ValueError("weights must sum to > 0")
    out = []
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name] / total
        out.append((name, int(acc * _DENOM)))
    return out


def split_columns(
    key_cols: list[str], weights: dict[str, float], salt: str = "split", draw_fn=None
) -> Column:
    """Label column assigning each row to one split ('train'/'val'/
    'test'...) by hash range — disjoint, exhaustive, and stable: a
    row never migrates between splits across runs, the property that
    keeps eval sets uncontaminated as the corpus grows. Weights are
    normalized; boundaries are cumulative integer thresholds."""
    draw = (draw_fn or _draw)(key_cols, salt)
    expr = None
    for name, thresh in split_thresholds(weights):
        cond = draw < thresh
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = F.lit(list(weights)[-1])
    return last if expr is None else expr.otherwise(last)


def train_test_split(
    df: DataFrame,
    weights: dict[str, float],
    key_cols: list[str],
    salt: str = "split",
    draw_fn=None,
) -> DataFrame:
    """df plus a 'split' label column (see split_columns)."""
    return df.withColumn("split", split_columns(key_cols, weights, salt, draw_fn))


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "lsplit",
    draw_fn=None,
) -> DataFrame:
    """Train/val/test split whose assignment atom is the NEAR-DUP
    CLUSTER, not the document: connected components over the
    near-duplicate ``pairs`` (d1, d2) collapse to a min-id label, and
    the split draw keys on that label — so every member of a cluster
    lands in the SAME split, and a test document can never have a
    near-duplicate sibling in train (the eval-leakage failure mode a
    per-doc hash split cannot prevent: GPT-3 appendix C documents
    shipping exactly this bug).

    Returns one row per input doc: ``(id_col, cluster_id, split)``.
    Docs in no pair are their own singleton cluster. Inherits
    split_columns' stability: clusters never migrate between splits
    as the corpus grows, as long as the cluster's min id is stable.

    Scale shape: ``pairs`` comes from any bucketed candidate
    generator (MinHash LSH default elsewhere; exact jaccard_pairs for
    the oracle-checkable path); components are the iterative min-label
    propagation (O(diameter) rounds over narrow (a, b) edges —
    near-dup clusters are shallow); the split itself is one map-only
    CASE over the label. The only corpus-sized join is the left join
    of ids to the component table.
    """
    from irclogbot_spark.operators.dedup import neardup_components

    comp = neardup_components(pairs).withColumnRenamed("doc_id", "_cid")
    base = (
        df.select(F.col(id_col))
        .join(comp, F.col(id_col) == F.col("_cid"), "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("cluster_id"), F.col(id_col)).alias("cluster_id"),
        )
    )
    return base.withColumn(
        "split", split_columns(["cluster_id"], weights, salt, draw_fn)
    )


def reservoir_per_group(
    df: DataFrame,
    group_cols: list[str],
    k: int,
    key_cols: list[str],
    salt: str = "reservoir",
    draw_fn=None,
) -> DataFrame:
    """Deterministic fixed-size uniform sample per group: rank rows by
    their content hash inside each group, keep the k smallest — the
    order statistics of a uniform draw, i.e. a reservoir sample whose
    membership is reproducible. One shuffle on group_cols; with
    partial TakeOrdered semantics unavailable per-group, skewed
    groups are bounded by the rank filter, not collected. ``draw_fn``
    swaps the hash (see portable_draw)."""
    w = Window.partitionBy(*group_cols).orderBy(
        (draw_fn or _draw)(key_cols, salt), *[F.col(c) for c in key_cols]
    )
    return (
        df.withColumn("_rs_rank", F.row_number().over(w))
        .filter(F.col("_rs_rank") <= k)
        .drop("_rs_rank")
    )


def temperature_sample(
    df: DataFrame,
    group_col: str,
    key_cols: list[str],
    budget_frac: float = 0.5,
    salt: str = "temp",
    draw_fn=None,
    tau: float = 2.0,
) -> DataFrame:
    """Temperature-based corpus resampling — the multilingual mixing
    rule (XLM-R / mT5 style): group g's share of the output is
    proportional to n_g^(1/tau) instead of n_g, so head groups are
    downweighted and tail groups upweighted, with total expected
    output ~= budget_frac * N. Per-group keep probability
    p_g = min(1, budget_frac * N * q_g / n_g) with
    q_g = n_g^(1/tau) / sum_h n_h^(1/tau); membership is the same
    deterministic content-hash draw as every sampler here.
    tau=1 is proportional sampling, tau -> inf approaches a uniform
    per-group share.

    Scale shape: ONE count aggregate over the group key, a broadcast
    of the (tiny) per-group probability table, then a map-only
    filtered scan — the corpus is never shuffled.

    Cross-engine exactness: the shares are quantized to integers
    (floor(n_g^(1/tau) * 2^20)) before the cross-group sum — a float
    sum's order is engine/partition-dependent, an integer sum is not
    (the IVF trainer's trick) — and the draw compares against
    floor(p_g * 1e6) as an integer. At the DEFAULT tau=2 the share
    stays on IEEE correctly-rounded sqrt, so the quantized integers
    are engine-exact and the oracle value-hashes — that is the
    checked configuration. Any other tau routes through pow(),
    whose last ulp is libm-dependent: a quantization boundary could
    in principle land differently on another engine, so general-tau
    runs are deterministic WITHIN Spark but are property-tested
    rather than oracle-hashed (the repo's standard split)."""
    if tau <= 0:
        raise ValueError(f"tau must be > 0, got {tau}")
    n = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_g"))
    if tau == 2.0:
        share = F.sqrt(F.col("n_g").cast("double"))
    else:
        share = F.pow(F.col("n_g").cast("double"), F.lit(1.0 / float(tau)))
    n = n.withColumn(
        "sq_g",
        F.floor(share * F.lit(float(1 << 20))).cast("long"),
    )
    tot = n.agg(F.sum("n_g").alias("n_total"), F.sum("sq_g").alias("zq"))
    p_keep = F.least(
        F.lit(1.0),
        (
            (F.lit(float(budget_frac)) * F.col("n_total").cast("double"))
            * F.col("sq_g").cast("double")
        )
        / F.col("zq").cast("double")
        / F.col("n_g").cast("double"),
    )
    p = n.crossJoin(F.broadcast(tot)).select(group_col, p_keep.alias("p_keep"))
    draw = (draw_fn or _draw)(key_cols, salt)
    return df.join(F.broadcast(p), group_col).filter(
        draw < F.floor(F.col("p_keep") * F.lit(1000000.0)).cast("long")
    )


def token_budget_cap(
    df: DataFrame,
    budget_tokens: int,
    group_cols: list[str],
    key_cols: list[str],
    n_tokens_col: str = "n_tokens",
    salt: str = "budget",
    draw_fn=None,
) -> DataFrame:
    """Cap each group's total token mass at ``budget_tokens`` — the
    per-source/domain budget step of corpus mixing (a 100 TB corpus
    is never trained whole; each domain gets a token allowance).

    Docs are admitted in content-hash draw order (deterministic,
    repartition/retry-stable, uniformly random w.r.t. content) until
    the group's RUNNING total would exceed the budget: a doc is kept
    iff the cumulative token count through itself is <= budget. One
    window (= one shuffle on group_cols) over rows carrying only the
    hash + token count; no collect, no per-group loop. Skewed groups
    cost what any window does — rows stream through the running sum.

    Returns the surviving rows with their draw and cumulative-token
    audit columns (``_bc_draw``, ``cum_tokens``)."""
    draw = (draw_fn or _draw)(key_cols, salt)
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("_bc_draw", *[F.col(c) for c in key_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn("_bc_draw", draw)
        .withColumn("cum_tokens", F.sum(n_tokens_col).over(w))
        .filter(F.col("cum_tokens") <= budget_tokens)
    )


def pps_systematic_sample(
    df: DataFrame,
    n: int,
    weight_col: str,
    id_col: str = "doc_id",
    salt: str = "pps",
    draw_fn=None,
    buckets: int = 256,
) -> DataFrame:
    """Probability-proportional-to-size SYSTEMATIC sampling — the
    survey-statistics workhorse for size-weighted corpus subsets
    (bigger documents proportionally likelier, deterministic, no
    float randomness): rows are laid on a line in pseudo-random order
    (content-hash draw), integer weights accumulate, and every
    ``stride = total_w DIV n``-th point on the line picks the row
    whose weight interval covers it. Rows with w >= stride can cover
    several stride points but are emitted ONCE (sampling without
    replacement). Returns the selected rows with their draw/cum
    columns dropped; expected count ≈ n (exact up to stride
    rounding).

    Scale shape — the global running total is computed as a
    DISTRIBUTED PREFIX SUM, not a single-partition window: the draw
    range splits into ``buckets`` aligned sub-ranges; per-bucket
    totals (a tiny partial agg) prefix-sum on one ~buckets-row frame,
    broadcast back as offsets, and each bucket computes its local
    running total under ``Window.partitionBy(bucket)`` — bounded
    window partitions at ANY corpus size, bit-identical to the
    single-window form (integer sums, aligned boundaries). The
    oracle is the plain global-window SQL.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    draw_fn = draw_fn or _draw
    d = ensure_parallelism(df).select(
        "*",
        draw_fn([id_col], salt).alias("_draw"),
        F.col(weight_col).cast("long").alias("_w"),
    ).withColumn(
        "_bucket", F.floor(F.col("_draw") * buckets / _DENOM).cast("int")
    )
    per_bucket = d.groupBy("_bucket").agg(F.sum("_w").alias("_bw"))
    w_off = Window.orderBy("_bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = per_bucket.select(
        "_bucket",
        (F.sum("_bw").over(w_off) - F.col("_bw")).alias("_off"),
        F.sum("_bw").over(
            Window.orderBy("_bucket").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("_total"),
    )
    w_in = Window.partitionBy("_bucket").orderBy("_draw", id_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = (
        d.join(F.broadcast(offsets), "_bucket")
        .withColumn("_cum", F.col("_off") + F.sum("_w").over(w_in))
    )
    # selection: the row's (prev, cum] interval contains a stride
    # multiple <=> floor(prev/stride) < floor(cum/stride); integer DIV
    # (no float division anywhere — exact at any magnitude)
    stride = F.greatest(F.lit(1).cast("long"), F.expr(f"_total DIV {int(n)}"))
    return (
        cum.withColumn("_stride", stride)
        .filter(F.expr("(_cum - _w) DIV _stride") < F.expr("_cum DIV _stride"))
        .drop("_draw", "_w", "_bucket", "_off", "_total", "_cum", "_stride")
    )


def corpus_shuffle(
    df: DataFrame,
    seed: str,
    n_shards: int = 16,
    id_col: str = "doc_id",
    hash_fn=None,
) -> DataFrame:
    """Deterministic corpus shuffle + sharding — the
    shuffle-before-training step every LLM data pipeline ends with,
    made REPRODUCIBLE: the training order is a pure function of
    (seed, id), so the same corpus + seed yields the same order on
    any cluster, any partitioning, any retry — and a different seed
    is a fresh, uncorrelated permutation (epoch reshuffling without
    storing an order column).

    Returns ``(id_col, shuffle_key, shard, pos)``: ``shuffle_key`` =
    hash(seed : id) (the row's position on the pseudo-random line),
    ``shard`` = shuffle_key mod n_shards (the output-file unit), and
    ``pos`` = the row's 1-based rank within its shard ordered by
    (shuffle_key, id) — id is the tiebreak, so hash collisions can't
    make the order partitioning-dependent.

    Scale shape: ONE shuffle, keyed by shard; ranks come from a
    per-shard window, so the bound on window-partition size is
    corpus_rows / n_shards — pick ``n_shards ≈ rows / 1e6`` (shards
    are output files anyway) and no partition ever exceeds ~1M rows.
    There is no global sort and no single-partition window; writers
    downstream ``repartition(shard).sortWithinPartitions(pos)`` and
    stream shards independently.

    ``hash_fn`` follows the dedup convention: default ``xxhash31``
    (scale path); pass ``md5_hash31`` for the ANSI-twin oracle mode
    (`` CAST('0x' || substr(md5(..), 1, 15) AS BIGINT) % (2^31-1)``).
    """
    from irclogbot_spark.operators.dedup import xxhash31

    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    hash_fn = hash_fn or xxhash31
    key = F.concat_ws("\x1f", F.lit(seed), F.col(id_col).cast("string"))
    d = ensure_parallelism(df).select(
        F.col(id_col), hash_fn(key).alias("shuffle_key")
    )
    d = d.withColumn(
        "shard", F.pmod(F.col("shuffle_key"), F.lit(n_shards)).cast("long")
    )
    w = Window.partitionBy("shard").orderBy("shuffle_key", id_col)
    return d.withColumn("pos", F.row_number().over(w).cast("long"))


def priority_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    salt: str = "priority",
    draw_fn=None,
) -> DataFrame:
    """Priority sampling (Duffield, Lund & Thorup, JACM 2007) — the
    weighted-without-replacement counterpart of pps_systematic_sample
    with a per-item UNBIASED subset-sum estimator: each row gets
    priority q = w / u for a uniform u in (0, 1], the k largest
    priorities form the sample, and every sampled row's weight
    estimate is max(w, tau) where tau is the (k+1)-st priority —
    SUM(max(w, tau)) over the sample is an unbiased estimate of the
    population's total weight for ANY subset predicate (the property
    Bernoulli/PPS lack at fixed sample size).

    Deterministic + exact: u is the integer content-hash draw
    (u1 = draw + 1 in [1, 1e6]) and q is integer-quantized as
    ``w * 1e9 DIV u1`` — no float division, bit-identical across
    engines and partitionings; ties break on id. Headroom: ANSI
    mode makes w >= ~9.2e9 raise instead of wrap. ``w_hat_nano`` =
    max(w * 1e9, tau) is the estimator in the same nano units.

    Scale shape: priorities are map-only; the global top-(k+1) is a
    TakeOrdered (per-partition heap + driver merge of k+1-row
    partials — no sort shuffle); tau and the final trim run a window
    over the (k+1)-row frame, bounded at any corpus size."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    u1 = (draw_fn or _draw)([id_col], salt) + F.lit(1)
    top = (
        ensure_parallelism(df)
        .withColumn("_u1", u1.cast("long"))
        .withColumn(
            "priority_nano",
            F.expr(f"CAST({sql_ident(weight_col)} AS BIGINT) * 1000000000 DIV _u1"),
        )
        .orderBy(F.desc("priority_nano"), F.asc(id_col))
        .limit(k + 1)
    )
    w_all = Window.orderBy(F.desc("priority_nano"), F.asc(id_col))
    w_tau = w_all.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        top.withColumn("_rn", F.row_number().over(w_all))
        .withColumn(
            "tau_nano",
            F.max(F.when(F.col("_rn") == k + 1, F.col("priority_nano"))).over(w_tau),
        )
        .filter(F.col("_rn") <= k)
        .withColumn("tau_nano", F.coalesce(F.col("tau_nano"), F.lit(0).cast("long")))
        .withColumn(
            "w_hat_nano",
            F.greatest(
                F.expr(f"CAST({sql_ident(weight_col)} AS BIGINT) * 1000000000"),
                F.col("tau_nano"),
            ),
        )
        .drop("_u1", "_rn")
    )
