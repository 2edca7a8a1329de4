"""Iterative graph analytics — integer-quantized PageRank.

The second iterative-operator family beside the BPE/k-means trainers:
rank flows along weighted edges for a fixed number of power-iteration
rounds. Floating-point PageRank is partition-order-dependent (double
sums re-associate), so ranks here live in integer MICRO-units with
floor'd edge contributions — BIGINT addition is associative, making
the whole computation a pure function of the graph: bit-identical
under any partitioning, and exactly re-derivable in ANSI SQL (the
importance.py quantization convention applied to graph analytics).

Semantics (the "pruned PageRank" convention): per round,
``r'(v) = BASE + sum over in-edges (u,v,w) of
floor(DAMPING_MILLI * r(u) * w / (1000 * wdeg(u)))`` with
``BASE = (1000 - DAMPING_MILLI) * R0 / 1000``. Mass lost to floor
rounding and dangling nodes is dropped, not redistributed — ranks are
centrality SCORES, not a probability distribution (the common
large-graph engineering choice; a stochastic-exact variant would need
a global mass renormalization each round).

Scale shape (round-13 optimization): the weighted edge list is
materialized ONCE, pre-partitioned on the key the rounds re-use (dst
on the broadcast path, so every per-target aggregation is
exchange-free; src on the shuffle path, so the edge list never
re-shuffles — only the node-sized contribution frame moves). The
recurrence runs in contribution space — r_k = base + contrib_k folds
inline into the edge join, so no rank frame and no node join
materialize per round; the node table is joined once at the end.
The recurrence stays ONE lazy plan across all rounds — lineage is
linear in rounds and no driver action happens between them, so
per-round truncation would only add jobs (the fully-lazy-loop rule;
contrast the driver-coordinated k-means/BPE trainers, which MUST
checkpoint per iteration because each step's argmax returns to the
driver). Division is
integer DIV, never a double: contributions can exceed 2^53 on a big
graph, where double division silently loses ulps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

R0 = 1_000_000  # initial rank per node, micro-mass units


def pagerank(
    edges: DataFrame,
    n_iter: int = 4,
    damping_milli: int = 850,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
    broadcast_ranks: bool = False,
    wdeg_col: str | None = None,
) -> DataFrame:
    """Weighted PageRank over a directed edge list; returns
    ``(node, rank_units)`` for every edge endpoint. Undirected graphs
    pass both edge directions. Nodes are edge endpoints — an isolated
    node (no edges at all) is out of scope by construction. Weights
    must be POSITIVE integers: zero-weight edges contribute nothing
    (harmless), but a negative weight breaks the floor'd DIV
    contribution semantics — drop or clamp them upstream (no
    distributed assert here; a validation pass would cost a full
    edge scan per call).

    ``wdeg_col`` names a caller-supplied column of ``edges`` holding
    the src node's TOTAL outgoing weight (sum of ``weight_col`` over
    all its out-edges). When the caller can derive it cheaply — e.g.
    a bipartite graph where each direction's degree is a small
    broadcastable aggregate — passing it skips the operator's own
    degree aggregation + edge-list re-join (one full-edge-list
    shuffle). Default None computes it here.
    """
    if not 0 < damping_milli < 1000:
        raise ValueError(f"damping_milli in (0, 1000), got {damping_milli}")
    if n_iter < 0:
        raise ValueError(f"n_iter must be >= 0, got {n_iter}")
    base = (1000 - damping_milli) * R0 // 1000
    e = edges.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        F.col(weight_col).cast("long").alias("w"),
        *([F.col(wdeg_col).cast("long").alias("wdeg")] if wdeg_col else []),
    )
    # ONE eager materialization of the loop-invariant weighted edge
    # list, PRE-PARTITIONED on the key each round re-uses (round-13
    # optimization; guide §2.4 "remove shuffles outright"):
    # * broadcast path — partitioned by dst, so the per-round
    #   per-target aggregation's ClusteredDistribution(node) is
    #   already satisfied through the dst->node alias and every round
    #   runs exchange-free;
    # * shuffle path — partitioned by src, so the per-round rank join
    #   never re-shuffles the edge list (only the node-sized rank
    #   frame moves).
    # The caller's edge pipeline executes exactly ONCE, inside this
    # checkpoint job (the previous two-checkpoint form re-ran it for
    # the node table). defaultParallelism pins the layout so AQE's
    # byte-based coalescer can't serialize the CPU-bound rounds at
    # small corpus sizes; at cluster scale it equals total cores.
    part_col = "dst" if broadcast_ranks else "src"
    if wdeg_col is None:
        deg = e.groupBy("src").agg(F.sum("w").alias("wdeg"))
        e = e.join(deg, "src")
    # repartition AFTER the checkpoint: a LogicalRDD does not carry
    # the pre-checkpoint hash partitioning under AQE, so partitioning
    # before it would re-exchange every round anyway. This way the
    # single RepartitionByExpression exchange is IDENTICAL in every
    # round's subtree and ReuseExchange runs it once for the whole
    # iteration, leaving each round's aggregation exchange-free.
    ew = e.localCheckpoint(eager=True)
    try:
        n_part = ew.sparkSession.sparkContext.defaultParallelism
    except AttributeError:
        # a Spark Connect session has no sparkContext; the keyed
        # repartition without an explicit count still pins the
        # per-round partitioning there.
        n_part = None
    if n_part is None:
        ew = ew.repartition(F.col(part_col))
    else:
        ew = ew.repartition(n_part, F.col(part_col))
    if n_iter == 0:
        # zero rounds: every endpoint keeps the initial rank R0 (the
        # pre-round-13 contract; the contribution loop below would
        # otherwise dereference a None contribs frame)
        nodes = (
            ew.select(F.col("src").alias("node"))
            .union(ew.select(F.col("dst").alias("node")))
            .distinct()
        )
        return nodes.select("node", F.lit(R0).cast("long").alias("rank_units"))
    # Rank recurrence in CONTRIBUTION space (identical integers):
    # r_k(u) = base + contrib_k(u) with contrib over in-edges, and
    # every src is a node, so joining contribs directly to the edge
    # list and folding base+coalesce inline reproduces the rank join
    # exactly — without materializing a rank frame per round. Each
    # round is one (node, contrib) aggregate; the node table is
    # touched once, at the end.
    contribs = None
    for _ in range(n_iter):
        if contribs is None:
            joined = ew.withColumn("r", F.lit(R0).cast("long"))
        else:
            # broadcast_ranks=True is the dimension-sized-node-set
            # fast path (caller's assertion — e.g. a bipartite trade
            # graph whose nodes are customers+suppliers): the
            # node-sized contribution frame ships to every executor
            # and the rounds never sort/shuffle the edge list.
            # Default False: a web-scale graph's contribution frame
            # is corpus-sized and must use the shuffle join.
            cside = F.broadcast(contribs) if broadcast_ranks else contribs
            joined = ew.join(cside, ew["src"] == cside["node"], "left").withColumn(
                "r",
                F.lit(base).cast("long") + F.coalesce("contrib", F.lit(0).cast("long")),
            )
        contribs = (
            joined.select(
                F.col("dst").alias("node"),
                F.expr(f"({damping_milli} * r * w) DIV (1000 * wdeg)").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("contrib"))
        )
        # NO per-round checkpoint: unlike the BPE loop there is no
        # driver-side argmax between rounds, so the whole power
        # iteration stays ONE lazy plan — lineage grows linearly
        # (each round references the previous contribs exactly once)
        # and AQE plans all rounds in a single job.
    nodes = (
        ew.select(F.col("src").alias("node"))
        .union(ew.select(F.col("dst").alias("node")))
        .distinct()
    )
    cside = F.broadcast(contribs) if broadcast_ranks else contribs
    return nodes.join(cside, "node", "left").select(
        "node",
        (F.lit(base).cast("long") + F.coalesce("contrib", F.lit(0)))
        .alias("rank_units"),
    )
