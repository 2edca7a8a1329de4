"""Continuous ANN index maintenance: an embedding stream encoded per
micro-batch against FROZEN learned tables (IVF cell + PQ codes,
plan constants) and appended to a batch_id-partitioned parquet index
— operators/pq.py's write-once/probe-forever story made continuous,
the embedding twin of streaming/corpus.py's dedup-index maintenance.

    <index_dir>/index/batch_id=N/       live per-batch appends
                                        (cell is a DATA column)
    <index_dir>/cells/gen=G/cell=K/     compacted generations
                                        (cell is a PARTITION dir)

Encoding is MAP-ONLY (no shuffle, no state): per-batch cost is
O(batch) regardless of accumulated index size — nothing is ever
re-encoded, because the codebooks/centroids are frozen at index
creation (re-training would re-code the whole corpus; that is a
rebuild, not maintenance, exactly as in FAISS/Lucene deployments).

The index is an artifacts.PostingStore with ``cells/`` generations
bucketed by ``cell``: the one write per batch OVERWRITES this
batch's own partition directory, so a foreachBatch replay rewrites
identical rows, and ``compact``/loading follow the store's commit
rule (the generation ``gen = upto_batch_id + 1`` is written and
committed before any source is deleted; a re-run after a crash
during the deletes only finishes them; the loader serves the max
committed generation plus the batch dirs with batch_id >= gen).

``compact`` is the physical half of the IVF story: it folds the
accumulated per-batch files into ONE generation laid out
``partitionBy("cell")``. At rest a probe of n_probe cells then
touches n_probe/n_cells of the files — parquet PARTITION PRUNING,
not a full scan with a logical filter (``load_index(cells=...)``
filters the loaded frame on literal cells; Catalyst pushes the
filter through the union onto the generation scan as
PartitionFilters — plan-asserted in tests).

Probing: ``probe_cells`` reproduces ivfpq_search's per-query cell
selection driver-side (same left-to-right IEEE fold, same
(-dot, cell) ordering — bit-identical by construction) so callers
can prune BEFORE the scan; ``operators.pq.ivfpq_search`` then runs
against the loaded frame and returns exactly what ``ivfpq_topk``
returns over the union of all ingested batches (pinned by test,
across compaction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from irclogbot_spark.artifacts import PostingStore
from irclogbot_spark.operators.pq import encode_ivfpq

EMB_SCHEMA = "vec_id long, embedding array<float>"
_STORE = PostingStore(
    "vec_id long, codes array<int>, embedding array<float>, cell int",
    "cell",
    gens="cells",
)


def ingest_batch(
    batch: DataFrame,
    batch_id: int,
    index_dir: str,
    centroids: list[list[float]],
    books: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """foreachBatch body: encode the arriving vectors (map-only) and
    overwrite this batch's index partition — idempotent on replay.
    The caller's id/vector columns are stored as ``vec_id``/``embedding``,
    the names the store schema reads back (``load_index`` renames them
    to the caller's again)."""
    codes = encode_ivfpq(batch, centroids, books, id_col=id_col, vec_col=vec_col)
    _STORE.ingest(
        codes.withColumnsRenamed({id_col: "vec_id", vec_col: "embedding"}),
        batch_id,
        index_dir,
    )


#: fold batch partitions 0..upto_batch_id (plus the previous
#: generation) into ``cells/gen = upto_batch_id + 1``, laid out
#: partitionBy("cell") so probes prune partitions at rest
compact = _STORE.compact


def load_index(
    spark: SparkSession,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cells: list[int] | None = None,
) -> DataFrame:
    """The accumulated index rows, sans bookkeeping: the newest
    committed generation (cell-partitioned) unioned with the live
    batch partitions it does not cover (cell there is a data
    column). With ``cells`` given, the literal IN filter pushes
    through the union: PartitionFilters on the generation scan (only
    the probed cells' files are read), a row-group filter on the
    batch scans. Missing/empty dirs yield an empty frame."""
    out = _STORE.load(spark, index_dir)
    if cells is not None:
        out = out.filter(F.col("cell").isin([int(c) for c in cells]))
    return out.select("vec_id", "cell", "codes", "embedding").withColumnsRenamed(
        {"vec_id": id_col, "embedding": vec_col}
    )


def probe_cells(
    vectors: list[list[float]],
    centroids: list[list[float]],
    n_probe: int,
) -> list[int]:
    """The union of the cells ivfpq_search would probe for these
    query vectors, computed driver-side so ``load_index(cells=...)``
    can prune the scan BEFORE any job runs.

    Bit-identical to the in-plan selection by construction: the dot
    product is the same left-to-right IEEE-double fold
    (``functions.aggregate``'s order — NOT numpy, whose pairwise/SIMD
    summation can differ in the last ulp), and the ordering is the
    same (-dot, cell) struct sort."""
    if n_probe < 1:
        raise ValueError(f"n_probe must be >= 1, got {n_probe}")
    probed: set[int] = set()
    for v in vectors:
        scored = []
        for j, c in enumerate(centroids):
            d = 0.0
            for a, b in zip(v, c):
                d += float(a) * float(b)
            scored.append((-d, j))
        scored.sort()
        probed.update(j for _, j in scored[:n_probe])
    return sorted(probed)
