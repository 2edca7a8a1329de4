"""One store for every persisted index: listing, batch writes,
generation folds, loading and JSON meta sidecars, all through the
Hadoop FileSystem API (``os.path`` and ``open()`` only see the
driver's local disk, not HDFS/S3).

Every streamed index keeps the same exactly-once contract (a
replayable source plus an idempotent sink): each micro-batch
OVERWRITES its own ``batch_id=N`` partition, so a foreachBatch replay
rewrites identical rows. :func:`drain` is the one place a stream is
started: a checkpointed foreachBatch query that drains what has
arrived and stops. Compaction folds batch partitions into a
generation under one of two naming policies:

    in place      <root>/batch_id=N/        live batches
                  <root>/batch_id=-G/       generation G (batches < G)
                  readers scan the root through :func:`read_parts`;
                  negative ids never collide with stream batch ids
                  (corpus, substrings)

    generations   <dir>/index/batch_id=N/   live batches (bucket is a
                                            data column)
                  <dir>/<gens>/gen=G/<bucket>=K/
                                            generation G (batches < G)
                  readers go through :meth:`PostingStore.load`
                  (trigram, text and ANN indexes)

Both share one commit rule. A directory is committed once its write
job has left ``_SUCCESS`` (every parquet write here forces the marker
on). :func:`fold` writes the generation, then deletes its sources. A
crash before the commit leaves the sources intact and an uncommitted
generation that no reader serves; a crash during the deletes leaves
a committed generation next to some of its sources. Re-running the
same compaction finds the committed generation, skips the write and
only finishes the deletes, so it never rebuilds the generation from
the sources that are left. Both readers (:meth:`PostingStore.live`
and :func:`read_parts`) serve the newest COMMITTED generation plus
the batches it does not cover, so neither sees the leftover sources.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

#: Hadoop's switch for the ``_SUCCESS`` marker (on by default); every
#: write here forces it, because the marker is the commit record
_MARK_SUCCESS = "mapreduce.fileoutputcommitter.marksuccessfuljobs"


def _fs(spark: SparkSession, path: str):
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p, p.getFileSystem(spark._jsc.hadoopConfiguration())


def drain(stream: DataFrame, checkpoint_dir: str, body) -> StreamingQuery:
    """Start ``stream`` into the foreachBatch ``body(batch, batch_id)``,
    checkpointed at ``checkpoint_dir``, draining everything that has
    arrived (availableNow) and then stopping. A restart against the
    same checkpoint replays an uncommitted batch under its old
    batch_id, so an idempotent ``body`` makes the run exactly-once.
    Returns the started query (the caller awaits or stops it)."""
    return (
        stream.writeStream.foreachBatch(body)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def list_names(spark: SparkSession, path: str) -> list[str]:
    """Entry names directly under ``path`` ([] when it does not
    exist)."""
    p, fs = _fs(spark, path)
    if not fs.exists(p):
        return []
    return [st.getPath().getName() for st in fs.listStatus(p)]


def part_ids(spark: SparkSession, path: str, prefix: str) -> list[int]:
    """Sorted ids of the ``<prefix>=<id>`` directories under ``path``
    ([] when ``path`` does not exist)."""
    return sorted(
        int(n.split("=", 1)[1])
        for n in list_names(spark, path)
        if n.startswith(prefix + "=")
    )


def committed(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` holds a committed write (its ``_SUCCESS``)."""
    p, fs = _fs(spark, f"{path}/_SUCCESS")
    return bool(fs.exists(p))


def delete(spark: SparkSession, paths: list[str]) -> None:
    for path in paths:
        p, fs = _fs(spark, path)
        fs.delete(p, True)


def overwrite(df: DataFrame, path: str, partition_by: str | None = None) -> None:
    """Replace ``path`` with ``df`` as parquet, leaving ``_SUCCESS``."""
    writer = df.write.mode("overwrite").option(_MARK_SUCCESS, "true")
    if partition_by is not None:
        writer = writer.partitionBy(partition_by)
    writer.parquet(path)


def read_parts(spark: SparkSession, path: str, template: DataFrame) -> DataFrame:
    """Read an in-place batch_id-partitioned table; a missing/empty dir
    yields the (empty) template. The schema is supplied explicitly —
    template columns + the batch_id partition column — so a partial
    crash-leftover partition with no committed files can't break
    schema inference.

    Served: the newest committed generation ``batch_id=-G`` and the
    batches it does not cover (``batch_id >= G``) — the
    :meth:`PostingStore.live` rule, as a literal partition filter on
    the one scan. Sources a crashed fold left next to its committed
    generation, and uncommitted generations, are not read."""
    schema = template.withColumn("batch_id", F.lit(0).cast("long")).schema
    ids = part_ids(spark, path, "batch_id")
    if not ids:
        return spark.createDataFrame([], schema)
    gen = next(
        (-i for i in ids if i < 0 and committed(spark, f"{path}/batch_id={i}")), 0
    )
    live = F.col("batch_id") >= gen
    if gen:
        live = live | (F.col("batch_id") == -gen)
    return spark.read.schema(schema).parquet(path).filter(live)


def _read(spark: SparkSession, paths: list[str], schema) -> DataFrame:
    frames = [spark.read.schema(schema).parquet(p) for p in paths]
    if not frames:
        return spark.createDataFrame([], schema)
    return reduce(DataFrame.unionByName, frames)


def fold(
    spark: SparkSession,
    sources: list[str],
    dest: str,
    schema,
    partition_by: str | None = None,
    distinct: bool = False,
    covered: list[str] = (),
) -> bool:
    """Write the union of ``sources`` to ``dest``, then delete the
    sources and ``covered`` (paths whose rows a source already
    holds). A ``dest`` that is already committed is the crash-during-
    deletes state: the write is skipped and only the deletes run.
    ``dest`` is never among the sources, so the write reads them
    directly and nothing is deleted before its job commits. Returns
    whether ``dest`` holds a committed generation (False: nothing to
    fold, nothing deleted)."""
    if not committed(spark, dest):
        if not sources:
            return False
        data = _read(spark, sources, schema)
        overwrite(data.distinct() if distinct else data, dest, partition_by)
    delete(spark, list(sources) + list(covered))
    return True


def fold_batches(
    spark: SparkSession, root: str, upto_batch_id: int, distinct: bool = False
) -> None:
    """In-place compaction of a batch_id-partitioned table: batches
    0..upto_batch_id plus the older committed generations fold into
    ``batch_id=-(upto_batch_id + 1)``; older uncommitted generations
    (their sources are still on disk) are only deleted."""
    gen = -(upto_batch_id + 1)
    ids = part_ids(spark, root, "batch_id")

    def path(i: int) -> str:
        return f"{root}/batch_id={i}"

    older = [i for i in ids if gen < i < 0]
    live = [i for i in older if committed(spark, path(i))]
    sources = [path(i) for i in ids if 0 <= i <= upto_batch_id or i in live]
    fold(
        spark,
        sources,
        path(gen),
        spark.read.parquet(*sources).schema if sources else None,
        distinct=distinct,
        covered=[path(i) for i in older if i not in live],
    )


def write_meta(spark: SparkSession, path: str, meta: dict) -> None:
    """Write a JSON sidecar atomically: a temp file next to ``path``,
    then a rename over it. A crash mid-write leaves only the temp
    file, which no reader opens and the next write replaces. The
    ``_`` prefix of every sidecar name keeps both out of parquet
    reads of the directory."""
    p, fs = _fs(spark, path)
    tmp = spark._jvm.org.apache.hadoop.fs.Path(path + ".tmp")
    out = fs.create(tmp, True)
    try:
        out.write(json.dumps(meta).encode("utf-8"))
    finally:
        out.close()
    # HDFS refuses to rename onto an existing file; local FS replaces it
    if not fs.rename(tmp, p):
        fs.delete(p, False)
        if not fs.rename(tmp, p):
            raise OSError(f"could not rename {path}.tmp to {path}")


def read_meta(spark: SparkSession, path: str) -> dict:
    """The JSON sidecar at ``path``; FileNotFoundError when absent."""
    p, fs = _fs(spark, path)
    if not fs.exists(p):
        raise FileNotFoundError(path)
    stream = fs.open(p)
    try:
        data = spark._jvm.org.apache.hadoop.io.IOUtils.readFullyToByteArray(stream)
    finally:
        stream.close()
    return json.loads(bytes(data).decode("utf-8"))


@dataclass(frozen=True)
class PostingStore:
    """A generation-policy index: ``<dir>/index/batch_id=N`` batch
    partitions folded into ``<dir>/<gens>/gen=G`` laid out
    ``partitionBy(bucket)``, so literal bucket filters on the loaded
    frame land as storage-level PartitionFilters. ``schema`` is DDL
    with the bucket column last (a partitioned read appends it last).
    ``meta_name`` names the JSON sidecar that freezes the bucket
    function at creation, if the index has one."""

    schema: str
    bucket: str
    gens: str = "buckets"
    meta_name: str | None = None

    def ingest(
        self, df: DataFrame, batch_id: int, index_dir: str, meta: dict | None = None
    ) -> None:
        """foreachBatch body: overwrite this batch's partition. The
        meta sidecar is written only when absent; a different meta
        against an existing index raises (re-bucketing is a rebuild,
        not an ingest)."""
        if meta is not None:
            spark, path = df.sparkSession, f"{index_dir}/{self.meta_name}"
            try:
                existing = read_meta(spark, path)
            except FileNotFoundError:
                write_meta(spark, path, meta)
            else:
                if existing != meta:
                    raise ValueError(
                        f"index at {index_dir} was created with meta={existing}; "
                        f"got {meta} — changing the bucket function requires a "
                        "rebuild, not an ingest (n_buckets is frozen at creation)"
                    )
        overwrite(df, f"{index_dir}/index/batch_id={batch_id}")

    def meta(self, spark: SparkSession, index_dir: str) -> dict:
        return read_meta(spark, f"{index_dir}/{self.meta_name}")

    def gen_path(self, index_dir: str, gen: int) -> str:
        return f"{index_dir}/{self.gens}/gen={gen}"

    def _newest_committed(self, spark: SparkSession, index_dir: str, gens) -> int:
        paths = [(g, self.gen_path(index_dir, g)) for g in reversed(gens)]
        return next((g for g, path in paths if committed(spark, path)), 0)

    def compact(self, spark: SparkSession, index_dir: str, upto_batch_id: int) -> bool:
        """Fold batches 0..upto_batch_id and the newest older committed
        generation into ``gen = upto_batch_id + 1``; the loader's rule
        keeps every state in between consistent. Returns the
        :func:`fold` result."""
        gen = upto_batch_id + 1
        gens = part_ids(spark, f"{index_dir}/{self.gens}", "gen")
        older = [g for g in gens if g < gen]
        prev = self._newest_committed(spark, index_dir, older)
        batches = [
            b for b in part_ids(spark, f"{index_dir}/index", "batch_id")
            if b <= upto_batch_id
        ]

        def batch(b: int) -> str:
            return f"{index_dir}/index/batch_id={b}"

        return fold(
            spark,
            ([self.gen_path(index_dir, prev)] if prev else [])
            + [batch(b) for b in batches if b >= prev],
            self.gen_path(index_dir, gen),
            self.schema,
            partition_by=self.bucket,
            covered=[batch(b) for b in batches if b < prev]
            + [self.gen_path(index_dir, g) for g in older if g != prev],
        )

    def live(self, spark: SparkSession, index_dir: str) -> tuple[int, list[str]]:
        """(gen, paths): the max committed generation (0 if none) and
        the paths serving the index — that generation first, then the
        batches it does not cover (batch_id >= gen)."""
        gens = part_ids(spark, f"{index_dir}/{self.gens}", "gen")
        gen = self._newest_committed(spark, index_dir, gens)
        paths = [self.gen_path(index_dir, gen)] if gen else []
        return gen, paths + [
            f"{index_dir}/index/batch_id={b}"
            for b in part_ids(spark, f"{index_dir}/index", "batch_id")
            if b >= gen
        ]

    def read(self, spark: SparkSession, paths: list[str]) -> DataFrame:
        """Union of the given generation/batch paths (empty frame for
        none; the explicit schema keeps an empty leftover partition
        from breaking inference)."""
        return _read(spark, paths, self.schema)

    def load(self, spark: SparkSession, index_dir: str) -> DataFrame:
        """Everything ingested so far."""
        return self.read(spark, self.live(spark, index_dir)[1])
