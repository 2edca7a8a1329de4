"""Structured Streaming twin of the batch ingest path (SURVEY.md §3 E1).

The reference's live topology — socket recv loop -> per-line operator
chain -> idempotent keyed ES write, supervised by heartbeat watchdogs
(E3) — maps to:

  readStream (socket for live, file/text for tests and replay)
    -> ingest.parse_pipeline          (identical code to batch)
    -> withWatermark + dropDuplicates (H2 under bounded state)
    -> foreachBatch idempotent keyed upsert (H3), started by
       artifacts.drain like every other stream in the package

The keyed table has one layout: id_bucket= partition directories,
which is all the sink writes. A target holding parquet files outside
them is refused, never merged into or converted.

Effectively-once = replayable source + checkpoint + content-keyed
idempotent sink — the Spark recipe for the reference's restart-must-
not-duplicate invariant (runbots.py/keep_alive.py supervision;
heartbeats become StreamingQueryListener progress events).

Deliberate, documented divergence (SURVEY.md §4): the reference
dedups against the *entire history* via ES PUT-by-id; a stream must
bound state, so in-stream dedup holds within the watermark horizon
and whole-history convergence happens at the keyed sink.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from irclogbot_spark.artifacts import drain, list_names
from irclogbot_spark.ingest import DEDUP_KEY, parse_pipeline


def read_raw_lines_stream(
    spark: SparkSession,
    path: str | None = None,
    host: str | None = None,
    port: int | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """S1: streaming raw-line source. File/text directory for tests &
    replay; socket for live IRC-shaped feeds. Rate control (the
    reference's join pacing, D4) = maxFilesPerTrigger / trigger
    intervals instead of sleeps."""
    if path is not None:
        reader = spark.readStream.format("text")
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        return reader.load(path)
    if host is not None and port is not None:
        return (
            spark.readStream.format("socket").option("host", host).option("port", port).load()
        )
    raise ValueError("need path= (file source) or host=/port= (socket source)")


def streaming_irclog(
    raw: DataFrame,
    watermark: str = "10 minutes",
    dedup_in_stream: bool = True,
) -> DataFrame:
    """The batch transform chain, unchanged, under streaming semantics.

    Event time is processing wall-clock exactly like the reference
    (P4 captures utcnow at parse). dropDuplicatesWithinWatermark
    bounds H2 state to the watermark horizon.
    """
    log = parse_pipeline(raw)
    # watermarks require TIMESTAMP (with zone): the canonical NTZ
    # posted is cast back for streaming — value-preserving under the
    # engine's pinned UTC session
    log = log.withColumn("posted", F.col("posted").cast("timestamp"))
    log = log.withWatermark("posted", watermark)
    if dedup_in_stream:
        log = log.dropDuplicatesWithinWatermark(DEDUP_KEY)
    return log


#: id-hash bucket count for the keyed parquet table: the merge
#: granularity. A micro-batch rewrites only the buckets its ids hash
#: into, so a batch with few distinct ids costs O(touched buckets),
#: the per-key PUT cost model of the reference's ES sink
#: (irclogbot.py:50-51). A batch with many more distinct ids than
#: buckets touches every bucket and rewrites the whole table: its
#: cost is O(table), and only a larger bucket count bounds it. Size
#: so one bucket ~= a few GB at target SF.
N_ID_BUCKETS = 16


def table_layout(spark: SparkSession, target_dir: str) -> str:
    """Classify the upsert target via the Hadoop FileSystem API (NOT
    os.path — on HDFS/S3, where a 100 TB table actually lives, a
    local-FS probe would silently report "no table" and the first
    merge would overwrite from scratch).

    Returns 'absent' | 'bucketed' (id_bucket= partition dirs). A
    parquet file outside the id_bucket= dirs is a table this sink
    did not write: merging would leave a conflicting layout that no
    read resolves, so it raises RuntimeError instead.
    """
    names = list_names(spark, target_dir)
    stray = [
        n for n in names if n.endswith(".parquet") and not n.startswith(("_", "."))
    ]
    if stray:
        raise RuntimeError(
            f"upsert target {target_dir} holds parquet files outside its "
            f"id_bucket= dirs ({', '.join(sorted(stray)[:3])}): not a table "
            "this sink wrote; refusing to merge into it"
        )
    return "bucketed" if any(n.startswith("id_bucket=") for n in names) else "absent"


def keyed_upsert_batch(
    batch: DataFrame, batch_id: int, target_dir: str, n_buckets: int = N_ID_BUCKETS
) -> None:
    """H3 stand-in for the ES keyed index: MERGE-by-content-id into an
    id-bucket-partitioned parquet table. Duplicate re-deliveries
    across restarts resolve here, exactly like ES PUT by _id
    (irclogbot.py:50-51). Per id the earliest ``posted`` row wins
    (deterministic winner), within the batch and against the table.

    Merge shape (the Delta-MERGE pattern on plain parquet):
    * incoming rows get ``id_bucket = pmod(xxhash64(id), n_buckets)``;
      on an existing table they are materialized once
      (``localCheckpoint``), so the micro-batch's source, parse and
      stateful dedup run once per call, not once per consumer;
    * only the touched buckets of the existing table are read back:
      the touched bucket ids (at most ``n_buckets`` ints, collected
      from the materialized rows) become a literal partition filter,
      so only those directories are listed and scanned. A broadcast
      semi-join would not prune here — dynamic partition pruning
      needs a selective filter on the build side, and a checkpoint
      has none;
    * the merge is hash-clustered by bucket: a bucket's rows meet in
      one task, which keeps the earliest row per id and writes the
      bucket as ONE file (the window's (id_bucket, id) partitioning
      is satisfied by that exchange, so it adds none);
    * the write uses dynamic partition overwrite (a per-write option,
      not a session conf): Spark stages new files and commits them
      per partition, replacing ONLY partitions present in the output
      — untouched buckets' files are never rewritten (asserted
      byte-for-byte in tests/test_streaming.py). Old files are
      removed only at job commit, after every task has read them, so
      the merge reads the buckets it replaces in the same job.

    A target holding parquet files outside its id_bucket= dirs is
    refused with RuntimeError before anything is read or written
    (:func:`table_layout`).

    Cost: O(rows in touched buckets). A batch with many more
    distinct ids than ``n_buckets`` touches every bucket, so it
    rewrites the whole table — see N_ID_BUCKETS.

    Crash-safety: files stage under the table's staging directory
    until commit, so an interrupted batch leaves previous bucket
    generations in place except at most a bucket mid-promotion;
    checkpoint replay re-runs the batch and the merge is idempotent
    (same ids, same winners). Production targets Delta MERGE or the
    es-spark connector with es.mapping.id=id; this sink keeps the
    same contract offline.
    """
    spark = batch.sparkSession
    layout = table_layout(spark, target_dir)
    rows = batch.withColumn(
        "id_bucket", F.pmod(F.xxhash64("id"), F.lit(n_buckets)).cast("int")
    )
    if layout == "bucketed":
        rows = rows.localCheckpoint(eager=True)
        touched = [r[0] for r in rows.select("id_bucket").distinct().collect()]
        if not touched:
            return
        existing = spark.read.parquet(target_dir).filter(
            F.col("id_bucket").isin(touched)
        )
        rows = existing.unionByName(rows)
    first = Window.partitionBy("id_bucket", "id").orderBy("posted")
    merged = (
        rows.repartition("id_bucket")
        .withColumn("_rn", F.row_number().over(first))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("id_bucket")
        .parquet(target_dir)
    )


def start_irclog_stream(
    spark: SparkSession,
    source_path: str,
    target_dir: str,
    checkpoint_dir: str,
    watermark: str = "10 minutes",
):
    """Wire source -> transforms -> idempotent keyed sink, checkpointed
    (artifacts.drain)."""
    log = streaming_irclog(read_raw_lines_stream(spark, path=source_path), watermark)
    return drain(log, checkpoint_dir, partial(keyed_upsert_batch, target_dir=target_dir))
