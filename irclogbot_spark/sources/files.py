"""File-format source/sink adapters for the irclog table.

The reference's only sink is Elasticsearch; the engine's canonical
storage is parquet (columnar, splittable, predicate-pushdown-able —
the right 100 TB substrate). CSV/JSON adapters exist for interchange:
explicit schemas everywhere (schema inference reads data twice and
guesses types — never in production paths), ISO second-granularity
timestamps at the text boundary (P5, irclogbot.py:42).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

#: FIXTURES.md §A2 — the canonical irclog schema.
IRCLOG_SCHEMA = StructType(
    [
        StructField("channel", StringType()),
        StructField("nick", StringType()),
        StructField("posted", TimestampNTZType()),
        StructField("remark", StringType()),
        StructField("id", StringType()),
        StructField("user", StringType()),
        StructField("host", StringType()),
    ]
)

_ISO = "yyyy-MM-dd'T'HH:mm:ss"


def write_irclog(df: DataFrame, path: str, fmt: str = "parquet", partition_by_day: bool = False) -> None:
    """Write the irclog table. partition_by_day lays out
    channel-day-prunable files (the ES time-filter analog becomes
    partition pruning at the storage layer)."""
    writer = df.write.mode("overwrite")
    if partition_by_day:
        df = df.withColumn("day", F.to_date("posted"))
        writer = df.write.mode("overwrite").partitionBy("day")
    if fmt == "parquet":
        writer.parquet(path)
    elif fmt == "csv":
        writer.option("header", True).option("timestampNTZFormat", _ISO).csv(path)
    elif fmt == "json":
        writer.option("timestampNTZFormat", _ISO).json(path)
    else:
        raise ValueError(f"unsupported format: {fmt}")


def read_irclog(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Read the irclog table with the explicit canonical schema."""
    if fmt == "parquet":
        df = spark.read.parquet(path)
        # normalize posted to NTZ: with the legacy nanosAsLong conf
        # active, parquet TIMESTAMP(isAdjustedToUTC=false) can come
        # back as LTZ; the cast is value-preserving under UTC session
        if "posted" in df.columns:
            df = df.withColumn("posted", F.col("posted").cast("timestamp_ntz"))
        return df.select([f.name for f in IRCLOG_SCHEMA if f.name in df.columns])
    if fmt == "csv":
        return (
            spark.read.schema(IRCLOG_SCHEMA)
            .option("header", True)
            .option("timestampNTZFormat", _ISO)
            .csv(path)
        )
    if fmt == "json":
        return spark.read.schema(IRCLOG_SCHEMA).option("timestampNTZFormat", _ISO).json(path)
    raise ValueError(f"unsupported format: {fmt}")


def write_irclog_bucketed(
    df: DataFrame,
    table: str,
    buckets: int = 64,
    bucket_col: str = "channel",
    path: str | None = None,
) -> None:
    """Persist the irclog as a bucketed table: rows co-located by
    hash(bucket_col) at write time, so every later groupBy/join on
    that column reads pre-partitioned data and skips its shuffle —
    the 100 TB answer to 'we aggregate by channel constantly'.
    (saveAsTable because bucketing metadata lives in the catalog.)
    With ``path`` the table is EXTERNAL at that location: DROP TABLE
    keeps its files, and the write leaves ``_SUCCESS`` there."""
    writer = (
        df.write.mode("overwrite")
        .bucketBy(buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


#: documents-table schema for the JSONL interchange path, plus the
#: PERMISSIVE-mode capture column (unparseable lines land whole in
#: _corrupt_record instead of killing the job — web-corpus drops
#: always contain some).
DOCUMENTS_JSONL_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
        StructField("_corrupt_record", StringType()),
    ]
)


def write_documents_jsonl_gz(df: DataFrame, path: str) -> None:
    """documents -> gzipped JSONL (the standard web-corpus delivery
    format: one JSON object per line, .json.gz shards). Spark's JSON
    writer escapes embedded newlines/quotes, so the round-trip is
    lossless; gzip trades split-ability for interchange size — at
    rest convert to parquet (write_irclog's argument) before heavy
    querying."""
    df.write.mode("overwrite").option("compression", "gzip").json(path)


def read_documents_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Gzipped-JSONL ingest with corrupt-record accounting: explicit
    schema (never inference — it reads the data twice and guesses),
    PERMISSIVE mode, corrupt lines kept as rows with only
    _corrupt_record set. Gzip decompression is transparent to the
    text/json readers."""
    return (
        spark.read.schema(DOCUMENTS_JSONL_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )


def read_channels(spark: SparkSession, path: str) -> DataFrame:
    """S4: channel catalog scan — one '#channel' per line, trimmed,
    with the reference's 40-per-bot static slice (irclogbot.py:215-224,
    CHANNELS_PER_BOT at :28)."""
    from pyspark.sql import Window

    ch = (
        spark.read.text(path)
        .select(F.trim("value").alias("channel"))
        .filter(F.length("channel") > 0)
    )
    rn = F.row_number().over(Window.orderBy("channel"))
    return ch.select("channel", F.floor((rn - F.lit(1)) / F.lit(40)).cast("int").alias("bot_slice"))
