"""Parquet scan layer for the driver corpus (TESTDATA.md / FIXTURES.md §B).

All reads go through ``load_table`` so that (a) the nanosecond-
timestamp quirk of events.parquet is normalized in exactly one place
and (b) every query starts from a plain ``spark.read.parquet`` scan
that Catalyst can push filters/projections into (check for
``PushedFilters`` in .explain output).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from irclogbot_spark.artifacts import read_meta

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Small dimensions worth broadcasting in joins at any scale factor —
# region/nation are bounded by geography; supplier stays tiny in this
# corpus. customer/part/orders/lineitem grow with SF and must shuffle.
BROADCAST_TABLES = {"region", "nation", "supplier"}

#: Memo of ANALYZED scan frames per (applicationId, path), for the
#: corpus tables and the write-once on-disk artifacts (text/trgm index
#: directories). `spark.read.parquet` re-resolves the datasource on
#: every call — file listing + footer schema read + FileIndex
#: construction — measured at ~0.18 s per call (round-13 optimization
#: profile, guide §6 listing cost); a query touching six TPC-H tables
#: paid ~1 s of pure scan *setup* per bench pass. DataFrames are
#: immutable, so returning the same analyzed frame is semantics-free:
#: no data is cached (the scan still reads parquet on every action);
#: only the driver-side relation resolution is reused. Keyed by
#: applicationId so a restarted SparkContext never serves frames bound
#: to a dead session. It also holds the artifacts' JSON meta sidecars
#: (a Hadoop-FS read costs ~5 ms). Writers MUST call
#: :func:`invalidate_scan` after rewriting a memoized path — the memo
#: holds a resolved FileIndex, which would otherwise reference
#: replaced files.
_SCAN_MEMO: dict[tuple[str, str], DataFrame | dict] = {}


def _app(spark: SparkSession) -> str | None:
    try:
        return spark.sparkContext.applicationId
    except Exception:  # Spark Connect: no sparkContext — skip the memo
        return None


def _memo(app: str | None, path: str, load):
    if app is None:
        return load()
    v = _SCAN_MEMO.get((app, path))
    if v is None:
        v = _SCAN_MEMO[(app, path)] = load()
    return v


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one corpus table, normalizing types.

    events.ts is TIMESTAMP(NANOS) on disk, unreadable by Spark's
    vectorized parquet reader; with spark.sql.legacy.parquet.nanosAsLong
    it arrives as a long which we convert to a timestamp (values are
    whole microseconds, so integer division by 1000 is lossless and
    matches DuckDB's nanos->us coercion bit-for-bit).

    CONTRACT: corpus directories are immutable for the lifetime of a
    Spark application — the memo holds a resolved FileIndex, so a
    process that regenerates a table under ``sf_dir`` in-application
    MUST call :func:`invalidate_scan` on the table (or on ``sf_dir``
    for every table under it) first.
    """
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"

    def load() -> DataFrame:
        if name != "events":
            return spark.read.parquet(path)
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
        df = spark.read.parquet(path)
        if dict(df.dtypes)["ts"] == "bigint":
            # integer division: epoch-nanos (~1.8e18) far exceeds the
            # 2^53 exact range of a double — '/' would drift by ±1us.
            # timestamp_micros yields LTZ; cast to NTZ (UTC session)
            # to match every other corpus timestamp column.
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
            )
        return df

    return _memo(_app(spark), path, load)


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


def memo_scan(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` memoized per (application, path);
    falls back to a plain read when no sparkContext is reachable
    (Spark Connect)."""
    return _memo(_app(spark), path, lambda: spark.read.parquet(path))


def memo_scan_meta(
    spark: SparkSession, path: str, meta_path: str
) -> tuple[DataFrame, dict]:
    """:func:`memo_scan` of ``path`` plus the artifact's JSON meta
    sidecar at ``meta_path``, both memoized under one application
    lookup."""
    app = _app(spark)
    return (
        _memo(app, path, lambda: spark.read.parquet(path)),
        _memo(app, meta_path, lambda: read_meta(spark, meta_path)),
    )


def invalidate_scan(path: str) -> None:
    """Drop every memoized scan at or under ``path`` (writer hook)."""
    for k in [k for k in _SCAN_MEMO if k[1].startswith(path)]:
        del _SCAN_MEMO[k]
