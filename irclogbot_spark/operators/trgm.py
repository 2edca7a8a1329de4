"""Trigram substring-search index (the pg_trgm / Google Code Search
trick, Cox 2012): answer `%pattern%` scans from an index instead of a
full-corpus `contains()` pass.

Soundness is LOSSLESS, not probabilistic: any document containing
`pattern` contains every character trigram of `pattern`, so the
candidate set {docs containing ALL pattern trigrams} is a superset of
the answer, and the final in-row `contains()` verify makes the result
exact. (Contrast MinHash/LSH: recall there is probabilistic; here the
filter can only over-admit.)

Scale shape: the index is one explode of distinct in-row trigrams —
(doc_id, tri) pairs, text never shuffles — built once and reusable
across queries (the inverted-index/band-index convention). A search
touches only the posting rows whose trigram is in the pattern's
trigram set (an `isin` over plan constants — partition-prunable if
the index is written bucketed by trigram), then a partial-agg count
per doc enforces the ALL-trigrams condition before the text is
fetched for candidate-only verification. A pattern shorter than 3
chars has no trigram and falls back to the full scan the oracle
always does.
"""

from __future__ import annotations

import os
import zlib

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from irclogbot_spark.artifacts import write_meta
from irclogbot_spark.functions.lits import literal_frame
from irclogbot_spark.plans.partitioning import ensure_parallelism


def trigrams_col(text: Column | str) -> Column:
    """Distinct character trigrams of ``text``, in-row."""
    c = F.col(text) if isinstance(text, str) else text
    n = F.greatest(F.length(c) - F.lit(2), F.lit(0))
    return F.array_distinct(
        F.transform(F.sequence(F.lit(1), n), lambda i: c.substr(i, F.lit(3)))
    )


def py_trigrams(pattern: str) -> list[str]:
    """Driver-side trigram set of a search pattern (plan constants)."""
    return sorted({pattern[i : i + 3] for i in range(len(pattern) - 2)})


def trgm_index(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, tri) posting rows — the persistable index artifact."""
    return ensure_parallelism(df).select(
        F.col(id_col), F.explode(trigrams_col(text_col)).alias("tri")
    )


def py_tri_bucket(tri: str, n_buckets: int) -> int:
    """Driver-side twin of the index's bucket function: crc32 is
    bit-identical between zlib and Spark's `crc32`, so the probe can
    compute its partition list as plan constants."""
    return zlib.crc32(tri.encode("utf-8")) % n_buckets


def write_trgm_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
) -> None:
    """Persist the posting index PARTITIONED by a crc32 trigram
    bucket — the 100-TB layout the module docstring promises: a probe
    filters on `tri_bkt` with literal plan constants, so the scan
    reads only the probed bucket directories (storage-level
    PartitionFilters, the log_term_time_partitioned convention)
    instead of the whole posting list. n_buckets bounds directory
    fan-out (64 dirs regardless of corpus size); a sidecar JSON
    records it so probes can recompute the same buckets."""
    idx = trgm_index(df, id_col, text_col).withColumn(
        "tri_bkt", F.pmod(F.crc32(F.encode(F.col("tri"), "UTF-8")), F.lit(n_buckets))
    )
    idx.write.partitionBy("tri_bkt").mode("overwrite").parquet(path)
    write_meta(
        df.sparkSession,
        os.path.join(path, "_trgm_meta.json"),
        {"n_buckets": n_buckets, "id_col": id_col},
    )
    # a rewrite of this path must not serve stale memoized scans
    from irclogbot_spark.sources.tables import invalidate_scan

    invalidate_scan(path)


def read_trgm_index(spark: SparkSession, path: str) -> tuple[DataFrame, int]:
    """Load a persisted index; returns (postings, n_buckets). The
    scan is memoized per (application, path) — probes re-resolved
    the artifact on every call (round-13 optimization);
    write_trgm_index invalidates on rewrite. The meta sidecar is read
    once per (application, path) too."""
    from irclogbot_spark.sources.tables import memo_scan_meta

    idx, meta = memo_scan_meta(spark, path, os.path.join(path, "_trgm_meta.json"))
    return idx, int(meta["n_buckets"])


def trgm_search(
    df: DataFrame,
    patterns: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    index: DataFrame | None = None,
    index_buckets: int | None = None,
) -> DataFrame:
    """Exact substring search for every pattern: (pattern, id) rows.

    Candidates come from the trigram index (ALL pattern trigrams
    present, counted with one partial-agg shuffle of bare (id)
    rows); text is joined back only for the candidate set. Patterns
    under 3 chars fall back to a direct scan — they have no trigram.

    With a PERSISTED index (``index`` from :func:`read_trgm_index`,
    ``index_buckets`` from its sidecar), the probe first filters on
    the literal bucket list of the patterns' trigrams — a
    storage-level PartitionFilters prune, so only the probed bucket
    directories are read (plan-asserted in test_trgm.py).
    """
    if not patterns:
        raise ValueError("need at least one pattern")
    spark = df.sparkSession
    idx = index if index is not None else trgm_index(df, id_col, text_col)
    if index_buckets is not None:
        want = sorted(
            {
                py_tri_bucket(t, index_buckets)
                for p in patterns
                for t in py_trigrams(p)
            }
        )
        idx = idx.filter(F.col("tri_bkt").isin(want))
    outs: list[DataFrame] = []
    long_pats = [p for p in patterns if py_trigrams(p)]
    short = [p for p in patterns if not py_trigrams(p)]
    if long_pats:
        # SET-WISE, not per-pattern: one index pass answers every
        # pattern — the (pattern, tri) dim broadcasts, candidates
        # come from one partial-agg count per (pattern, doc), and
        # the verify joins text back for candidate rows only with a
        # column-vs-column contains()
        pat_tris = literal_frame(
            spark,
            [(p, t) for p in long_pats for t in py_trigrams(p)],
            "pattern string, tri string",
        )
        need = literal_frame(
            spark,
            [(p, len(py_trigrams(p))) for p in long_pats],
            "pattern string, _need long",
        )
        cand = (
            idx.join(F.broadcast(pat_tris), "tri")
            .groupBy("pattern", id_col)
            .agg(F.count_distinct(F.col("tri")).alias("_hit"))
            .join(F.broadcast(need), "pattern")
            .filter(F.col("_hit") == F.col("_need"))
            .select("pattern", id_col)
        )
        outs.append(
            cand.join(df.select(id_col, text_col), id_col)
            .filter(F.col(text_col).contains(F.col("pattern")))
            .select("pattern", F.col(id_col))
        )
    for p in short:
        outs.append(
            df.filter(F.col(text_col).contains(p)).select(
                F.lit(p).alias("pattern"), F.col(id_col)
            )
        )
    result = outs[0]
    for o in outs[1:]:
        result = result.unionByName(o)
    return result


#: wildcard metacharacters (the ES wildcard query's alphabet)
_WC_META = "*?"


def py_wildcard_runs(pattern: str) -> list[str]:
    """Literal runs of a wildcard pattern (split on * and ?)."""
    import re as _re

    return [r for r in _re.split(r"[*?]", pattern) if r]


def py_wildcard_trigrams(pattern: str) -> list[str]:
    """REQUIRED trigrams of a wildcard pattern: a token matching the
    pattern contains every literal run as a substring, hence every
    trigram of every run — the Cox 2012 regex-to-trigram reduction,
    restricted to the wildcard alphabet. Lossless over-admission,
    exactly like the plain substring case."""
    tris: set[str] = set()
    for run in py_wildcard_runs(pattern):
        tris.update(py_trigrams(run))
    return sorted(tris)


def py_wildcard_regex(pattern: str) -> str:
    """The pattern as an anchored regex: * -> .*, ? -> ., literal
    chars escaped. Stays inside the Java-regex/RE2 common subset so
    Spark's rlike and DuckDB's regexp_full_match agree."""
    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        elif ch.isalnum():
            out.append(ch)
        else:
            out.append("\\" + ch)
    return "".join(out)


def wildcard_search(
    df: DataFrame,
    patterns: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    index: DataFrame | None = None,
    index_buckets: int | None = None,
) -> DataFrame:
    """ES wildcard-query analog (term-level, the ES semantic): docs
    containing a TOKEN that matches the whole wildcard pattern.
    Returns distinct (pattern, doc_id).

    Scale shape — the trgm_search reduction with a regex verify:
    candidates come from the ONE set-wise trigram-index pass (docs
    holding ALL required trigrams of the pattern's literal runs —
    lossless over-admission), and only candidate docs pay the
    in-row exists-token-matches-regex verify. Patterns whose
    literal runs yield no trigram (e.g. ``a?b``) fall back to the
    direct scan, the trgm_search convention. A persisted index
    probe bucket-prunes exactly like trgm_search."""
    if not patterns:
        raise ValueError("need at least one pattern")
    spark = df.sparkSession
    toks = F.regexp_extract_all(F.col(text_col), F.lit(r"\S+"), F.lit(0))

    def _verify(frame: DataFrame, pattern: str) -> DataFrame:
        rx = "^" + py_wildcard_regex(pattern) + "$"
        return frame.filter(
            F.exists(toks, lambda t: t.rlike(rx))
        ).select(F.lit(pattern).alias("pattern"), F.col(id_col))

    long_pats = [p for p in patterns if py_wildcard_trigrams(p)]
    short = [p for p in patterns if not py_wildcard_trigrams(p)]
    outs: list[DataFrame] = []
    if long_pats:
        idx = index if index is not None else trgm_index(df, id_col, text_col)
        if index_buckets is not None:
            want = sorted(
                {
                    py_tri_bucket(t, index_buckets)
                    for p in long_pats
                    for t in py_wildcard_trigrams(p)
                }
            )
            idx = idx.filter(F.col("tri_bkt").isin(want))
        pat_tris = literal_frame(
            spark,
            [(p, t) for p in long_pats for t in py_wildcard_trigrams(p)],
            "pattern string, tri string",
        )
        need = literal_frame(
            spark,
            [(p, len(py_wildcard_trigrams(p))) for p in long_pats],
            "pattern string, _need long",
        )
        cand = (
            idx.join(F.broadcast(pat_tris), "tri")
            .groupBy("pattern", id_col)
            .agg(F.count_distinct(F.col("tri")).alias("_hit"))
            .join(F.broadcast(need), "pattern")
            .filter(F.col("_hit") == F.col("_need"))
            .select("pattern", id_col)
        )
        hydrated = cand.join(df.select(id_col, text_col), id_col)
        for p in long_pats:
            outs.append(_verify(hydrated.filter(F.col("pattern") == p), p))
    for p in short:
        outs.append(_verify(df, p))
    result = outs[0]
    for o in outs[1:]:
        result = result.unionByName(o)
    return result.distinct()
