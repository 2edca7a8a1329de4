"""One-shot super-SF scale probe (VERDICT r6 next #6): build a ~10x
documents corpus ("sf1") from the sf0.1 parquet and run the hottest
document pipelines at both SFs, recording wall time and REAL shuffle
bytes (status-store counters per job group, bench.Counters) so
SCALE.md's 100x-survivability claims carry a measured scaling point
instead of design argument only.

Corpus construction keeps duplicate DENSITY constant — the property
that makes the ratio meaningful for dedup pipelines: replica k of a
doc suffixes every token with "k", so replicas of the same doc share
NO shingles / q-grams across replicas (no artificial 10-way near-dup
blowup), while each replica internally contains exactly the sf0.1
corpus's true near-dup structure under fresh ids. 10x docs, 10x true
pairs, same pair density.

Round 8 extends the probe to the embedding family: sf1 also carries
10x embeddings (per-replica cyclic dimension shift — an orthogonal
permutation, so intra-replica neighbor structure is exact and
cross-replica cosines decorrelate; see build_sf1) and PROBE_QUERIES
gains emb_ivfpq_topk / emb_semantic_dedup / emb_knn_join /
emb_projection_recall. `--queries a,b` selects a subset.

Usage: python scale_probe.py [--out /tmp/sf1] [--reps 2]
Writes the measured table to stdout (markdown) for SCALE.md.
"""

from __future__ import annotations

import argparse
import os

from bench import Counters


def build_sf1(spark, src_sf: str, out_dir: str, replicas: int = 10) -> None:
    from pyspark.sql import functions as F

    d = spark.read.parquet(os.path.join(src_sf, "documents.parquet"))
    n = d.count()
    reps = spark.range(replicas).select(F.col("id").alias("_rep"))
    # suffix every token with the replica index: replica texts share
    # no shingles / q-grams across replicas, so duplicate density is
    # preserved (10x docs, 10x true pairs) instead of multiplied
    scaled = (
        d.crossJoin(F.broadcast(reps))
        .select(
            (F.col("doc_id") + F.col("_rep") * F.lit(10_000_000)).alias("doc_id"),
            *[c for c in d.columns if c not in ("doc_id", "text")],
            F.when(F.col("_rep") == 0, F.col("text"))
            .otherwise(
                F.array_join(
                    F.transform(
                        F.split(F.col("text"), r"\s+"),
                        lambda w: F.concat(w, F.col("_rep").cast("string")),
                    ),
                    " ",
                )
            )
            .alias("text"),
        )
    )
    scaled.repartition(32).write.mode("overwrite").parquet(
        os.path.join(out_dir, "documents.parquet")
    )
    print(f"built {out_dir}: {n} docs x {replicas} replicas")

    # Embeddings (round 8, VERDICT r7 next #6): replica k CYCLICALLY
    # SHIFTS each vector by k dimensions — a permutation, hence
    # orthogonal: norms and every intra-replica cosine are preserved
    # EXACTLY (each replica contains the sf0.1 corpus's true
    # neighbor structure under fresh ids), while cross-replica
    # cosines decorrelate to the corpus background level. 10x
    # vectors, 10x true neighbor pairs, same pair density — the same
    # invariant the token-suffix trick gives documents.
    e = spark.read.parquet(os.path.join(src_sf, "embeddings.parquet"))
    dim_row = e.select(F.size("embedding").alias("d")).first()
    dim = int(dim_row["d"])
    ne = e.count()
    others = [c for c in e.columns if c not in ("vec_id", "embedding")]
    scaled_e = (
        e.crossJoin(F.broadcast(reps))
        .select(
            (F.col("vec_id") + F.col("_rep") * F.lit(10_000_000)).alias(
                "vec_id"
            ),
            *others,
            F.when(F.col("_rep") == 0, F.col("embedding"))
            .otherwise(
                F.concat(
                    F.slice(
                        F.col("embedding"),
                        (F.col("_rep") % dim) + F.lit(1),
                        F.lit(dim) - (F.col("_rep") % dim),
                    ),
                    F.slice(
                        F.col("embedding"), F.lit(1), F.col("_rep") % dim
                    ),
                )
            )
            .alias("embedding"),
        )
    )
    scaled_e.repartition(32).write.mode("overwrite").parquet(
        os.path.join(out_dir, "embeddings.parquet")
    )
    print(f"built {out_dir}: {ne} vectors x {replicas} replicas (dim={dim})")

    # Events (round 9 — the ES-surface queries aggregate/paginate the
    # events table): replica k shifts event ids and USERS (fresh user
    # ids -> 10x distinct users, 10x geo points, 10x composite
    # buckets — the cardinalities those queries key on — while the
    # fixed 2024-01 date range keeps the date-histogram bucket count
    # CONSTANT, which is exactly the pipeline-agg scale claim).
    ev = spark.read.parquet(os.path.join(src_sf, "events.parquet"))
    nev = ev.count()
    ev_others = [c for c in ev.columns if c not in ("event_id", "user_id")]
    scaled_ev = ev.crossJoin(F.broadcast(reps)).select(
        (F.col("event_id") + F.col("_rep") * F.lit(100_000_000)).alias(
            "event_id"
        ),
        (F.col("user_id") + F.col("_rep") * F.lit(1_000_000)).alias("user_id"),
        *ev_others,
    )
    scaled_ev.repartition(32).write.mode("overwrite").parquet(
        os.path.join(out_dir, "events.parquet")
    )
    print(f"built {out_dir}: {nev} events x {replicas} replicas")


def probe(spark, queries, names, sf_dir: str, reps: int) -> dict[str, dict]:
    """Best of ``reps`` runs of each query, fully materialized through
    the noop writer (the bench.py convention; a bare .count() lets
    Catalyst ELIMINATE subtrees a count can prove row-preserving —
    e.g. the left-outer enrich join ending substring_dedup drops its
    entire dedup pipeline under count(), SCALE.md round-10 note)."""
    counters = Counters(spark)
    out = {}
    for name in names:
        best, metrics = None, None
        # row-count sanity signal (ADVICE r10: the noop sink used to
        # report rows=-1, losing the degenerate-result check) —
        # counted ONCE, OUTSIDE the timed loop, so the timing stays
        # the full-materialization noop number
        n_rows = queries[name](spark, sf_dir).count()
        for _ in range(reps):
            dt, _, met = counters.timed(
                f"probe:{name}@{sf_dir}",
                lambda: queries[name](spark, sf_dir)
                .write.format("noop").mode("overwrite").save(),
            )
            if best is None or dt < best:
                best, metrics = dt, {"rows": n_rows, **met}
        out[name] = {"sec": round(best, 2)} | metrics
        print(f"  {name} @ {sf_dir}: {best:.2f}s rows={n_rows} "
              f"shuffleW={metrics['shuffle_write_bytes']/1e6:.1f}MB")
    return out


def crawl_probe(spark, sf_dir: str, work_dir: str) -> dict[str, dict]:
    """Round-9 probe (VERDICT r8 next #4): the crawl-admission path
    and the WARC record walk at a scale factor — seed batch (every
    URL new: full canonicalize -> URL-layer -> content-dedup ->
    admit + 4 index writes), an ALL-REFETCH batch (every URL already
    indexed: must settle at the URL layer with zero text hashed),
    and the WARC write + record-walk read. Shuffle bytes from the
    status-store counters of each step's job group, same as probe()."""
    import shutil

    from pyspark.sql import functions as F

    from irclogbot_spark.sources.warc import read_warc, write_warc
    from irclogbot_spark.streaming.corpus import crawl_ingest_batch

    counters = Counters(spark)
    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    docs = d.select(
        "doc_id",
        F.concat(
            F.lit("https://corpus.example/"), "source", F.lit("/"), F.col("doc_id")
        ).alias("url"),
        "text",
    )
    out: dict[str, dict] = {}

    def timed(label: str, fn) -> None:
        dt, rows, met = counters.timed(f"crawl:{label}@{sf_dir}", fn)
        out[label] = {"sec": round(dt, 2), "rows": rows, **met}
        print(
            f"  {label} @ {sf_dir}: {dt:.2f}s rows={rows} "
            f"shuffleW={met['shuffle_write_bytes']/1e6:.1f}MB"
        )

    corpus_dir = os.path.join(work_dir, "corpus")
    shutil.rmtree(corpus_dir, ignore_errors=True)
    timed(
        "crawl_seed_batch",
        lambda: (
            crawl_ingest_batch(docs, 0, corpus_dir),
            spark.read.parquet(f"{corpus_dir}/audit").count(),
        )[1],
    )
    refetch = docs.withColumn(
        "doc_id", F.col("doc_id") + F.lit(500_000_000)
    ).withColumn("text", F.concat(F.lit("refetched "), F.col("text")))
    timed(
        "crawl_refetch_batch",
        lambda: (
            crawl_ingest_batch(refetch, 1, corpus_dir),
            spark.read.parquet(f"{corpus_dir}/audit")
            .filter("batch_id = 1 AND verdict = 'url_duplicate'")
            .count(),
        )[1],
    )
    warc_dir = os.path.join(work_dir, "warc")
    shutil.rmtree(warc_dir, ignore_errors=True)
    timed("warc_write", lambda: write_warc(docs, warc_dir, compress=True) or 0)
    timed("warc_record_walk", lambda: read_warc(spark, warc_dir).count())
    return out


CRAWL_LABELS = [
    "crawl_seed_batch",
    "crawl_refetch_batch",
    "warc_write",
    "warc_record_walk",
]


PROBE_QUERIES = [
    "docs_minhash_neardup",
    "docs_editdist_neardup",
    "docs_editdist_dedup",
    "docs_prep_pipeline",
    "docs_prep_pipeline_fast",
    "docs_incremental_dedup_wb",
    "docs_hll_distinct",
    # round 8: the embedding family (VERDICT r7 next #6)
    "emb_ivfpq_topk",
    "emb_semantic_dedup",
    "emb_knn_join",
    "emb_projection_recall",
    # round 9: the ES-surface completion set (phrase scan vs index,
    # suggester, keyset page, composite page, geo filter/grid,
    # pipeline aggs over a CONSTANT bucket count)
    "docs_phrase_search",
    "docs_phrase_search_indexed",
    "docs_prefix_suggest",
    "events_search_after",
    "events_composite_agg",
    "events_geo_distance",
    "events_geotile_grid",
    "events_pipeline_aggs",
    "docs_percolate",
    "docs_span_near",
    "docs_phrase_search_atrest",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="/tmp/sf1")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--skip-build", action="store_true")
    ap.add_argument(
        "--queries",
        default=None,
        help="comma-separated subset of PROBE_QUERIES to run",
    )
    ap.add_argument(
        "--crawl",
        action="store_true",
        help="run the crawl-admission + WARC probe instead of PROBE_QUERIES",
    )
    args = ap.parse_args()
    probe_queries = (
        [q for q in args.queries.split(",") if q]
        if args.queries
        else PROBE_QUERIES
    )

    import __spark_entry__ as entry
    from irclogbot_spark.session import get_spark

    spark = get_spark("scale_probe", master="local[32]")
    src = "/root/testdata/sf0.1"
    if not args.skip_build:
        build_sf1(spark, src, args.out)

    if args.crawl:
        print("== sf0.1 (crawl) ==")
        small = crawl_probe(spark, src, "/tmp/crawl_probe_sf01")
        print("== sf1 (10x, crawl) ==")
        big = crawl_probe(spark, args.out, "/tmp/crawl_probe_sf1")
        probe_queries = CRAWL_LABELS
    else:
        qs = entry.queries()
        print("== sf0.1 ==")
        small = probe(spark, qs, probe_queries, src, args.reps)
        print("== sf1 (10x) ==")
        big = probe(spark, qs, probe_queries, args.out, args.reps)

    print("\n| query | sf0.1 s | sf1 s | time x | sf0.1 shufW MB | sf1 shufW MB | shufW x |")
    print("|---|---|---|---|---|---|---|")
    for name in probe_queries:
        s, b = small[name], big[name]
        tr = b["sec"] / s["sec"] if s["sec"] else float("inf")
        sw_s, sw_b = s["shuffle_write_bytes"] / 1e6, b["shuffle_write_bytes"] / 1e6
        swr = (sw_b / sw_s) if sw_s > 0.05 else float("nan")
        print(
            f"| {name} | {s['sec']} | {b['sec']} | {tr:.1f} | "
            f"{sw_s:.1f} | {sw_b:.1f} | {swr:.1f} |"
        )


if __name__ == "__main__":
    main()
