#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Each query materializes fully through the 'noop' sink — a count()
would let Catalyst prune exactly the expensive columns (ids,
signatures) we mean to measure.

Two recorded passes (round 2 bench hygiene, VERDICT r1 #8):
* queries        — at SF_DIR (round-comparable);
* queries_small  — same set at sf0.01, exposing the scaling slope.

Search and aggregation queries over the irclog read the registry's
stored log (written once per process on first use, so the warm-up
passes pay it); the ingest queries run the synth+parse+hash chain on
every call, because that chain is what they measure.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SMALL_DIR = os.environ.get("SPARK_GRAFT_SMALL_DIR", "/root/testdata/sf0.01")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

#: The headline set: ingest chain + hash (the reference's whole job),
#: the implied analytics surface, the TPC-H-ish join/agg shapes, and
#: the north-star dedup/similarity/text operators.
HEADLINE = [
    "ingest_parse",
    "ingest_dedup",
    "log_msgs_per_channel_day",
    "log_top_nicks",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier",
    "events_session_window",
    "events_asof_join",
    "docs_token_stats",
    "docs_minhash_neardup",
    "docs_minhash_lsh",
    "docs_neardup_clusters",
    "docs_dedup_pipeline",
    "docs_decontaminate",
    "docs_lm_score",
    "docs_crossdup",
    "docs_prep_pipeline",
    "docs_prep_pipeline_fast",
    "docs_simhash_neardup",
    "docs_c4_clean",
    "docs_quality_score",
    "docs_adaptive_quality",
    "docs_inverted_index",
    "docs_tfidf_topk",
    "docs_incremental_dedup",
    "docs_budget_cap",
    "emb_cosine_neardup",
    "emb_knn_join",
    "emb_ann_topk",
    "emb_ivf_topk",
    "emb_semantic_dedup",
    "emb_pq_topk",
    "emb_ivfpq_topk",
    "docs_dedup_keep_best",
    "docs_hybrid_search",
    "docs_crossdup_remove",
    "docs_vocab_coverage",
    "events_funnel",
    "events_retention",
    "events_range_join",
    "docs_tokenize",
    "log_nick_cooccurrence",
    # round-5 additions: the previously unbenched registered queries
    # (VERDICT r4 #7 — regressions in unbenched paths are invisible)
    "docs_chunking",
    "docs_temperature_mix",
    "docs_reservoir_sample",
    "docs_sample_split",
    "emb_ivf_recall",
    "docs_incremental_dedup_wb",
    # round-5 operators
    "events_funnel_window",
    "docs_winnow_fingerprint",
    "docs_importance_resample",
    "docs_dedup_keep_best_fast",
    "docs_bm25_indexed",
    "docs_paragraph_dedup",
    "docs_decontam_bloom",
    "events_top_paths",
    "emb_semantic_decontam",
    "docs_normalized_dedup",
    "docs_bpe_merges",
    "emb_kmeans_clusters",
    "docs_data_card",
    "graph_pagerank_trade",
    "docs_bpe_tokenize",
    "docs_tokenize_fast",
    "media_frame_plan",
    "docs_lsh_recall",
    "docs_compression_ratio",
    "events_anomaly",
    "docs_pps_sample",
    "log_trending_terms",
    # round-6 additions
    "log_channel_day_bucketed",
    "docs_corpus_shuffle",
    "media_audio_stats",
    "media_resize_stats",
    "media_decode_stats",
    "docs_corpus_shuffle_fast",
    "tpch_q16_supplier_cnt",
    "log_term_time_partitioned",
    "tpch_q4_order_priority",
    "tpch_q7_volume_shipping",
    "tpch_q13_cust_distribution",
    "tpch_q14_promo_revenue",
    "tpch_q17_small_qty_revenue",
    "tpch_q22_global_sales",
    "docs_editdist_neardup",
    "docs_snapshot_diff",
    "docs_length_winsorize",
    "docs_editdist_dedup",
    "tpch_q2_min_cost_supplier",
    "tpch_q6_forecast_revenue",
    "tpch_q8_market_share",
    "tpch_q9_product_profit",
    "tpch_q10_returned_items",
    "tpch_q11_important_stock",
    "tpch_q12_late_lines",
    "tpch_q15_top_supplier",
    "tpch_q19_disjunctive_rev",
    "tpch_q20_promotion_parts",
    "tpch_q21_waiting_suppliers",
    "events_salted_enrich",
    "events_attribution",
    "agg_unpivot",
    "emb_random_projection",
    "emb_hard_negatives",
    "docs_ngram_novelty",
    "emb_projection_recall",
    "docs_source_containment",
    "docs_leakage_safe_split",
    "docs_length_batching",
    "docs_jsonl_ingest",
    "docs_heavy_hitters_cms",
    "emb_sq8_error",
    "docs_hll_distinct",
    "docs_length_quantile_sketch",
    "docs_priority_sample",
    "events_anomaly_mad",
    "docs_multikey_linkage",
    "docs_unigram_segment",
    "docs_prefix_filter_join",
    "events_theil_sen_trend",
    "events_zorder_layout",
    "docs_backoff_surprisal",
    # round 7
    "media_png_decode_stats",
    "docs_html_extract",
    "docs_nfc_normalize",
    "docs_url_canonicalize",
    "docs_paragraph_langid",
    "docs_trgm_search",
    "docs_hll_sketch_only",
    # round 8
    "media_jpeg_decode_stats",
    "docs_trgm_search_indexed",
    "docs_warc_ingest",
    # round 9
    "docs_trgm_multi_search",
    "docs_crawl_admit",
    "docs_simhash_neardup_md5",
    "docs_fuzzy_term_search",
    "log_significant_terms",
    "docs_more_like_this",
    # round 9 (cont.): the phrase/suggest pair scans or indexes the
    # whole corpus — headline-weight
    "docs_phrase_search",
    "docs_phrase_search_indexed",
    "docs_prefix_suggest",
    "docs_percolate",
    "docs_span_near",
    "docs_phrase_search_atrest",
    "docs_bm25_atrest",
    "docs_substring_dedup",
    "docs_substring_dedup_fast",
    "docs_substring_dedup_incr",
    "docs_fuzzy_term_search_atrest",
    "docs_more_like_this_atrest",
    "docs_wildcard_search",
    "docs_span_near_atrest",
    "docs_bm25_rescore",
    "docs_wildcard_search_indexed",
    # round 11: keyset pagination over the at-rest BM25 ranking —
    # re-executes the bucket-pruned search per page (the ES
    # semantics), so it carries two full ranking executions
    "docs_bm25_search_after_atrest",
    # round 11: the bool query's at-rest path (pivot agg over the
    # probed buckets, dl from the posting rows)
    "docs_bool_search_atrest",
    "docs_dis_max_search_atrest",
    "docs_boosting_search_atrest",
    "docs_constant_score_atrest",
    "docs_collapse_by_source_atrest",
    "docs_function_score_atrest",
    "log_recency_search",
    # round 12: multi-field retrieval — the at-rest multi_match pays
    # one probe+pivot per field index; the phrase-prefix pair pays
    # the irclog parse + keyed-upsert distinct (scan) / the log-index
    # build + vocab walk (at-rest)
    "docs_multi_match_atrest",
    "log_match_phrase_prefix",
    "log_match_phrase_prefix_atrest",
    "docs_multi_match_most_fields_atrest",
    "docs_simple_query_string_atrest",
    "docs_terms_set_atrest",
    "docs_span_first_atrest",
    "docs_span_not_atrest",
    # round 13: cross_fields pays the same per-field probes as the
    # other at-rest multi_match types; the fuzzy bool pays the vocab
    # sidecar walk + the compiled bool probe
    "docs_multi_match_cross_fields_atrest",
    "docs_bool_fuzzy_search_atrest",
    "docs_multi_match_operator_and_atrest",
]

#: Every registered query NOT in HEADLINE (VERDICT r7 missing #4:
#: the scalar/filter/agg queries had no recorded time at all, so a
#: regression there was invisible). Benched ONCE
#: per round at SF_DIR (single pass, no median — these are cheap and
#: a coarse number beats none); a test pins HEADLINE ∪ CHEAP ==
#: queries() so future registrations can't silently go unbenched.
CHEAP = [
    "ingest_filter_stats",
    "ingest_action_rows",
    "ingest_compat_ids",
    "channels_catalog",
    "log_term_time_filter",
    "log_point_lookup",
    "log_nick_rank_per_channel",
    "log_inter_message_gap",
    "log_search_terms",
    "join_top_customers",
    "join_anti_customers_no_orders",
    "join_semi_parts_ordered",
    "agg_rollup_sets",
    "agg_stats",
    "agg_pivot",
    "set_ops",
    "scalar_human_fmt",
    "events_windows",
    "events_json_extract",
    "events_approx_stats",
    "docs_quality",
    "docs_bm25_search",
    "docs_bool_search",
    "docs_dis_max_search",
    "docs_boosting_search",
    "docs_constant_score",
    "docs_multi_match",
    "docs_multi_match_most_fields",
    "docs_multi_match_cross_fields",
    "docs_multi_match_operator_and",
    "docs_simple_query_string",
    "docs_bool_fuzzy_search",
    "docs_bool_search_msm_pct",
    "docs_terms_set",
    "docs_span_first",
    "docs_span_not",
    "docs_function_score",
    "docs_neardup_jaccard",
    "docs_dedup_keep_first",
    "docs_lang_id",
    "docs_pack_sequences",
    "docs_pii_redact",
    "emb_ann_recall",
    "window_date_functions",
    "math_array_functions",
    "tpch_q18_big_orders",
    # round 8
    "emb_anchor_gate",
    # round 9 (cont.): map-only or events-sized — cheap by design
    "docs_highlight",
    "events_search_after",
    "events_composite_agg",
    "events_geo_distance",
    "events_geotile_grid",
    "events_pipeline_aggs",
    "docs_rare_terms",
    "events_adjacency_matrix",
    # round 10: dictionary-only / window-bounded — cheap by design
    "docs_prefix_suggest_atrest",
    "docs_collapse_by_source",
]


def _sf_of(path: str) -> float | str:
    sf = path.rstrip("/").rsplit("sf", 1)[-1]
    try:
        return float(sf)
    except ValueError:
        return sf


def _time_one(qs, spark, name, sf_dir) -> float:
    t0 = time.perf_counter()
    qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    return round(time.perf_counter() - t0, 3)


def _run(qs, spark, names, sf_dir, passes: int = 1) -> dict[str, float]:
    """Per-query wall time. passes>=3 reports the MEDIAN of `passes`
    timed runs (round-3 bench hygiene, VERDICT r2 #5: single-shot
    timings swung ±0.3 s round-over-round, making <15% deltas
    unattributable). Min/max per query land in _SPREAD."""
    times: dict[str, float] = {}
    for name in names:
        samples = sorted(_time_one(qs, spark, name, sf_dir) for _ in range(passes))
        times[name] = samples[len(samples) // 2]
        if passes > 1:
            _SPREAD[name] = [samples[0], samples[-1]]
    return times


_SPREAD: dict[str, list[float]] = {}

STRESS_ROWS = int(os.environ.get("SPARK_GRAFT_STRESS_ROWS", "2000000"))

#: calibration anchor (VERDICT r11 next #3 — the host-bimodality
#: classifier): a FIXED pure-CPU workload in the same JVM before the
#: suite, whose wall time reads this host's effective CPU speed.
#: 16e9 xxhash64+bit_xor rows ≈ 2.0 s on the fast host mode (the r12
#: reference, BENCH_AB.md calibration table); a slow-mode run shows
#: proportionally larger calibration_sec, so drift in the headline is
#: classifiable in one line: environmental iff calibration moved too.
CALIB_ROWS = int(os.environ.get("SPARK_GRAFT_CALIB_ROWS", "16000000000"))
#: fast-mode anchor measured round 12 — value_norm = value * (REF/cal)
CALIB_REF_SEC = 2.0


def _calibration(spark) -> float:
    """Median-of-3 wall time of the fixed calibration workload: a
    whole-stage-codegen xxhash64 fold over spark.range (no I/O, no
    data shuffle — one 1-row partial-agg gather), bit_xor so the
    fold can't overflow under ANSI mode. One warm pass first so the
    measurement excludes first-shape codegen."""
    from pyspark.sql import functions as F

    def one(n: int) -> float:
        t0 = time.perf_counter()
        spark.range(n, numPartitions=int(CPUS)).select(
            F.expr("bit_xor(xxhash64(id))")
        ).collect()
        return time.perf_counter() - t0

    one(CALIB_ROWS // 1000)  # codegen warm-up
    samples = sorted(one(CALIB_ROWS) for _ in range(3))
    return round(samples[1], 3)


def _ingest_stress(spark) -> dict:
    """The 2M-line ingest stress (SCALE.md's headline throughput
    number), recorded as a bench artifact instead of prose (VERDICT
    r5 #8): synthesize raw IRC lines from a range (pure codegen, no
    I/O bias), run the FULL chain (gate regex -> group extraction ->
    normalize -> sha2 id -> dedup) through the noop sink, report
    rows/s. Median of 3."""
    from pyspark.sql import functions as F

    from irclogbot_spark.ingest import parse_pipeline
    from irclogbot_spark.synth import synthesize_irc_lines

    n = STRESS_ROWS
    ev = spark.range(n, numPartitions=int(CPUS) * 2).select(
        (F.timestamp_seconds(1700000000 + F.col("id") % 86400))
        .cast("timestamp_ntz")
        .alias("ts"),
        F.col("id").alias("event_id"),
        (F.col("id") % 5000).alias("user_id"),
        F.concat(F.lit("chan"), (F.col("id") % 200).cast("string")).alias(
            "event_type"
        ),
        F.concat(F.lit("message payload "), (F.col("id") % 250000).cast("string")).alias(
            "props"
        ),
    )
    lines = synthesize_irc_lines(ev)
    samples = []
    for _ in range(3):
        t0 = time.perf_counter()
        parse_pipeline(lines, ts_col="ts", deduplicate=True).write.format(
            "noop"
        ).mode("overwrite").save()
        samples.append(time.perf_counter() - t0)
    samples.sort()
    sec = samples[1]
    return {
        "rows": n,
        "seconds": round(sec, 3),
        "rows_per_sec": int(n / sec),
        "minmax_sec": [round(samples[0], 3), round(samples[-1], 3)],
    }


def main() -> None:
    from irclogbot_spark.queries import queries
    from irclogbot_spark.session import get_spark

    spark = get_spark("sparklog-bench", master=f"local[{CPUS}]")
    qs = queries()
    calibration = _calibration(spark)
    # warm the JVM/codegen on the smallest corpus so per-query times
    # measure the operator, not first-call compilation
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir):
        _run(qs, spark, HEADLINE, warm_dir)

    # warm EVERY measured dir before timing it (VERDICT r3 #3: the
    # sf0.01 pass used to be the first visit to SMALL_DIR, so one-time
    # per-dir costs — IVF centroid training, first-shape codegen —
    # polluted its numbers: emb_ivf_topk recorded ~10.8 s of which
    # ~8.6 s was training)
    small = {}
    if os.path.isdir(SMALL_DIR):
        _run(qs, spark, HEADLINE, SMALL_DIR)
        small = _run(qs, spark, HEADLINE, SMALL_DIR)
    _run(qs, spark, HEADLINE, SF_DIR)
    times = _run(qs, spark, HEADLINE, SF_DIR, passes=3)

    # the cheap tail: one warmed pass each so EVERY registered query
    # has a recorded time (their sum stays out of the headline metric
    # to keep it round-comparable)
    _run(qs, spark, CHEAP, warm_dir if os.path.isdir(warm_dir) else SF_DIR)
    cheap = _run(qs, spark, CHEAP, SF_DIR)

    stress = _ingest_stress(spark)

    # full detail to a file (and stderr for humans); the driver's tail
    # capture parses the FINAL stdout line, which round 3 proved must
    # stay compact (VERDICT r3 #1: the all-in-one line outgrew the
    # capture and recorded as parsed: null)
    detail = {
        "queries": times,
        "queries_cheap": cheap,
        "queries_minmax": _SPREAD,
        "queries_small": small,
        "sf_small": _sf_of(SMALL_DIR),
        "ingest_stress": stress,
        "cpus": int(CPUS),
        "calibration_sec": calibration,
        "calibration_ref_sec": CALIB_REF_SEC,
        "calibration_rows": CALIB_ROWS,
    }
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_DETAIL.json"), "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    print(json.dumps(detail), file=sys.stderr)
    # round-14 (VERDICT r13 next #7): PERF r13 could not build its
    # per-query table because the only line carrying "queries" was
    # the ~15 KB stderr detail dump, whose HEAD truncates out of the
    # driver's tail capture (a head-truncated JSON line parses as
    # nothing). Emit the per-query seconds as their OWN compact
    # stdout line (headline medians + the cheap single-pass times —
    # every registered query) right before the final metric line.
    # Additions-only: the final line below is unchanged, and this
    # line is complete-or-absent (if the capture is still too small
    # the head-cut line stays unparseable exactly as today — it can
    # never present a PARTIAL query set as complete).
    print(
        json.dumps(
            {"queries": {**times, **cheap}}, separators=(",", ":")
        )
    )
    # the FINAL stdout line must stay compact: the driver tail-captures
    # ~2000 chars and VERDICT r5 #1 proved a 70-query inline map
    # truncates the head away (parsed: null). Per-query timings live in
    # BENCH_DETAIL.json (and the stderr line above).
    print(
        json.dumps(
            {
                "metric": "headline_suite_seconds",
                "value": round(sum(times.values()), 3),
                # the calibration-normalized headline: raw * (fast-
                # mode anchor / this run's calibration) — host-speed
                # drift divides out, so round-over-round deltas in
                # value_norm are attributable to the code
                "value_norm": round(
                    sum(times.values()) * (CALIB_REF_SEC / calibration), 3
                ),
                "calibration_sec": calibration,
                "unit": "sec",
                "n_queries": len(times),
                "n_cheap": len(cheap),
                "cheap_sum_sec": round(sum(cheap.values()), 3),
                "sf": _sf_of(SF_DIR),
                "detail": "BENCH_DETAIL.json",
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
