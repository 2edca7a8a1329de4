"""The per-layer metrics of a traced run, reduced from the tracer.

Every traced run reports every metric below. A layer the workload does
not exercise reads 0: ``query_mix`` makes no micro-batches, and
``ingest_stream`` builds no registry query.

Which end-to-end metric each layer should move:

* ``session.*``: ``setup_s``, all workloads.
* ``queries.build_ms_p50``, ``queries.py4j_calls``: ``query_mix``
  latency and ops/s.
* ``spark.plan_ms_p50``, ``spark.exchanges``: ``query_mix`` latency.
* ``spark.exec_ms_p50`` and the job, stage, task, shuffle, spill and CPU
  counters: ``query_mix`` latency, p90 most.
* ``sources.input_bytes``: ``query_mix`` latency (bucket pruning).
* ``queries.<op>.ms_p50``: the owning workload's latency p50.
* ``streaming.*`` durations: ``ingest_stream`` latency p50; the batch,
  state and backlog counters: ``ingest_stream`` ops/s.
* ``sinks.*``: ``ingest_stream`` latency p90 and ops/s, and the keyed
  reads of ``query_mix``.
* ``ingest.parse_ms_p50``: ``ingest_stream`` latency p50.
* ``gen.lag_ms_max``: none; it checks that the open loop kept time.
* ``trace.overhead_*``: traced minus untraced units of the same run
  (``query_mix``: operations; ``ingest_stream``: micro-batches the
  tracer listed the table around).
"""

from __future__ import annotations

import statistics

from query_mix import OP_KINDS
from tracing import Tracer, pct


def _p50(xs):
    return pct(xs, 0.5)


def _p90(xs):
    return pct(xs, 0.9)


def _mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def _max(xs):
    return max(xs, default=0.0)


#: name -> (unit, sample or span name, reducer). Span names read span
#: durations in ms; every other source reads ``Tracer.samples``.
SPEC = {
    "session.start_s": ("s", "session.start_s", _p50),
    "queries.build_ms_p50": ("ms", "span:queries.build", _p50),
    "queries.py4j_calls": ("count", "queries.py4j_calls", _mean),
    "spark.plan_ms_p50": ("ms", "span:spark.plan", _p50),
    "spark.exchanges": ("count", "spark.exchanges", _mean),
    "spark.exec_ms_p50": ("ms", "span:spark.exec", _p50),
    "spark.build_jobs": ("count", "spark.build_jobs", _mean),
    "spark.exec_jobs": ("count", "spark.exec_jobs", _mean),
    "spark.stages": ("count", "spark.stages", _mean),
    "spark.tasks": ("count", "spark.tasks", _mean),
    "spark.shuffle_write_bytes": ("bytes", "spark.shuffle_write_bytes", _mean),
    "spark.shuffle_read_bytes": ("bytes", "spark.shuffle_read_bytes", _mean),
    "spark.spill_bytes": ("bytes", "spark.spill_bytes", _mean),
    "spark.executor_cpu_s": ("s", "spark.executor_cpu_s", _mean),
    "sources.input_bytes": ("bytes", "sources.input_bytes", _mean),
    **{f"queries.{k}.ms_p50": ("ms", f"queries.{k}.ms", _p50) for k in OP_KINDS},
    "streaming.trigger_ms_p50": ("ms", "streaming.trigger_ms", _p50),
    "streaming.add_batch_ms_p50": ("ms", "streaming.add_batch_ms", _p50),
    "streaming.query_planning_ms_p50": ("ms", "streaming.query_planning_ms", _p50),
    "streaming.wal_commit_ms_p50": ("ms", "streaming.wal_commit_ms", _p50),
    "streaming.commit_offsets_ms_p50": ("ms", "streaming.commit_offsets_ms", _p50),
    "streaming.latest_offset_ms_p50": ("ms", "streaming.latest_offset_ms", _p50),
    "streaming.batches": ("count", "streaming.batches", _max),
    "streaming.rows_per_batch_p50": ("count", "streaming.rows_per_batch", _p50),
    "streaming.state_rows": ("count", "streaming.state_rows", _max),
    "streaming.state_mem_bytes": ("bytes", "streaming.state_mem_bytes", _max),
    "streaming.rows_dropped_by_watermark": ("count", "streaming.rows_dropped_by_watermark", _max),
    "streaming.backlog_files_max": ("count", "streaming.backlog_files", _max),
    "sinks.upsert_ms_p50": ("ms", "sinks.upsert_ms", _p50),
    "sinks.upsert_ms_p90": ("ms", "sinks.upsert_ms", _p90),
    "sinks.empty_calls": ("count", "sinks.empty_calls", _max),
    "sinks.useful_call_share": ("ratio", "sinks.useful_call_share", _max),
    "sinks.buckets_rewritten_per_call": ("count", "sinks.buckets_rewritten", _mean),
    "sinks.bytes_written_per_input_byte": ("ratio", "sinks.bytes_written_per_input_byte", _max),
    "ingest.parse_ms_p50": ("ms", "ingest.parse_ms", _p50),
    "gen.lag_ms_max": ("ms", "gen.lag_ms", _max),
    "trace.overhead_latency_ms_p50": ("ms", "trace.overhead_latency_ms_p50", _max),
    "trace.overhead_ops_per_s": ("1/s", "trace.overhead_ops_per_s", _max),
}


def per_layer(tracer: Tracer) -> dict[str, dict]:
    out = {}
    for name, (unit, source, reduce) in SPEC.items():
        if source.startswith("span:"):
            xs = tracer.durations_ms(source[5:])
        else:
            xs = tracer.samples.get(source, [])
        out[name] = {"value": reduce(xs), "unit": unit}
    return out
