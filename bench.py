#!/usr/bin/env python
"""Benchmark harness: every registered query at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Each query materializes fully through the 'noop' sink — a count()
would let Catalyst prune exactly the expensive columns (ids,
signatures) we mean to measure.

Which queries make up the headline metric is the registry's ``tier``
(``queries.query(name, tier=...)``): ``headline`` queries are timed
median-of-3, ``cheap`` ones once. Two recorded headline passes
(round 2 bench hygiene, VERDICT r1 #8):
* queries        — at SF_DIR (round-comparable);
* queries_small  — same set at sf0.01, exposing the scaling slope.

Every registered query also gets a row in BENCH_DETAIL.json's
``ledger`` (``LEDGER_FIELDS``): its recorded SF_DIR time with that
run's status-store counters, read by job group after the clock stops
(``Counters``), and the build and plan layers of one more build of the
same frame, taken after the last timed pass (``_profile``).

Search and aggregation queries over the irclog read the registry's
stored log (written once per process on first use, so the warm-up
passes pay it); the ingest queries run the synth+parse+hash chain on
every call, because that chain is what they measure.
"""

from __future__ import annotations

import itertools
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from py4j.java_gateway import GatewayClient  # noqa: E402
from py4j.protocol import Py4JJavaError  # noqa: E402

from perfbench.tracing import Py4jCounter, SparkCounters, count_exchanges  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SMALL_DIR = os.environ.get("SPARK_GRAFT_SMALL_DIR", "/root/testdata/sf0.01")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

#: the fields of one ledger row: the reported wall time of build and
#: run together (the ``queries`` value) and its status-store counters,
#: then, from a later untimed build of the same frame, the build's
#: seconds and py4j messages and the physical plan's seconds and
#: exchanges
LEDGER_FIELDS = (
    "run_s", "jobs", "stages", "tasks", "input_bytes", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "executor_cpu_s", "build_s",
    "py4j", "plan_s", "exchanges",
)


def _sf_of(path: str) -> float | str:
    sf = path.rstrip("/").rsplit("sf", 1)[-1]
    try:
        return float(sf)
    except ValueError:
        return sf


def tiers(qs) -> tuple[list[str], list[str]]:
    """The headline and cheap query names, in registry order, read from
    the tier each query registered with."""
    return (
        [n for n, f in qs.items() if f.tier == "headline"],
        [n for n, f in qs.items() if f.tier == "cheap"],
    )


class _Evicted:
    """A stage Spark's status store no longer holds, as SparkCounters
    reads it: not COMPLETE, so not counted."""

    def status(self):
        return self

    def toString(self) -> str:
        return "EVICTED"


class _StatusStore:
    """The status store SparkCounters reads, with an evicted stage read
    as ``_Evicted`` instead of raising NoSuchElementException."""

    def __init__(self, store):
        self._store = store

    def job(self, job_id):
        return self._store.job(job_id)

    def lastStageAttempt(self, stage_id):
        try:
            return self._store.lastStageAttempt(stage_id)
        except Py4JJavaError as e:
            if e.java_exception.getClass().getName() != "java.util.NoSuchElementException":
                raise
            return _Evicted()


class Counters(SparkCounters):
    """perfbench's ``SparkCounters`` (jobs, stages, tasks, bytes, spill
    and executor CPU of one job group, read from Spark's status store;
    the Spark UI stays off), shared by bench and scale_probe.

    Past ``spark.ui.retainedStages`` (1000) the store evicts skipped
    stages first, often those of the group just run, and
    ``SparkCounters.read`` raises on a stage it no longer holds. Here
    such a stage reads as not completed: SparkCounters counts only
    completed stages, and the completed stages of the newest jobs are
    the last the store evicts, so every count stays as it was."""

    def __init__(self, spark):
        super().__init__(spark)
        self._store = _StatusStore(self._store)
        self._runs = itertools.count()

    def timed(self, label: str, fn):
        """Run ``fn`` under a fresh job group named after ``label``:
        (seconds, fn's result, the group's counters). The group label
        is set before the clock starts and the counters are read after
        it stops, so only ``fn`` is timed."""
        group = f"{label}#{next(self._runs)}"
        self.set_group(group)
        t0 = time.perf_counter()
        result = fn()
        seconds = time.perf_counter() - t0
        return seconds, result, self.read(group)


def _run(counters, qs, spark, names, sf_dir, passes: int = 1):
    """Per-query wall time: (times, spread, counts). passes>=3 reports
    the MEDIAN of `passes` timed runs (round-3 bench hygiene, VERDICT
    r2 #5: single-shot timings swung ±0.3 s round-over-round, making
    <15% deltas unattributable), and spread holds each query's
    [min, max]. counts holds the status-store counters of the run
    whose time is reported."""
    times: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    counts: dict[str, dict] = {}
    for name in names:
        samples = sorted(
            (
                counters.timed(
                    name,
                    lambda: qs[name](spark, sf_dir)
                    .write.format("noop").mode("overwrite").save(),
                )
                for _ in range(passes)
            ),
            key=lambda s: s[0],
        )
        sec, _, counts[name] = samples[len(samples) // 2]
        times[name] = round(sec, 3)
        if passes > 1:
            spread[name] = [round(samples[0][0], 3), round(samples[-1][0], 3)]
    return times, spread, counts


def _profile(spark, qs, names, sf_dir) -> dict[str, dict]:
    """Build each query's frame once more and plan it without running
    it: its build seconds, the py4j messages sent while building
    (perfbench's ``Py4jCounter``), its planning seconds and the
    exchanges of its physical plan. Untimed; py4j's send is wrapped
    only for the length of this call."""
    send = GatewayClient.send_command
    py4j = Py4jCounter()
    py4j.install()
    out = {}
    try:
        for name in names:
            t0 = time.perf_counter()
            with py4j.counting() as calls:
                df = qs[name](spark, sf_dir)
            t1 = time.perf_counter()
            executed = df._jdf.queryExecution().executedPlan()
            out[name] = {
                "build_s": round(t1 - t0, 3),
                "py4j": calls[0],
                "plan_s": round(time.perf_counter() - t1, 3),
                "exchanges": count_exchanges(executed.toString()),
            }
    finally:
        GatewayClient.send_command = send
    return out


def ledger(times, counts, profiles) -> dict[str, dict]:
    """One row of ``LEDGER_FIELDS`` per query in ``times``."""
    return {
        name: {
            "run_s": sec,
            **{k: round(v, 3) for k, v in counts[name].items()},
            **profiles[name],
        }
        for name, sec in times.items()
    }


STRESS_ROWS = 2_000_000

#: calibration anchor (VERDICT r11 next #3 — the host-bimodality
#: classifier): a FIXED pure-CPU workload in the same JVM before the
#: suite, whose wall time reads this host's effective CPU speed.
#: 16e9 xxhash64+bit_xor rows ≈ 2.0 s on the fast host mode (the r12
#: reference, BENCH_AB.md calibration table); a slow-mode run shows
#: proportionally larger calibration_sec, so drift in the headline is
#: classifiable in one line: environmental iff calibration moved too.
CALIB_ROWS = 16_000_000_000
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
    counters = Counters(spark)
    qs = queries()
    headline, cheap_names = tiers(qs)
    calibration = _calibration(spark)
    # warm the JVM/codegen on the smallest corpus so per-query times
    # measure the operator, not first-call compilation
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir):
        _run(counters, qs, spark, headline, warm_dir)

    # warm EVERY measured dir before timing it (VERDICT r3 #3: the
    # sf0.01 pass used to be the first visit to SMALL_DIR, so one-time
    # per-dir costs — IVF centroid training, first-shape codegen —
    # polluted its numbers: emb_ivf_topk recorded ~10.8 s of which
    # ~8.6 s was training)
    small = {}
    if os.path.isdir(SMALL_DIR):
        _run(counters, qs, spark, headline, SMALL_DIR)
        small = _run(counters, qs, spark, headline, SMALL_DIR)[0]
    _run(counters, qs, spark, headline, SF_DIR)
    times, spread, counts = _run(counters, qs, spark, headline, SF_DIR, passes=3)

    # the cheap tail: one warmed pass each so EVERY registered query
    # has a recorded time (their sum stays out of the headline metric
    # to keep it round-comparable)
    _run(counters, qs, spark, cheap_names,
         warm_dir if os.path.isdir(warm_dir) else SF_DIR)
    cheap, _, cheap_counts = _run(counters, qs, spark, cheap_names, SF_DIR)

    stress = _ingest_stress(spark)
    # the ledger's build and plan layers come after the last timed
    # pass, so nothing they add is ever on the clock
    rows = ledger({**times, **cheap}, {**counts, **cheap_counts},
                  _profile(spark, qs, list(qs), SF_DIR))

    # full detail to a file (and stderr for humans); the driver's tail
    # capture parses the FINAL stdout line, which round 3 proved must
    # stay compact (VERDICT r3 #1: the all-in-one line outgrew the
    # capture and recorded as parsed: null)
    detail = {
        "queries": times,
        "queries_cheap": cheap,
        "queries_minmax": spread,
        "ledger": {name: rows[name] for name in qs},
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
