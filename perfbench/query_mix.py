"""``query_mix``: one client, closed loop, at sf0.01.

The client issues a fixed, seeded sequence of ES-style operations, each
started only after the previous one returned its result. A pass runs
every operation type once in a seeded order, and passes follow one
another until the run's time is up.

An operation is two calls into the program: the ``queries`` registry
builds a DataFrame (driver-side construction through ``functions`` and
``operators``), then Spark plans and executes it and the result is
collected to the client. The two keyed-table reads build their frame
with ``spark.read.parquet`` over the table ``keyed_upsert_batch`` wrote.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass
from typing import Callable

import corpus
import oracle
from tracing import SparkCounters, Tracer, count_exchanges, pct

SF = 0.01
#: at-rest text search, then irclog filters and aggregations
REGISTRY_OPS = [
    "docs_bm25_atrest", "docs_bool_search_atrest", "docs_multi_match_atrest",
    "docs_phrase_search_atrest", "docs_fuzzy_term_search_atrest",
    "log_match_phrase_prefix_atrest", "log_term_time_filter", "log_point_lookup",
    "log_recency_search", "log_top_nicks", "log_msgs_per_channel_day",
    "log_significant_terms",
]
KEYED_READS = ["keyed_get_by_id", "keyed_channel_range"]
OP_KINDS = REGISTRY_OPS + KEYED_READS
#: untimed passes before the timed ones. The first pass builds the
#: registry's at-rest text indexes (on first use, as the program does)
#: and compiles every plan shape; later passes run them again while the
#: JIT makes them faster. On a 4-core host passes took about 21, 7, 6,
#: 5.6, 5.3 and 5.0 s: a run cannot afford to wait out the whole curve,
#: and timing from the fourth pass on leaves the steep part behind. A
#: fixed count leaves every run in the same state when timing starts.
WARMUP_PASSES = 3


@dataclass
class Op:
    kind: str
    build: Callable  # () -> DataFrame
    oracle_sql: str | None = None  # keyed reads; registry ops use oracles.ORACLES


class Workload:
    def __init__(self, seed: int, work: str, tracer: Tracer, cpus: int, trace: bool):
        self.seed, self.work, self.cpus = seed, work, cpus
        self.tracer, self.trace = tracer, trace
        self.corpus_dir = os.path.join(work, f"sf{SF}")
        self.rng = random.Random(f"query_mix-{seed}")
        self.info: dict = {"sf": SF}

    # ------------------------------------------------------------ setup
    def setup(self, root_span) -> None:
        from irclogbot_spark.session import get_spark

        tr = self.tracer
        with tr.span("setup.data", parent=root_span):
            corpus.write_corpus(self.corpus_dir, SF, self.seed)
        with tr.span("session", parent=root_span):
            t0 = time.perf_counter()
            self.spark = get_spark("perfbench-query_mix")
            tr.add("session.start_s", time.perf_counter() - t0)
        from irclogbot_spark.oracles import oracle_sql
        from irclogbot_spark.queries import queries

        self.registry, self.oracles = queries(), oracle_sql()
        with tr.span("setup.keyed_table", parent=root_span):
            self._write_keyed_table()
        self.counters = SparkCounters(self.spark) if self.trace else None

    def _write_keyed_table(self) -> None:
        """The parsed irclog, upserted once into the keyed table the
        streaming sink maintains; the two keyed reads query it."""
        from irclogbot_spark import synth
        from irclogbot_spark.streaming.pipeline import keyed_upsert_batch

        self.table = os.path.join(self.work, "keyed")
        keyed_upsert_batch(synth.irclog(self.spark, self.corpus_dir), 0, self.table)
        self.table_sql = f"read_parquet('{self.table}/*/*.parquet', hive_partitioning=true)"
        con = oracle.connect(self.corpus_dir, 1)
        self.table_ids = sorted(r[0] for r in con.sql(f"SELECT id FROM {self.table_sql}").fetchall())
        con.close()
        # the checks load the table once, as ``keyed``, and query that
        self.info["keyed_table_rows"] = len(self.table_ids)

    # -------------------------------------------------------------- ops
    def _op(self, kind: str) -> Op:
        if kind in self.registry:
            return Op(kind, lambda: self.registry[kind](self.spark, self.corpus_dir))
        from pyspark.sql import functions as F

        def keyed():
            return self.spark.read.parquet(self.table)

        if kind == "keyed_get_by_id":
            key = self.rng.choice(self.table_ids)
            return Op(kind, lambda: keyed().filter(F.col("id") == key),
                      f"SELECT * FROM keyed WHERE id = '{key}'")
        channel = f"#{self.rng.choice(corpus.EVENT_TYPES)}"
        day = self.rng.randrange(1, 29)
        lo, hi = f"2024-01-{day:02d} 00:00:00", f"2024-01-{day + 2:02d} 00:00:00"
        return Op(
            kind,
            lambda: keyed().filter(
                (F.col("channel") == channel)
                & (F.col("posted") >= F.lit(lo).cast("timestamp_ntz"))
                & (F.col("posted") < F.lit(hi).cast("timestamp_ntz"))
            ),
            f"SELECT * FROM keyed WHERE channel = '{channel}' "
            f"AND posted >= TIMESTAMP '{lo}' AND posted < TIMESTAMP '{hi}'",
        )

    def next_pass(self) -> list[Op]:
        kinds = list(OP_KINDS)
        self.rng.shuffle(kinds)
        return [self._op(k) for k in kinds]

    def run_op(self, op: Op, op_id: int, traced: bool):
        """Run one operation; returns (latency_s, (columns, rows))."""
        if not traced:
            t0 = time.perf_counter()
            df = op.build()
            result = df.columns, df.collect()
            return time.perf_counter() - t0, result
        tr, sc = self.tracer, self.counters
        t0 = time.perf_counter()
        with tr.span(f"op.{op.kind}", op_id) as root:
            sc.set_group(f"b{op_id}")
            with tr.span("queries.build", op_id, root), tr.py4j.counting() as calls:
                df = op.build()
            with tr.span("spark.plan", op_id, root):
                plan = df._jdf.queryExecution().executedPlan()
            sc.set_group(f"e{op_id}")
            with tr.span("spark.exec", op_id, root):
                result = df.columns, df.collect()
        latency = time.perf_counter() - t0
        build, run = sc.read(f"b{op_id}"), sc.read(f"e{op_id}")
        tr.add("queries.py4j_calls", calls[0])
        tr.add("spark.exchanges", count_exchanges(plan.toString()))
        tr.add("spark.build_jobs", build["jobs"])
        tr.add("spark.exec_jobs", run["jobs"])
        for key in ("stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes",
                    "spill_bytes", "executor_cpu_s"):
            tr.add(f"spark.{key}", build[key] + run[key])
        tr.add("sources.input_bytes", build["input_bytes"] + run["input_bytes"])
        tr.add(f"queries.{op.kind}.ms", latency * 1e3)
        return latency, result

    # --------------------------------------------------------------- run
    def run(self, seconds: float, t_start: float) -> dict:
        tr, trace = self.tracer, self.trace
        checks = []  # (op, result, timed)
        with tr.span("setup") as root:
            self.setup(root)
            with tr.span("setup.warmup", parent=root):
                for _ in range(WARMUP_PASSES):
                    for op in self.next_pass():
                        checks.append((op, self.run_op(op, None, traced=False)[1], False))
        setup_s = time.time() - t_start

        op_id, errors, passes = 0, 0, 0
        timed = []  # (kind, latency_s, traced)
        pick, traced_kinds = random.Random(f"trace-{self.seed}"), set()
        t0 = time.perf_counter()
        # An untraced run stops at the first operation boundary after
        # ``seconds``: stopping only on whole passes would make the op
        # count jump between two and three passes with the host's speed,
        # and the medians with it. A traced run makes an even number of whole
        # passes and each pair traces every op type once, half of them
        # in each pass, so the drift from one pass to the next falls on
        # both sides alike.
        while time.perf_counter() - t0 < seconds or (trace and passes % 2):
            if trace:
                traced_kinds = (set(pick.sample(OP_KINDS, len(OP_KINDS) // 2))
                                if passes % 2 == 0 else set(OP_KINDS) - traced_kinds)
            for op in self.next_pass():
                if not trace and time.perf_counter() - t0 >= seconds:
                    break
                op_id += 1
                traced = tr.enabled = op.kind in traced_kinds
                try:
                    latency, result = self.run_op(op, op_id, traced)
                except Exception as e:  # an op that raises counts as failed
                    errors += 1
                    self.info.setdefault("errors", []).append(f"{op.kind}: {e!r}"[:300])
                    continue
                timed.append((op.kind, latency, traced))
                checks.append((op, result, True))
            else:
                passes += 1
        wall = time.perf_counter() - t0
        tr.enabled = trace
        self.spark.stop()

        c0 = time.perf_counter()
        bad_kinds, bad_reads = self._check(checks)
        self.info["check_s"] = round(time.perf_counter() - c0, 3)
        failed = errors + bad_reads + sum(1 for kind, _, _ in timed if kind in bad_kinds)
        lat_ms = [x * 1e3 for _, x, _ in timed]
        self.info.update(passes=passes, timed_ops=len(lat_ms), timed_s=round(wall, 3))
        if trace:
            side = {t: [x * 1e3 for _, x, traced in timed if traced == t] for t in (True, False)}
            tr.add("trace.overhead_latency_ms_p50", pct(side[True], 0.5) - pct(side[False], 0.5))
            rate = {t: 1e3 * len(ms) / sum(ms) for t, ms in side.items()}
            tr.add("trace.overhead_ops_per_s", rate[True] - rate[False])
        return {
            "metrics": {
                "setup_s": (setup_s, "s"),
                "ops_per_s": (len(lat_ms) / wall, "1/s"),
                "latency_ms_p50": (pct(lat_ms, 0.5), "ms"),
                "latency_ms_p90": (pct(lat_ms, 0.9), "ms"),
            },
            "attempted": len(timed) + errors,
            "failed": failed,
        }

    def _check(self, checks) -> tuple[set, int]:
        """Compare every collected result with DuckDB, Spark stopped.

        Registry results are deterministic, so a mismatch marks the op
        type bad; keyed reads are checked one by one. Returns (bad op
        types, mismatching timed keyed reads)."""
        con = oracle.connect(self.corpus_dir, self.cpus)
        con.sql(f"CREATE TABLE keyed AS SELECT * FROM {self.table_sql}")
        want: dict[str, tuple] = {}
        bad_kinds, bad_reads = set(), 0
        for op, (cols, rows), timed in checks:
            if op.kind in self.registry:
                if op.kind not in want:
                    want[op.kind] = oracle.duck_rows(con, self.oracles[op.kind])
                expected = want[op.kind]
            else:
                expected = oracle.duck_rows(con, op.oracle_sql)
            reason = oracle.mismatch(oracle.canonical(cols, rows), expected)
            if reason:
                self.info.setdefault("mismatch", []).append(f"{op.kind}: {reason}"[:300])
                if op.kind in self.registry:
                    bad_kinds.add(op.kind)
                elif timed:
                    bad_reads += 1
        con.close()
        return bad_kinds, bad_reads
