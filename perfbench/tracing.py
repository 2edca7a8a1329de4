"""Tracing recorded from the benchmark's own side of each layer boundary.

Nothing here reaches inside the program: spans wrap the benchmark's calls
into ``session``, the ``queries`` registry, ``ingest``,
``streaming.pipeline`` and ``sinks``; counters are read from py4j (the
Python-to-JVM channel every builder call goes through) and from Spark's
live status store, which needs neither the UI nor the REST API.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import re
import statistics
import time

from py4j.java_gateway import GatewayClient
from py4j.protocol import MEMORY_COMMAND_NAME, MEMORY_DEL_SUBCOMMAND_NAME

#: py4j's "release this JVM object" message. Python's garbage collector
#: decides when these go out, so they are left out of the call count.
_DETACH = MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME

_EXCHANGE = re.compile(r"\b(?:Broadcast|Shuffle)?Exchange\b")


def pct(values, q: float) -> float:
    """The q-quantile (0 < q < 1) by linear interpolation; 0.0 when empty."""
    if not values:
        return 0.0
    if len(values) == 1:
        return float(values[0])
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


class Py4jCounter:
    """Counts py4j command messages sent while ``active`` is set."""

    def __init__(self):
        self.calls = 0
        self.active = False

    def install(self) -> None:
        """Wrap py4j's send for the rest of the process."""
        orig = GatewayClient.send_command
        counter = self

        def send_command(client, command, *args, **kwargs):
            if counter.active and not command.startswith(_DETACH):
                counter.calls += 1
            return orig(client, command, *args, **kwargs)

        GatewayClient.send_command = send_command

    @contextlib.contextmanager
    def counting(self):
        """Yield a one-element list that holds the calls made inside."""
        start, self.active = self.calls, True
        out = [0]
        try:
            yield out
        finally:
            self.active = False
            out[0] = self.calls - start


class Tracer:
    """In-memory spans plus per-unit counters, written out at the end.

    A disabled tracer records nothing and costs one branch per span, so
    the same code path serves traced and untraced units."""

    def __init__(self):
        self.enabled = False
        self.spans: list[dict] = []
        self.samples: dict[str, list[float]] = {}
        self.extra: dict = {}
        self._ids = itertools.count(1)
        self.py4j = Py4jCounter()

    @contextlib.contextmanager
    def span(self, name: str, op_id=None, parent: int | None = None):
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        start = time.time_ns()
        try:
            yield sid
        finally:
            self.record(name, start, time.time_ns(), op_id, parent, sid)

    def record(self, name: str, start_ns: int, end_ns: int, op_id=None,
               parent: int | None = None, sid: int | None = None) -> None:
        """Add a finished span (for spans timed outside ``span``)."""
        self.spans.append(
            {"name": name, "id": sid or next(self._ids), "parent": parent, "op": op_id,
             "start_ns": start_ns, "end_ns": end_ns}
        )

    def add(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def durations_ms(self, name: str) -> list[float]:
        return [(s["end_ns"] - s["start_ns"]) / 1e6 for s in self.spans if s["name"] == name]

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "samples": self.samples, **self.extra, **extra}, f)


class SparkCounters:
    """Jobs, stages, tasks, bytes and CPU per job group, read from the
    live status store after the listener bus has drained."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def read(self, group: str) -> dict[str, float]:
        self._bus.waitUntilEmpty(30_000)
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "input_bytes", "shuffle_read_bytes",
             "shuffle_write_bytes", "spill_bytes", "executor_cpu_s"), 0.0)
        stages = set()
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            out["jobs"] += 1
            stages.update(self._conv.asJava(self._store.job(job_id).stageIds()))
        for sid in stages:
            st = self._store.lastStageAttempt(sid)
            if st.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["input_bytes"] += st.inputBytes()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
        return out


def count_exchanges(plan_string: str) -> int:
    """Exchange operators in a physical plan's tree string (reused
    exchanges are not counted: they move no data)."""
    return len(_EXCHANGE.findall(plan_string))
