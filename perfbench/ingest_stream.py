"""``ingest_stream``: the reference's whole job, open loop.

A separate feeder process renames pre-generated files of raw IRC lines
into the source directory at a fixed offered rate. The system under
test is ``read_raw_lines_stream -> streaming_irclog ->
foreachBatch(keyed_upsert_batch)`` on a processing-time trigger, writing
into a keyed table pre-seeded in set-up to a fixed size. Each line is timed
from the due time of its file to the commit of the micro-batch that
wrote it, which the file source's checkpoint log and the commit log
tell apart without touching the program.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import subprocess
import sys
import time

import duckdb

import corpus
from tracing import Tracer, pct

#: raw lines in the pre-seeded table's input (noise and re-deliveries
#: included). The table size drives every upsert's cost, so it is the
#: same in every run. It was chosen to keep set-up short, not taken from
#: traffic data.
PRESEED_LINES = 10_000
#: offered load: one file of LINES_PER_FILE lines every INTERVAL_S, i.e.
#: 1000 lines/s. Chosen, not taken from traffic data. On a 4-core host
#: the stream kept up with 10000 lines/s on this trigger (each
#: micro-batch done within the interval, 3.1-3.5 s), so at this rate the
#: backlog never grows.
LINES_PER_FILE = 200
INTERVAL_S = 0.2
#: the processing-time trigger. The program sets no interval of its own
#: (``start_irclog_stream`` drains with availableNow), so this one was
#: chosen for steadiness: with micro-batches back to back, how many files
#: a batch caught varied from run to run, and latency with it. Spark
#: fires the trigger on multiples of the interval since the epoch; the
#: feeder's schedule starts 0.1 s after such a tick, so every timed
#: micro-batch holds one whole interval of files, due 0.1 s to
#: TRIGGER_S - 0.1 s before it fires, and only the pipeline's own time
#: varies from run to run. A run of a whole number of intervals gives
#: whole micro-batches only.
TRIGGER_S = 4
#: untimed feeder flow before timing starts, a whole number of trigger
#: intervals, so timing starts with the stream flowing
WARMUP_S = 8
#: re-timed through parse_pipeline -> noop for ingest.parse_ms_p50
PARSE_SAMPLES = 6


def _iso_ns(ts: str) -> int:
    return int(dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1e9)


def _listdir(d: str) -> list[str]:
    """A checkpoint log's entries; none before the stream has made it."""
    return os.listdir(d) if os.path.isdir(d) else []


class Workload:
    def __init__(self, seed: int, work: str, tracer: Tracer, trace: bool):
        self.seed, self.work, self.tracer, self.trace = seed, work, tracer, trace
        self.dirs = {k: os.path.join(work, k) for k in
                     ("preseed", "staging", "source", "table", "checkpoint")}
        for d in self.dirs.values():
            os.makedirs(d, exist_ok=True)
        self.table = self.dirs["table"]
        self.lines = corpus.IrcLines(seed)
        self.file_bytes: dict[str, int] = {}
        self.sink_calls: dict[int, tuple[dict, dict]] = {}  # listed calls
        self.sink_times: dict[int, float] = {}  # batch id -> upsert ms
        self.grid_ns = 0  # the trigger tick the feeder's schedule starts at
        self.info: dict = {
            "offered_lines_per_s": LINES_PER_FILE / INTERVAL_S,
            "lines_per_file": LINES_PER_FILE,
        }

    def _write(self, path: str, lines: list[bytes]) -> None:
        data = b"\n".join(lines) + b"\n"
        with open(path, "wb") as f:
            f.write(data)
        self.file_bytes[os.path.basename(path)] = len(data)

    # ------------------------------------------------------------ setup
    def setup(self, root_span) -> None:
        from irclogbot_spark.ingest import parse_pipeline
        from irclogbot_spark.session import get_spark
        from irclogbot_spark.streaming.pipeline import keyed_upsert_batch

        tr = self.tracer
        with tr.span("setup.data", parent=root_span):
            self._write(os.path.join(self.dirs["preseed"], "preseed.txt"),
                        self.lines.lines(PRESEED_LINES))
        with tr.span("session", parent=root_span):
            t0 = time.perf_counter()
            self.spark = get_spark("perfbench-ingest_stream")
            tr.add("session.start_s", time.perf_counter() - t0)
        with tr.span("setup.preseed", parent=root_span):
            raw = self.spark.read.text(self.dirs["preseed"])
            keyed_upsert_batch(parse_pipeline(raw), -1, self.table)
            self.info["preseed_table_rows"] = self._table_rows()

    def _table_rows(self) -> int:
        con = duckdb.connect()
        n = con.sql(f"SELECT count(*) FROM read_parquet('{self.table}/*/*.parquet')").fetchone()[0]
        con.close()
        return n

    def _start_stream(self):
        from irclogbot_spark.streaming.pipeline import (
            keyed_upsert_batch,
            read_raw_lines_stream,
            streaming_irclog,
        )

        # A traced run times every sink call, which costs nothing, and
        # lists the table around the calls of every other trigger
        # interval, whose latency the calls of the others are compared
        # with; a seeded parity picks the intervals.
        parity = self.seed % 2

        def sink(batch, batch_id):
            window = (time.time_ns() - self.grid_ns) // (TRIGGER_S * 1_000_000_000)
            listed = self.trace and self.grid_ns > 0 and window % 2 == parity
            before = self._listing() if listed else None
            t0 = time.time_ns()
            keyed_upsert_batch(batch, batch_id, self.table)
            if self.trace and self.grid_ns > 0:
                self.tracer.record("sinks.upsert", t0, time.time_ns(), batch_id)
                self.sink_times[batch_id] = (time.time_ns() - t0) / 1e6
                if listed:
                    self.sink_calls[batch_id] = (before, self._listing())

        self.spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
        log = streaming_irclog(read_raw_lines_stream(self.spark, path=self.dirs["source"]))
        return (
            log.writeStream.outputMode("append")
            .option("checkpointLocation", self.dirs["checkpoint"])
            .foreachBatch(sink)
            .trigger(processingTime=f"{TRIGGER_S} seconds")
            .start()
        )

    def _listing(self) -> dict[str, int]:
        out = {}
        for d, _, files in os.walk(self.table):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(d, f)
                    out[os.path.relpath(p, self.table)] = os.path.getsize(p)
        return out

    # --------------------------------------------------------------- run
    def run(self, seconds: float, t_start: float) -> dict:
        tr = self.tracer
        with tr.span("setup") as root:
            self.setup(root)
            query = self._start_stream()
            with tr.span("setup.prime", parent=root):
                # one file through the stream, so the cold first
                # micro-batches are paid in set-up, not in the timed flow
                prime = os.path.join(self.dirs["staging"], "prime.txt")
                self._write(prime, self.lines.lines(LINES_PER_FILE))
                os.rename(prime, os.path.join(self.dirs["source"], "prime.txt"))
                if not self._await_commit(query, "prime.txt", 120):
                    raise RuntimeError("the stream did not commit its first file")
            with tr.span("setup.data", parent=root):
                # the feeder sends files in name order: warm-up files
                # ('a...') first, then the timed ones ('t...')
                n_flow = round(WARMUP_S / INTERVAL_S)
                self.n_files = round(seconds / INTERVAL_S)
                for i in range(n_flow + self.n_files):
                    name = f"a{i:05d}.txt" if i < n_flow else f"t{i - n_flow:05d}.txt"
                    self._write(os.path.join(self.dirs["staging"], name),
                                self.lines.lines(LINES_PER_FILE))
        # set-up ends here; waiting for the next trigger tick and the
        # warm-up flow are fixed wall time and left out of it
        setup_s = time.time() - t_start

        gen_log = os.path.join(self.work, "feeder.json")
        tick = TRIGGER_S * 1_000_000_000
        self.grid_ns = (time.time_ns() + 300_000_000) // tick * tick + tick
        start_ns = self.grid_ns + 100_000_000
        first_due = start_ns + n_flow * int(INTERVAL_S * 1e9)
        feeder = subprocess.Popen([
            sys.executable, os.path.join(os.path.dirname(__file__), "feeder.py"),
            self.dirs["staging"], self.dirs["source"], str(start_ns),
            str(int(INTERVAL_S * 1e9)), gen_log,
        ])
        try:
            feeder.wait(timeout=seconds + 60)
        finally:
            if feeder.poll() is None:
                feeder.kill()
                feeder.wait()
        # lines still uncommitted after this count as failed
        self._await_commit(query, f"t{self.n_files - 1:05d}.txt", 30)
        progress = [json.loads(p.json) for p in query.recentProgress]
        tr.extra["progress"] = progress
        query.stop()
        with open(gen_log) as f:
            log = json.load(f)
        lags = [(done - due) / 1e6 for _, due, done in log]
        fed = {name: (due, done) for name, due, done in log if name.startswith("t")}

        batch_of = self._file_batches()
        committed = self._commit_times()
        lat_ms, last_commit, lost = [], 0, 0
        for name, (due, _) in fed.items():
            b = batch_of.get(name)
            if b is None or b not in committed:
                lost += LINES_PER_FILE
                continue
            lat_ms += [(committed[b] - due) / 1e6] * LINES_PER_FILE
            last_commit = max(last_commit, committed[b])
        attempted = LINES_PER_FILE * self.n_files
        wall_s = (last_commit - first_due) / 1e9 if lat_ms else 1.0
        if self.trace:
            self._trace_layers(progress, fed, batch_of, committed)
        self.spark.stop()

        bad = self._check()
        tr.add("gen.lag_ms", max(lags))
        self.info.update(gen_lag_ms_max=round(max(lags), 3), timed_files=len(fed),
                         uncommitted_lines=lost, id_mismatches=bad)
        return {
            "metrics": {
                "setup_s": (setup_s, "s"),
                "ops_per_s": ((attempted - lost) / wall_s, "1/s"),
                "latency_ms_p50": (pct(lat_ms, 0.5), "ms"),
                "latency_ms_p90": (pct(lat_ms, 0.9), "ms"),
            },
            "attempted": attempted,
            "failed": min(attempted, lost + bad),
        }

    # -------------------------------------------------- checkpoint logs
    def _await_commit(self, query, name: str, timeout_s: float) -> bool:
        """Wait until the micro-batch that read source file ``name`` has
        committed and reported its progress; False on timeout."""
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            if query.exception() is not None:
                raise RuntimeError(f"stream failed: {query.exception()}")
            b = self._file_batches().get(name)
            if b is not None and b in self._commit_times():
                last = query.lastProgress
                if last is not None and last["batchId"] >= b:
                    return True
            time.sleep(0.1)
        return False

    def _file_batches(self) -> dict[str, int]:
        """source file name -> micro-batch id.

        The file source logs each file under its own batch counter,
        which skips no-data micro-batches; the offset log gives the
        source position each micro-batch read up to."""
        ckpt = self.dirs["checkpoint"]
        source_batch = {}
        d = os.path.join(ckpt, "sources", "0")
        for name in _listdir(d):
            if name.startswith("."):
                continue
            with open(os.path.join(d, name)) as f:
                for line in f.read().splitlines()[1:]:  # first line is the version
                    entry = json.loads(line)
                    source_batch[os.path.basename(entry["path"])] = entry["batchId"]
        read_up_to = []
        d = os.path.join(ckpt, "offsets")
        for name in _listdir(d):
            if name.isdigit():
                with open(os.path.join(d, name)) as f:
                    # version, metadata, then one offset per source
                    read_up_to.append((int(name), json.loads(f.read().splitlines()[2])["logOffset"]))
        read_up_to.sort()
        # a file the source has listed for a micro-batch whose offsets
        # are not logged yet maps to None and is left out
        batch_of = {name: next((b for b, upto in read_up_to if upto >= s), None)
                    for name, s in source_batch.items()}
        return {name: b for name, b in batch_of.items() if b is not None}

    def _commit_times(self) -> dict[int, int]:
        d = os.path.join(self.dirs["checkpoint"], "commits")
        return {int(n): os.stat(os.path.join(d, n)).st_mtime_ns
                for n in _listdir(d) if n.isdigit()}

    # ------------------------------------------------------------ checks
    def _check(self) -> int:
        """Ids in the keyed table that are missing, unexpected, duplicated
        or hold the wrong row, against the lines the generator emitted
        (pre-seed and warm-up included, noise excluded)."""
        con = duckdb.connect()
        rows = con.sql(
            f"SELECT id, channel, nick, remark FROM read_parquet('{self.table}/*/*.parquet')"
        ).fetchall()
        con.close()
        got = {r[0]: tuple(r[1:]) for r in rows}
        want = self.lines.emitted
        bad = (len(rows) - len(got)) + len(got.keys() ^ want.keys())
        bad += sum(1 for k in got.keys() & want.keys() if got[k] != want[k])
        self.info["table_rows"] = len(rows)
        return bad

    # ------------------------------------------------------- per-layer
    def _trace_layers(self, progress, fed, batch_of, committed) -> None:
        from irclogbot_spark.ingest import parse_pipeline

        tr = self.tracer
        tr.extra["files"] = {n: [due, done, batch_of.get(n), committed.get(batch_of.get(n))]
                             for n, (due, done) in fed.items()}
        first_due = min(due for due, _ in fed.values())
        timed = [p for p in progress if _iso_ns(p["timestamp"]) >= first_due]
        data = [p for p in timed if p["numInputRows"] > 0]
        keys = {"trigger": "triggerExecution", "add_batch": "addBatch",
                "query_planning": "queryPlanning", "wal_commit": "walCommit",
                "commit_offsets": "commitOffsets", "latest_offset": "latestOffset"}
        for p in data:
            for name, key in keys.items():
                tr.add(f"streaming.{name}_ms", p["durationMs"].get(key, 0))
            tr.add("streaming.rows_per_batch", p["numInputRows"])
        tr.add("streaming.batches", len(timed))
        states = [s for p in timed for s in p.get("stateOperators", [])]
        tr.add("streaming.state_rows", max((s["numRowsTotal"] for s in states), default=0))
        tr.add("streaming.state_mem_bytes", max((s["memoryUsedBytes"] for s in states), default=0))
        tr.add("streaming.rows_dropped_by_watermark",
               sum(s.get("numRowsDroppedByWatermark", 0) for s in states))
        # files already renamed into the source but not yet in a batch,
        # seen at the start of each timed batch
        for p in timed:
            start, bid = _iso_ns(p["timestamp"]), p["batchId"]
            tr.add("streaming.backlog_files", sum(
                1 for name, (_, done) in fed.items()
                if done <= start and batch_of.get(name, bid) >= bid))
        tr.add("sinks.empty_calls", len(timed) - len(data))
        tr.add("sinks.useful_call_share", len(data) / len(timed) if timed else 0.0)

        files_of: dict[int, list[str]] = {}
        for name, b in batch_of.items():
            files_of.setdefault(b, []).append(name)
        timed_data = sorted(p["batchId"] for p in data)
        for bid in timed_data:
            if bid in self.sink_times:
                tr.add("sinks.upsert_ms", self.sink_times[bid])
        written = read = 0
        for bid in timed_data:
            if bid not in self.sink_calls:
                continue
            before, after = self.sink_calls[bid]
            new = {p: s for p, s in after.items() if p not in before}
            tr.add("sinks.buckets_rewritten", len({p.split(os.sep)[0] for p in new}))
            written += sum(new.values())
            read += sum(self.file_bytes[n] for n in files_of.get(bid, []))
        tr.add("sinks.bytes_written_per_input_byte", written / read if read else 0.0)

        for bid in timed_data[:PARSE_SAMPLES]:
            paths = [os.path.join(self.dirs["source"], n) for n in files_of[bid]]
            t0 = time.perf_counter()
            parse_pipeline(self.spark.read.text(paths)).write.format("noop").mode("overwrite").save()
            tr.add("ingest.parse_ms", (time.perf_counter() - t0) * 1e3)

        # Tracing overhead: timed micro-batches whose sink call the
        # tracer listed the table around, minus the others. Every timed
        # micro-batch holds one whole trigger interval of files, so the
        # two sides wait alike and differ by what the tracer did.
        lat = {True: [], False: []}
        rows, secs = {True: 0, False: 0}, {True: 0.0, False: 0.0}
        for p in data:
            bid = p["batchId"]
            listed = bid in self.sink_calls
            lat[listed] += [(committed[bid] - fed[n][0]) / 1e6
                            for n in files_of.get(bid, []) if n in fed]
            rows[listed] += p["numInputRows"]
            secs[listed] += p["durationMs"]["triggerExecution"] / 1e3
        rate = {k: rows[k] / secs[k] if secs[k] else 0.0 for k in rows}
        tr.add("trace.overhead_latency_ms_p50", pct(lat[True], 0.5) - pct(lat[False], 0.5))
        tr.add("trace.overhead_ops_per_s", rate[True] - rate[False])
