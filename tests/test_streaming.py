"""Structured Streaming tests (SURVEY.md §5 item 4): the batch chain
under readStream, watermarked dedup, idempotent keyed sink, and the
E3 invariant — restart from checkpoint must not duplicate data."""

from __future__ import annotations

import pytest

from irclogbot_spark.streaming.pipeline import start_irclog_stream

LINES_A = [
    ":edleafe!~ed@h PRIVMSG #nova :hello world",
    ":alice!al@h2 PRIVMSG #zuul :ship it",
    ":alice!al@h2 PRIVMSG #zuul :ship it",  # duplicate delivery
    "PING :server.example.net",
    ":bob!~b@h PRIVMSG #nova :ACTION waves",
]
LINES_B = [
    ":alice!al@h2 PRIVMSG #zuul :ship it",  # re-delivery across batches
    ":carol!~c@h PRIVMSG #nova :new message",
]


def _write_lines(path, lines, name):
    path.mkdir(parents=True, exist_ok=True)
    (path / name).write_text("\n".join(lines) + "\n")


def test_streaming_ingest_end_to_end(spark, tmp_path):
    src = tmp_path / "src"
    _write_lines(src, LINES_A, "a.log")
    q = start_irclog_stream(
        spark, str(src), str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "out"))
    rows = {(r.channel, r.nick, r.remark) for r in out.collect()}
    assert rows == {
        ("#nova", "edleafe", "hello world"),
        ("#zuul", "alice", "ship it"),
        ("#nova", "bob", "/me waves"),
    }
    assert out.count() == out.select("id").distinct().count()


def test_late_duplicate_beyond_watermark_passes_stream_sink_converges(spark, tmp_path):
    """SURVEY.md §4 documented divergence, pinned: the reference
    dedups against ALL history (ES PUT by content id); a stream must
    bound state, so dropDuplicatesWithinWatermark only holds a key
    until the watermark passes its event time + delay. A duplicate
    re-delivered BEYOND that horizon passes the in-stream dedup — and
    whole-history convergence is restored at the keyed sink, exactly
    like the reference's ES overwrite."""
    import time

    from pyspark.sql import functions as F

    from irclogbot_spark.streaming.pipeline import (
        keyed_upsert_batch,
        read_raw_lines_stream,
        streaming_irclog,
    )

    src = tmp_path / "src"
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    dup = ":alice!al@h2 PRIVMSG #zuul :ship it"

    def drain():
        log = streaming_irclog(
            read_raw_lines_stream(spark, path=str(src)), watermark="2 seconds"
        )
        q = (
            log.writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .format("parquet")
            .start(out)
        )
        q.awaitTermination(120)

    _write_lines(src, [dup], "a.log")
    drain()
    # advance the watermark past a.log's event time + delay: a newer
    # message raises max-event-time; posted is processing wall-clock
    time.sleep(5)
    _write_lines(src, [":bob!~b@h PRIVMSG #nova :advance the clock"], "b.log")
    drain()
    time.sleep(5)
    _write_lines(src, [dup], "c.log")  # same content, beyond the horizon
    drain()

    got = spark.read.parquet(out)
    ship = got.filter(F.col("remark") == "ship it")
    assert ship.count() == 2, "beyond-horizon duplicate should pass the in-stream dedup"
    assert ship.select("id").distinct().count() == 1  # same content key (H2)

    # the keyed sink restores whole-history convergence (H3)
    keyed = str(tmp_path / "keyed")
    keyed_upsert_batch(got, 0, keyed)
    merged = spark.read.parquet(keyed)
    assert merged.filter(F.col("remark") == "ship it").count() == 1
    assert merged.count() == merged.select("id").distinct().count()


def test_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    """The keyed sink is an id-bucket-scoped merge, not an O(table)
    rewrite: after a second batch, every bucket the batch's ids do
    NOT hash into must be byte-identical on disk (same files, same
    contents) — the per-key PUT cost model of the reference's ES sink
    (irclogbot.py:50-51)."""
    import hashlib
    from pathlib import Path

    from pyspark.sql import functions as F

    from irclogbot_spark.ingest import parse_pipeline
    from irclogbot_spark.streaming.pipeline import keyed_upsert_batch

    target = str(tmp_path / "keyed")
    many = [f":u{i}!~u{i}@h PRIVMSG #c{i % 4} :message number {i}" for i in range(200)]
    log1 = parse_pipeline(spark.createDataFrame([(l,) for l in many], "value string"))
    keyed_upsert_batch(log1, 0, target)

    def bucket_state(bucket_dir: Path) -> dict[str, str]:
        return {
            f.name: hashlib.md5(f.read_bytes()).hexdigest()
            for f in sorted(bucket_dir.glob("*.parquet"))
        }

    before = {
        d.name: bucket_state(d) for d in Path(target).glob("id_bucket=*")
    }
    assert len(before) > 1, "need multiple buckets for the assertion to bite"

    # batch 2: one new message + one re-delivery
    log2 = parse_pipeline(
        spark.createDataFrame(
            [(":u0!~u0@h PRIVMSG #c0 :message number 0",),
             (":newbie!~n@h PRIVMSG #c9 :brand new",)],
            "value string",
        )
    )
    touched = {
        r.b
        for r in log2.select(
            F.pmod(F.xxhash64("id"), F.lit(16)).cast("int").alias("b")
        ).collect()
    }
    # every row the merge reads from the batch passes this counter
    reads = spark.sparkContext.accumulator(0)

    def count_read(_):
        reads.add(1)
        return True

    counted = log2.filter(F.udf(count_read, "boolean")(F.col("id")))
    keyed_upsert_batch(counted, 1, target)
    assert reads.value == 2, f"the batch was evaluated {reads.value / 2:g} times"

    after = {d.name: bucket_state(d) for d in Path(target).glob("id_bucket=*")}
    untouched = [n for n in before if int(n.split("=")[1]) not in touched]
    assert untouched, "batch 2 touched every bucket — widen the id space"
    for name in untouched:
        assert after[name] == before[name], f"untouched bucket {name} was rewritten"
    for b in touched:
        files = list((Path(target) / f"id_bucket={b}").glob("*.parquet"))
        assert len(files) == 1, f"touched bucket {b} holds {len(files)} files"
    # and the merge itself upserted: one new row, no duplicate ids
    out = spark.read.parquet(target)
    assert out.count() == 201
    assert out.count() == out.select("id").distinct().count()


def test_upsert_keeps_earliest_posted_per_id(spark, tmp_path):
    """Per id the keyed sink keeps the earliest posted row, also when
    the same line arrives twice within one batch, latest first — on
    both the first write (no table yet) and a merge into a table."""
    import datetime as dt

    from pyspark.sql import functions as F

    from irclogbot_spark.ingest import parse_pipeline
    from irclogbot_spark.streaming.pipeline import keyed_upsert_batch

    line = ":alice!al@h2 PRIVMSG #zuul :ship it"
    day1, day2 = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2)

    def batch(rows):
        raw = spark.createDataFrame(rows, "value string, ts timestamp").coalesce(1)
        return parse_pipeline(raw, ts_col="ts")

    def stored(target):
        rows = spark.read.parquet(target).filter(F.col("remark") == "ship it").collect()
        assert len(rows) == 1
        return rows[0].posted

    absent = str(tmp_path / "absent")
    keyed_upsert_batch(batch([(line, day2), (line, day1)]), 0, absent)
    assert stored(absent) == day1

    bucketed = str(tmp_path / "bucketed")
    keyed_upsert_batch(batch([(":bob!~b@h PRIVMSG #nova :hi", day2)]), 0, bucketed)
    keyed_upsert_batch(batch([(line, day2), (line, day1)]), 1, bucketed)
    assert stored(bucketed) == day1
    assert spark.read.parquet(bucketed).count() == 2


def test_table_layout_probe_is_hadoop_fs_not_os_path(spark, tmp_path):
    """The target-existence probe must go through the Hadoop FS API
    (VERDICT r2 #3): on HDFS/S3 an os.path probe reports "no table"
    and the first merge silently overwrites from scratch. A
    'file:'-scheme URI is indistinguishable from hdfs:// to os.path
    (os.path.isdir('file:/x') is always False) — so passing one here
    proves the probe resolves schemes via Hadoop, not the local API."""
    import os

    from pyspark.sql import functions as F

    from irclogbot_spark.ingest import parse_pipeline
    from irclogbot_spark.streaming.pipeline import keyed_upsert_batch, table_layout

    target = str(tmp_path / "keyed")
    uri = "file:" + target
    assert not os.path.isdir(uri)  # an os.path probe would say "absent" forever
    assert table_layout(spark, uri) == "absent"

    log1 = parse_pipeline(
        spark.createDataFrame(
            [(f":u{i}!~u{i}@h PRIVMSG #c :m {i}",) for i in range(20)], "value string"
        )
    )
    keyed_upsert_batch(log1, 0, uri)
    assert table_layout(spark, uri) == "bucketed"

    # second merge THROUGH THE URI must see the existing table: the
    # re-delivered ids collapse instead of duplicating
    keyed_upsert_batch(log1, 1, uri)
    out = spark.read.parquet(uri)
    assert out.count() == 20
    assert out.count() == out.select("id").distinct().count()
    assert "id_bucket" in out.columns and out.select(F.col("id_bucket")).distinct().count() > 1


def _log(spark, lines):
    from irclogbot_spark.ingest import parse_pipeline

    return parse_pipeline(spark.createDataFrame([(x,) for x in lines], "value string"))


def _files(target):
    from pathlib import Path

    return {
        str(f.relative_to(target)): f.read_bytes()
        for f in Path(target).rglob("*")
        if f.is_file()
    }


def test_legacy_flat_layout_fails_loudly_and_migrates(spark, tmp_path):
    """A flat table (a plain ``df.write``, the pre-bucketing layout)
    must not be silently shadowed (ADVICE r2 #2: the old probe saw 'no
    table' and dropped id_bucket= dirs beside the flat files — a mixed,
    conflicting table). The merge refuses before it writes anything and
    leaves every file byte-identical; the table migrates by feeding
    its rows through the sink into a fresh target, after which merges
    resume there."""
    from irclogbot_spark.streaming.pipeline import keyed_upsert_batch, table_layout

    flat = str(tmp_path / "flat")
    _log(spark, [f":u{i}!~u{i}@h PRIVMSG #c :m {i}" for i in range(30)]).write.parquet(flat)
    log2 = _log(spark, [":new!~n@h PRIVMSG #c :brand new"])

    before = _files(flat)
    with pytest.raises(RuntimeError, match="id_bucket"):
        keyed_upsert_batch(log2, 0, flat)
    assert _files(flat) == before

    migrated = str(tmp_path / "migrated")
    keyed_upsert_batch(spark.read.parquet(flat), 0, migrated)
    assert table_layout(spark, migrated) == "bucketed"
    assert spark.read.parquet(migrated).count() == 30

    keyed_upsert_batch(log2, 1, migrated)
    out = spark.read.parquet(migrated)
    assert out.count() == 31
    assert out.count() == out.select("id").distinct().count()


def test_mixed_layout_crash_artifact_refused_and_recoverable(spark, tmp_path):
    """VERDICT r3 #8: id_bucket= dirs BESIDE flat parquet files — a
    bucketed table with a stray flat copy of its rows — is refused
    loudly (merging would double-count the stray rows) and every file
    is left byte-identical. Removing the stray flat files recovers a
    working bucketed table that merges resume on."""
    from pathlib import Path

    from pyspark.sql import functions as F

    from irclogbot_spark.streaming.pipeline import (
        N_ID_BUCKETS,
        keyed_upsert_batch,
        table_layout,
    )

    mixed = str(tmp_path / "mixed")
    log1 = _log(spark, [f":u{i}!~u{i}@h PRIVMSG #c :m {i}" for i in range(30)])
    log1.write.parquet(mixed)
    log1.withColumn(
        "id_bucket", F.pmod(F.xxhash64("id"), F.lit(N_ID_BUCKETS)).cast("int")
    ).write.mode("append").partitionBy("id_bucket").parquet(mixed)
    assert list(Path(mixed).glob("id_bucket=*"))
    log2 = _log(spark, [":new!~n@h PRIVMSG #c :brand new"])

    before = _files(mixed)
    with pytest.raises(RuntimeError, match="id_bucket"):
        table_layout(spark, mixed)
    with pytest.raises(RuntimeError, match="id_bucket"):
        keyed_upsert_batch(log2, 0, mixed)
    assert _files(mixed) == before

    for stray in Path(mixed).glob("*.parquet"):
        stray.unlink()
    assert table_layout(spark, mixed) == "bucketed"
    assert spark.read.parquet(mixed).count() == 30

    keyed_upsert_batch(log2, 0, mixed)
    out = spark.read.parquet(mixed)
    assert out.count() == 31
    assert out.count() == out.select("id").distinct().count()


def test_restart_from_checkpoint_is_duplicate_safe(spark, tmp_path):
    """E3: supervision restarts must not duplicate (reference relies on
    content-keyed ES upsert; we rely on checkpoint + keyed sink)."""
    src = tmp_path / "src"
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _write_lines(src, LINES_A, "a.log")
    q = start_irclog_stream(spark, str(src), out_dir, ckpt)
    q.awaitTermination(120)
    n1 = spark.read.parquet(out_dir).count()

    # "restart": new file arrives (incl. a re-delivered old message),
    # stream resumes from the same checkpoint
    _write_lines(src, LINES_B, "b.log")
    q = start_irclog_stream(spark, str(src), out_dir, ckpt)
    q.awaitTermination(120)
    out = spark.read.parquet(out_dir)
    assert out.count() == n1 + 1  # only carol is new
    assert out.count() == out.select("id").distinct().count()
    remarks = {r.remark for r in out.collect()}
    assert "new message" in remarks


def test_streams_start_only_through_the_runner():
    """Every stream in the package starts through artifacts.drain:
    the checkpoint, the foreachBatch sink and the trigger are chosen
    in one place, so no module wires its own writeStream."""
    from pathlib import Path

    import irclogbot_spark

    root = Path(irclogbot_spark.__file__).parent
    wiring = sorted(
        str(p.relative_to(root))
        for p in root.rglob("*.py")
        if "writeStream" in p.read_text(encoding="utf-8")
    )
    assert wiring == ["artifacts.py"]
