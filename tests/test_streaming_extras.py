"""Streaming extras: event-time windowed aggregation under watermark,
custom stateful operator (applyInPandasWithState), heartbeat listener
(E3 ops-plane)."""

from __future__ import annotations

import time
from functools import partial

import pytest
from pyspark.sql import functions as F

from irclogbot_spark.artifacts import drain
from irclogbot_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def test_streaming_tumbling_window_matches_batch(spark, tmp_path):
    """window('1 hour') under readStream == batch date_trunc counts."""
    ev = load_table(spark, SF, "events").select(
        F.col("ts").cast("timestamp").alias("ts"), "event_type"
    )  # watermarks need LTZ event time
    src = str(tmp_path / "events_src")
    ev.write.parquet(src)

    stream = (
        spark.readStream.schema(ev.schema)
        .parquet(src)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("hour_ts"), "event_type", "n")
    )
    out = str(tmp_path / "out")
    q = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .format("parquet")
        .start(out)
    )
    q.awaitTermination(120)
    got = {
        (r.hour_ts, r.event_type): r.n for r in spark.read.parquet(out).collect()
    }
    want = {
        (r.hour_ts, r.event_type): r.n
        for r in ev.groupBy(
            F.date_trunc("hour", "ts").alias("hour_ts"), "event_type"
        ).agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # append mode emits only watermark-closed windows; the final
    # (max-ts) window may be withheld — compare on emitted keys and
    # require near-complete coverage
    assert len(got) >= len(want) - 5
    for k, n in got.items():
        assert want[k] == n


def test_streaming_session_window_matches_batch(spark, tmp_path):
    """session_window under readStream == the batch operator's
    watermark-closed sessions."""
    ev = load_table(spark, SF, "events").select(
        F.col("ts").cast("timestamp").alias("ts"), "user_id"
    )
    src = str(tmp_path / "events_src")
    ev.write.parquet(src)
    stream = (
        spark.readStream.schema(ev.schema)
        .parquet(src)
        .withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", F.col("w.start").alias("s"), F.col("w.end").alias("e"), "n")
    )
    out = str(tmp_path / "out")
    q = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .format("parquet")
        .start(out)
    )
    q.awaitTermination(120)
    got = {(r.user_id, r.s, r.e, r.n) for r in spark.read.parquet(out).collect()}
    want = {
        (r.user_id, r.s, r.e, r.n)
        for r in ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", F.col("w.start").alias("s"), F.col("w.end").alias("e"), "n")
        .collect()
    }
    assert got.issubset(want)
    assert len(got) >= len(want) - 15  # open sessions near max-ts withheld


def _run_stateful_until(spark, profiles, ckpt: str, sink: list, done) -> None:
    """Drive a ProcessingTimeTimeout stateful query under availableNow
    until ``done(sink)`` holds, then stop it. Spark semantics make
    this necessary, not a shortcut: with a processing-time timeout
    the engine keeps scheduling no-data 'cleaning up state' batches
    for as long as any group holds state, so the query never
    self-terminates and a bare awaitTermination(120) both burns its
    full timeout AND leaks a live query that keeps consuming the test
    session's cores (measured: 88+ micro-batches for a 3-row file,
    still running at 10 minutes)."""
    q = (
        profiles.writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .foreachBatch(lambda b, i: sink.extend(b.collect()))
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline and q.isActive and not done(sink):
            time.sleep(0.3)
        assert done(sink), f"condition not reached; sink={sink}"
    finally:
        q.stop()
        q.awaitTermination(60)


def test_stateful_channel_profiles(spark, tmp_path):
    from irclogbot_spark.streaming.pipeline import read_raw_lines_stream, streaming_irclog
    from irclogbot_spark.streaming.stateful import channel_profiles

    src = tmp_path / "src"
    src.mkdir()
    (src / "a.log").write_text(
        ":alice!a@h PRIVMSG #nova :one\n"
        ":bob!b@h PRIVMSG #nova :two\n"
        ":alice!a@h PRIVMSG #zuul :three\n"
    )

    def run(sink: list, done):
        log_s = streaming_irclog(
            read_raw_lines_stream(spark, path=str(src)), dedup_in_stream=False
        )
        profiles = channel_profiles(
            log_s.select("channel", "nick", F.col("posted").cast("timestamp").alias("posted"))
        )
        _run_stateful_until(spark, profiles, str(tmp_path / "ckpt"), sink, done)

    first: list = []
    run(
        first,
        lambda s: {(r.channel, r.n_msgs, r.n_nicks_seen) for r in s}
        >= {("#nova", 2, 2), ("#zuul", 1, 1)},
    )
    got = {r.channel: (r.n_msgs, r.n_nicks_seen) for r in first}
    assert got["#nova"] == (2, 2)
    assert got["#zuul"] == (1, 1)

    # second run, same checkpoint: state carries across restarts
    (src / "b.log").write_text(":carol!c@h PRIVMSG #nova :four\n")
    second: list = []
    run(
        second,
        lambda s: any(
            r.channel == "#nova" and r.n_msgs == 3 for r in s
        ),
    )
    nova = max((r for r in second if r.channel == "#nova"), key=lambda r: r.n_msgs)
    assert (nova.n_msgs, nova.n_nicks_seen) == (3, 3)


def test_stateful_idle_channel_evicts_on_timeout(spark, tmp_path):
    """Processing-time timeout eviction: a channel idle past the
    horizon emits a final evicted=True profile and its state is
    dropped — re-arriving data starts a FRESH profile (n_msgs resets),
    proving the state really left the store."""
    from irclogbot_spark.streaming.pipeline import read_raw_lines_stream, streaming_irclog
    from irclogbot_spark.streaming.stateful import channel_profiles

    src = tmp_path / "src"
    src.mkdir()

    def run(sink: list, done):
        log_s = streaming_irclog(
            read_raw_lines_stream(spark, path=str(src)), dedup_in_stream=False
        )
        profiles = channel_profiles(
            log_s.select(
                "channel", "nick", F.col("posted").cast("timestamp").alias("posted")
            ),
            idle_timeout_ms=500,
        )
        _run_stateful_until(spark, profiles, str(tmp_path / "ckpt"), sink, done)

    (src / "a.log").write_text(
        ":alice!a@h PRIVMSG #idle :one\n:bob!b@h PRIVMSG #idle :two\n"
    )
    first: list = []
    run(first, lambda s: ("#idle", 2, False) in {(r.channel, r.n_msgs, r.evicted) for r in s})
    assert ("#idle", 2, False) in {(r.channel, r.n_msgs, r.evicted) for r in first}

    # let #idle's processing-time timeout expire, then trigger a batch
    # touching only a DIFFERENT channel (the timeout may also fire on
    # a trailing micro-batch of run 1 — availableNow keeps scheduling
    # cleanup batches — so assert the eviction across both runs)
    time.sleep(1.5)
    (src / "b.log").write_text(":carol!c@h PRIVMSG #busy :three\n")
    second: list = []

    def _second_done(s):
        return ("#busy", 1, False) in {
            (r.channel, r.n_msgs, r.evicted) for r in s
        } and ("#idle", 2) in [
            (r.channel, r.n_msgs) for r in first + s if r.evicted
        ]

    run(second, _second_done)
    assert ("#busy", 1, False) in {(r.channel, r.n_msgs, r.evicted) for r in second}
    evictions = [
        (r.channel, r.n_msgs) for r in first + second if r.evicted
    ]
    assert ("#idle", 2) in evictions  # final flush on eviction

    # #idle re-appears: state was dropped, profile restarts at 1
    (src / "c.log").write_text(":dave!d@h PRIVMSG #idle :back\n")
    third: list = []
    run(third, lambda s: any(r.channel == "#idle" and not r.evicted for r in s))
    idle = [r for r in third if r.channel == "#idle" and not r.evicted]
    assert [(r.n_msgs, r.n_nicks_seen) for r in idle] == [(1, 1)]


def test_heartbeat_listener(spark, tmp_path):
    from irclogbot_spark.streaming.monitor import HeartbeatListener, heartbeat_age_seconds

    hb_dir = str(tmp_path / "heartbeats")
    listener = HeartbeatListener(hb_dir)
    spark.streams.addListener(listener)
    try:
        src = tmp_path / "src"
        src.mkdir()
        (src / "a.log").write_text(":a!u@h PRIVMSG #c :hi\n")
        from irclogbot_spark.streaming.pipeline import read_raw_lines_stream, streaming_irclog

        log = streaming_irclog(read_raw_lines_stream(spark, path=str(src)))
        q = (
            log.writeStream.format("noop")
            .queryName("hb_test")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        time.sleep(1)  # listener events are async
        age = heartbeat_age_seconds(hb_dir, "hb_test")
        assert age is not None and age < 60
    finally:
        spark.streams.removeListener(listener)


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """interval_join (streaming/joins.py) under two file streams ==
    the same interval join run in batch: every purchase within 1 h
    before each error, per user."""
    from irclogbot_spark.streaming.joins import interval_join

    ev = load_table(spark, SF, "events").select(
        F.col("ts").cast("timestamp").alias("ts"), "user_id", "event_type", "event_id"
    )
    errors = ev.filter(F.col("event_type") == "error").drop("event_type")
    purchases = ev.filter(F.col("event_type") == "purchase").drop("event_type")
    lsrc, rsrc = str(tmp_path / "errs"), str(tmp_path / "purch")
    errors.write.parquet(lsrc)
    purchases.write.parquet(rsrc)

    l_stream = spark.readStream.schema(errors.schema).parquet(lsrc)
    r_stream = spark.readStream.schema(purchases.schema).parquet(rsrc)
    joined = interval_join(
        l_stream, r_stream, on="user_id", lookback="1 hour", watermark="1 hour"
    )
    out = str(tmp_path / "out")
    q = (
        joined.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .format("parquet")
        .start(out)
    )
    q.awaitTermination(180)
    got = {
        (r.l_key, r.l_event_id, r.r_event_id)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r.l_key, r.l_event_id, r.r_event_id)
        for r in interval_join(
            errors, purchases, on="user_id", lookback="1 hour", watermark="1 hour"
        ).collect()
    }
    assert want, "fixture should produce joined pairs"
    assert got == want


BASE_DOC = "alpha beta gamma delta epsilon zeta eta theta iota kappa"


def _corpus_writer(spark, tmp_path):
    """(run_batch, corpus_dir): feed one micro-batch of docs through
    corpus.ingest_batch against a shared checkpoint."""
    from irclogbot_spark.streaming.corpus import ingest_batch

    src = tmp_path / "src"
    src.mkdir()
    corpus_dir = str(tmp_path / "corpus")

    def run_batch(rows):
        import json

        fname = src / f"b{len(list(src.iterdir()))}.json"
        fname.write_text(
            "\n".join(json.dumps({"doc_id": i, "text": t}) for i, t in rows)
        )
        q = drain(
            spark.readStream.schema("doc_id long, text string").json(str(src)),
            str(tmp_path / "ckpt"),
            partial(ingest_batch, corpus_dir=corpus_dir),
        )
        q.awaitTermination(120)

    return run_batch, corpus_dir


def test_continuous_corpus_ingest_two_batches(spark, tmp_path):
    """streaming/corpus.py: batch 1 seeds history + index tables;
    batch 2's exact and near dups of batch-1 docs are flagged and NOT
    re-admitted; within-batch near-dups collapse to one admission;
    history ends exactly-deduplicated and the index tables track it."""
    run_batch, corpus_dir = _corpus_writer(spark, tmp_path)

    run_batch([(1, BASE_DOC), (2, "an unrelated first-batch document here present")])
    run_batch(
        [
            (11, BASE_DOC),
            (12, BASE_DOC + " lambda"),
            (13, "a fresh unseen doc with plenty of distinct tokens inside"),
            (14, "a fresh unseen doc with plenty of distinct tokens inside today"),
        ]
    )

    audit = {
        r.doc_id: (r.verdict, r.dup_of)
        for r in spark.read.parquet(f"{corpus_dir}/audit")
        .filter(F.col("batch_id") > 0)
        .collect()
    }
    assert audit[11] == ("exact_dup_history", 1)
    assert audit[12] == ("near_dup_history", 1)
    assert audit[13][0] == "new"
    assert audit[14] == ("near_dup_batch", 13)  # same-batch near-dup caught
    hist = spark.read.parquet(f"{corpus_dir}/history")
    assert {r.doc_id for r in hist.collect()} == {1, 2, 13}
    # the index tables cover exactly the admitted docs
    fp_ids = {r.doc_id for r in spark.read.parquet(f"{corpus_dir}/fp_index").collect()}
    assert fp_ids == {1, 2, 13}
    bd_ids = {r.doc_id for r in spark.read.parquet(f"{corpus_dir}/band_index").collect()}
    assert bd_ids == {1, 2, 13}


def test_corpus_probe_plan_never_rehashes_history(spark, tmp_path):
    """VERDICT r3 #1 done-criterion: the batch-N verdict plan derives
    fingerprints and MinHash signatures from the PERSISTED index
    tables — nowhere in the plan is an md5 fingerprint or a MinHash
    fold (zip_with) computed over the history relation's own text
    column. History text feeds only the candidate-verification shingle
    projection (above its left-semi candidate prune)."""
    import re

    from irclogbot_spark.streaming.corpus import bootstrap, verdict_frame

    corpus_dir = str(tmp_path / "corpus")
    docs = spark.createDataFrame(
        [(i, f"historic document number {i} alpha beta gamma delta") for i in range(20)],
        "doc_id long, text string",
    )
    bootstrap(docs, corpus_dir)
    batch = spark.createDataFrame(
        [(100, BASE_DOC), (101, "another incoming doc")], "doc_id long, text string"
    )
    vf = verdict_frame(batch, 1, corpus_dir, materialize=False)
    opt = vf._jdf.queryExecution().optimizedPlan().toString()
    # the history parquet relation is the one carrying a text column
    m = re.search(r"Relation \[doc_id#\d+L?,text#(\d+)", opt)
    assert m, f"history relation not found in plan:\n{opt}"
    hist_text = f"text#{m.group(1)}"
    offenders = [
        line
        for line in opt.splitlines()
        if hist_text in line and ("md5(" in line or "zip_with(" in line)
    ]
    assert not offenders, "\n".join(offenders)
    # and the probe really reads the persisted indexes
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = vf._jdf.queryExecution().explainString(mode)
    assert plan.count(f"{corpus_dir}/fp_index") >= 1
    assert plan.count(f"{corpus_dir}/band_index") >= 1
    assert plan.count(f"{corpus_dir}/history") >= 1


def test_corpus_ingest_crash_replay_idempotent(spark, tmp_path):
    """Restart-from-checkpoint safety (VERDICT r3 #4): a batch that
    crashed partway through its four writes — after audit + history +
    fp_index landed but before band_index — is replayed on restart and
    converges to exactly the clean outcome: verdicts identical (the
    probe excludes the batch's own partial partitions), no duplicate
    audit rows, history exactly-deduplicated."""
    from irclogbot_spark.streaming import corpus as C

    run_batch, corpus_dir = _corpus_writer(spark, tmp_path)
    run_batch([(1, BASE_DOC), (2, "an unrelated first-batch document here present")])

    batch2 = [
        (11, BASE_DOC),  # exact dup of history 1
        (12, BASE_DOC + " lambda"),  # near dup of history 1
        (13, "a fresh unseen doc with plenty of distinct tokens inside"),
    ]
    # simulate the crashed first attempt of streaming batch_id=1:
    # monkeypatch the last write to blow up, run the foreachBatch body
    batch2_df = spark.createDataFrame(batch2, "doc_id long, text string")
    real_overwrite, calls = C._overwrite, []

    def failing_overwrite(df, path):
        calls.append(path)
        if "band_index" in path and "batch_id=1" in path:
            raise RuntimeError("simulated crash before the band_index write")
        real_overwrite(df, path)

    C._overwrite = failing_overwrite
    try:
        import pytest

        with pytest.raises(RuntimeError, match="simulated crash"):
            C.ingest_batch(batch2_df, 1, corpus_dir)
    finally:
        C._overwrite = real_overwrite
    # the crash left partial batch_id=1 partitions behind
    assert (tmp_path / "corpus" / "audit" / "batch_id=1").exists()
    assert (tmp_path / "corpus" / "history" / "batch_id=1").exists()

    # restart: the file-source checkpoint has NOT committed batch 1,
    # so the stream replays the same docs as batch_id=1
    run_batch(batch2)

    audit = spark.read.parquet(f"{corpus_dir}/audit").filter(F.col("batch_id") == 1)
    got = {r.doc_id: (r.verdict, r.dup_of) for r in audit.collect()}
    assert got == {
        11: ("exact_dup_history", 1),
        12: ("near_dup_history", 1),
        13: ("new", None),
    }
    assert audit.count() == 3  # exactly one audit row per (batch, doc)
    hist = spark.read.parquet(f"{corpus_dir}/history")
    assert {r.doc_id for r in hist.collect()} == {1, 2, 13}
    assert hist.count() == 3  # no duplicate admissions from the replay
    fp = spark.read.parquet(f"{corpus_dir}/fp_index")
    assert {r.doc_id for r in fp.collect()} == {1, 2, 13} and fp.count() == 3
    bd_ids = {r.doc_id for r in spark.read.parquet(f"{corpus_dir}/band_index").collect()}
    assert bd_ids == {1, 2, 13}


def test_interval_join_rejects_colliding_columns(spark):
    """A payload column literally named 'key' would alias to l_key and
    collide with the join key's reserved name — rejected up front with
    a clear error (ADVICE r3) instead of an ambiguous-reference
    failure downstream."""
    import pytest

    from irclogbot_spark.streaming.joins import interval_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "x")], "user_id long, ts string, key string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00")], "user_id long, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    with pytest.raises(ValueError, match="l_key"):
        interval_join(left, right, on="user_id")
    with pytest.raises(ValueError, match="r_key"):
        interval_join(right, left, on="user_id")


def test_interval_join_rejects_ts_collision(spark):
    """A column named 'ts' alongside a differently-named time column
    would alias to l_ts — also rejected."""
    import pytest

    from irclogbot_spark.streaming.joins import interval_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "2024-01-01 00:00:01")],
        "user_id long, event_time string, ts string",
    ).withColumn("event_time", F.col("event_time").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00")], "user_id long, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    with pytest.raises(ValueError, match="l_ts"):
        interval_join(left, right, on="user_id", left_time="event_time")


def test_corpus_compact_folds_generations_and_ingest_continues(spark, tmp_path):
    """compact() folds the per-batch history/index partitions into one
    negative-id generation; verdicts against the compacted corpus are
    unchanged (a later batch's dups of compacted docs are still
    caught), re-running compact is a no-op-equivalent, and the audit
    trail keeps its per-batch partitions."""
    import os

    from irclogbot_spark.streaming import corpus as C

    run_batch, corpus_dir = _corpus_writer(spark, tmp_path)
    run_batch([(1, BASE_DOC), (2, "an unrelated first-batch document here present")])
    run_batch([(3, "a second-batch doc with its own fresh content indeed")])

    C.compact(spark, corpus_dir, upto_batch_id=1)
    for sub in ("history", "fp_index", "band_index"):
        parts = sorted(os.listdir(f"{corpus_dir}/{sub}"))
        assert [p for p in parts if p.startswith("batch_id=")] == ["batch_id=-2"], parts
    assert sorted(os.listdir(f"{corpus_dir}/audit")) == ["batch_id=0", "batch_id=1"]
    assert {r.doc_id for r in C.history(spark, corpus_dir).collect()} == {1, 2, 3}

    # idempotent re-run (the crash-recovery path) converges
    C.compact(spark, corpus_dir, upto_batch_id=1)
    assert {r.doc_id for r in C.history(spark, corpus_dir).collect()} == {1, 2, 3}

    # stream continues against the compacted corpus: batch_id=2 probes
    # the generation partitions and still catches dups of compacted docs
    run_batch([(11, BASE_DOC), (12, BASE_DOC + " lambda"), (13, "wholly new text here")])
    audit = {
        r.doc_id: r.verdict
        for r in spark.read.parquet(f"{corpus_dir}/audit")
        .filter(F.col("batch_id") == 2)
        .collect()
    }
    assert audit == {
        11: "exact_dup_history",
        12: "near_dup_history",
        13: "new",
    }
    assert {r.doc_id for r in C.history(spark, corpus_dir).collect()} == {1, 2, 3, 13}


def test_continuous_ann_index_matches_one_shot(spark, tmp_path):
    """streaming/annindex.py: two streamed batches of vectors land as
    encoded index partitions; probing the loaded index returns
    EXACTLY what ivfpq_topk computes one-shot over the union corpus
    (frozen learned tables + deterministic search); replaying a
    batch id overwrites its own partition (no duplicate rows)."""
    import json

    from pyspark.sql import functions as F

    from irclogbot_spark.operators.pq import (
        ivfpq_search,
        ivfpq_topk,
        train_pq_codebooks,
    )
    from irclogbot_spark.operators.similarity import train_ivf_centroids
    from irclogbot_spark.streaming import annindex

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    cents = train_ivf_centroids(emb, n_cells=8, n_iter=2)
    books = train_pq_codebooks(emb, n_sub=8, n_codes=16, n_iter=2)

    rows = emb.orderBy("vec_id").limit(40).collect()
    src = tmp_path / "vsrc"
    src.mkdir()
    index_dir = str(tmp_path / "annidx")

    def run_batch(batch_rows):
        fname = src / f"b{len(list(src.iterdir()))}.json"
        fname.write_text(
            "\n".join(
                json.dumps({"vec_id": r.vec_id, "embedding": [float(x) for x in r.embedding]})
                for r in batch_rows
            )
        )
        q = drain(
            spark.readStream.schema(annindex.EMB_SCHEMA).json(str(src)),
            str(tmp_path / "vckpt"),
            partial(
                annindex.ingest_batch,
                index_dir=index_dir,
                centroids=cents,
                books=books,
            ),
        )
        q.awaitTermination(120)

    run_batch(rows[:25])
    run_batch(rows[25:])

    idx = annindex.load_index(spark, index_dir)
    assert idx.count() == 40
    codes = idx.select(F.size("codes").alias("s")).distinct().collect()
    assert [r.s for r in codes] == [8]

    corpus = spark.createDataFrame(
        [(r.vec_id, [float(x) for x in r.embedding]) for r in rows],
        "vec_id long, embedding array<double>",
    )
    qs = corpus.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    got = {
        (r.query_id, r.vec_id, r.pq_rank, r.cosine)
        for r in ivfpq_search(idx, qs, cents, books, k=3, rerank=10).collect()
    }
    want = {
        (r.query_id, r.vec_id, r.pq_rank, r.cosine)
        for r in ivfpq_topk(corpus, qs, cents, books, k=3, rerank=10).collect()
    }
    assert got == want and len(got) == 9

    # replay batch 1's partition: idempotent, still 40 rows
    annindex.ingest_batch(
        spark.createDataFrame(
            [(r.vec_id, [float(x) for x in r.embedding]) for r in rows[25:]],
            "vec_id long, embedding array<double>",
        ),
        1,
        index_dir,
        cents,
        books,
    )
    assert annindex.load_index(spark, index_dir).count() == 40


def _ann_fixture(spark):
    """Small trained IVF-PQ setup shared by the compaction tests."""
    from irclogbot_spark.operators.pq import train_pq_codebooks
    from irclogbot_spark.operators.similarity import train_ivf_centroids

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    cents = train_ivf_centroids(emb, n_cells=8, n_iter=2)
    books = train_pq_codebooks(emb, n_sub=8, n_codes=16, n_iter=2)
    rows = emb.orderBy("vec_id").limit(60).collect()

    def frame(rs):
        # the index contract stores float32 vectors (EMB_SCHEMA) —
        # the parquet values are float32, so the round-trip is exact
        return spark.createDataFrame(
            [(r.vec_id, [float(x) for x in r.embedding]) for r in rs],
            "vec_id long, embedding array<float>",
        )

    return cents, books, rows, frame


def test_ann_index_compaction_cell_layout_and_equivalence(spark, tmp_path):
    """annindex.compact folds batch partitions into a generation laid
    out partitionBy(cell); searches return EXACTLY the pre-compaction
    results; post-compaction batches keep accumulating (loader's
    max-gen rule) and a second compact folds them in."""
    import os

    from irclogbot_spark.operators.pq import ivfpq_search
    from irclogbot_spark.streaming import annindex

    cents, books, rows, frame = _ann_fixture(spark)
    index_dir = str(tmp_path / "annidx")
    annindex.ingest_batch(frame(rows[:20]), 0, index_dir, cents, books)
    annindex.ingest_batch(frame(rows[20:40]), 1, index_dir, cents, books)

    qs = frame(rows[:3]).select(F.col("vec_id").alias("query_id"), "embedding")

    def search():
        idx = annindex.load_index(spark, index_dir)
        return {
            (r.query_id, r.vec_id, r.pq_rank)
            for r in ivfpq_search(idx, qs, cents, books, k=3, rerank=10).collect()
        }

    before = search()
    annindex.compact(spark, index_dir, upto_batch_id=1)
    # physical layout: one generation, cell-partitioned, batches gone
    assert sorted(os.listdir(f"{index_dir}/cells")) == ["gen=2"]
    cells = [d for d in os.listdir(f"{index_dir}/cells/gen=2") if d.startswith("cell=")]
    assert len(cells) >= 2, cells
    assert not os.path.exists(f"{index_dir}/index") or not [
        d for d in os.listdir(f"{index_dir}/index") if d.startswith("batch_id=")
    ]
    assert annindex.load_index(spark, index_dir).count() == 40
    assert search() == before

    # post-compaction ingest lands at batch_id >= gen and is unioned
    annindex.ingest_batch(frame(rows[40:60]), 2, index_dir, cents, books)
    assert annindex.load_index(spark, index_dir).count() == 60
    # second compaction folds generation + live batch into gen=3
    annindex.compact(spark, index_dir, upto_batch_id=2)
    assert sorted(os.listdir(f"{index_dir}/cells")) == ["gen=3"]
    assert annindex.load_index(spark, index_dir).count() == 60


def test_ann_index_probe_prunes_partitions_at_rest(spark, tmp_path):
    """load_index(cells=probe_cells(...)) puts the literal cell
    filter on the compacted scan as PartitionFilters — the probe
    reads only the probed cells' files — and the pruned search
    equals the full-index search (the candidates all live in probed
    cells by construction)."""
    from irclogbot_spark.operators.pq import ivfpq_search
    from irclogbot_spark.streaming import annindex

    cents, books, rows, frame = _ann_fixture(spark)
    index_dir = str(tmp_path / "annidx")
    annindex.ingest_batch(frame(rows[:40]), 0, index_dir, cents, books)
    annindex.compact(spark, index_dir, upto_batch_id=0)

    qvecs = [[float(x) for x in r.embedding] for r in rows[:3]]
    cells = annindex.probe_cells(qvecs, cents, n_probe=4)
    assert 1 <= len(cells) <= 8
    qs = frame(rows[:3]).select(F.col("vec_id").alias("query_id"), "embedding")

    full = annindex.load_index(spark, index_dir)
    pruned = annindex.load_index(spark, index_dir, cells=cells)
    plan = pruned._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert any("cell" in l and "IN" in l.upper() for l in pf), plan
    got = {
        (r.query_id, r.vec_id, r.pq_rank, r.cosine)
        for r in ivfpq_search(
            pruned, qs, cents, books, k=3, n_probe=4, rerank=10
        ).collect()
    }
    want = {
        (r.query_id, r.vec_id, r.pq_rank, r.cosine)
        for r in ivfpq_search(
            full, qs, cents, books, k=3, n_probe=4, rerank=10
        ).collect()
    }
    assert got == want and len(got) == 9


def test_ann_index_ingest_crash_replay_idempotent(spark, tmp_path):
    """The annindex twin of the corpus crash-replay pin: replaying a
    batch id (foreachBatch redelivery after a crash between the
    encode write and the checkpoint commit) overwrites its own
    partition with IDENTICAL rows — asserted on full row content,
    not just counts. A stale-batch replay arriving AFTER compaction
    is excluded by the loader's max-gen rule."""
    from irclogbot_spark.streaming import annindex

    cents, books, rows, frame = _ann_fixture(spark)
    index_dir = str(tmp_path / "annidx")
    annindex.ingest_batch(frame(rows[:20]), 0, index_dir, cents, books)

    def rowset():
        return {
            (r.vec_id, r.cell, tuple(r.codes), tuple(r.embedding))
            for r in annindex.load_index(spark, index_dir).collect()
        }

    before = rowset()
    annindex.ingest_batch(frame(rows[:20]), 0, index_dir, cents, books)
    assert rowset() == before

    annindex.compact(spark, index_dir, upto_batch_id=0)
    assert rowset() == before
    # a crash-delayed replay of ALREADY-COMPACTED batch 0: its rows
    # are in gen=1, the stale partition (batch_id=0 < gen) is ignored
    annindex.ingest_batch(frame(rows[:20]), 0, index_dir, cents, books)
    assert rowset() == before
    # re-running the same compact converges (idempotent recovery)
    annindex.compact(spark, index_dir, upto_batch_id=0)
    assert rowset() == before


def test_streaming_trending_term_counts_match_batch(spark, tmp_path):
    """log_trending_terms' streaming twin: windowed (day, term)
    counts from a watermarked file stream equal the batch counts —
    the stream-counts + serve-ranks split (rank stays a serving-side
    batch window, so the check is on the counts the stream owns)."""
    from irclogbot_spark import synth
    from irclogbot_spark.operators.dedup import tokens

    log = synth.irclog(spark, SF).select(
        F.col("posted").cast("timestamp").alias("posted"), "remark"
    )
    src = str(tmp_path / "log_src")
    log.write.parquet(src)

    stream = (
        spark.readStream.schema(log.schema)
        .parquet(src)
        .withWatermark("posted", "1 day")
        .select(
            F.window("posted", "1 day").alias("w"),
            F.explode(tokens(F.col("remark"))).alias("term"),
        )
        .groupBy("w", "term")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.to_date("w.start").alias("day"), "term", "n")
    )
    out = str(tmp_path / "trend_out")
    q = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "trend_ckpt"))
        .trigger(availableNow=True)
        .format("parquet")
        .start(out)
    )
    q.awaitTermination(120)
    got = {(r.day, r.term): r.n for r in spark.read.parquet(out).collect()}
    want = {
        (r.day, r.term): r.n
        for r in log.select(
            F.to_date("posted").alias("day"),
            F.explode(tokens(F.col("remark"))).alias("term"),
        )
        .groupBy("day", "term")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # append mode withholds the newest still-open day window
    assert len(got) >= len(want) // 2
    for k, n in got.items():
        assert want[k] == n


def test_streaming_last_touch_attribution_matches_batch(spark, tmp_path):
    """events_attribution's stateful streaming twin: per-conversion
    credits from a TWO-batch time-split file replay (state must carry
    the last touch across the batch boundary) equal the batch window
    form's per-conversion credits."""
    from pyspark.sql import Window

    from irclogbot_spark.streaming.stateful import last_touch_attribution

    ev = load_table(spark, SF, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    mid = ev.agg(F.percentile_approx("ts", 0.5)).collect()[0][0]
    src = str(tmp_path / "attr_src")
    # two files split at the median timestamp -> two micro-batches in
    # event-time order
    ev.filter(F.col("ts") <= mid).coalesce(1).write.parquet(src)
    ev.filter(F.col("ts") > mid).coalesce(1).write.parquet(src, mode="append")

    stream = last_touch_attribution(
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    out = str(tmp_path / "attr_out")
    q = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "attr_ckpt"))
        .trigger(availableNow=True)
        .format("parquet")
        .start(out)
    )
    q.awaitTermination(180)
    got = {
        (r.user_id, r.conv_ts): r.touch for r in spark.read.parquet(out).collect()
    }

    touch = F.col("event_type").isin("click", "view")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    credit = F.coalesce(
        F.when(
            F.col("lt_ts") >= F.col("ts") - F.expr("INTERVAL 7 DAYS"),
            F.col("lt_type"),
        ),
        F.lit("none"),
    )
    want = {
        (r.user_id, r.ts): r.touch
        for r in ev.select(
            "user_id",
            "ts",
            "event_type",
            F.last(F.when(touch, F.col("event_type")), ignorenulls=True)
            .over(w)
            .alias("lt_type"),
            F.last(F.when(touch, F.col("ts")), ignorenulls=True)
            .over(w)
            .alias("lt_ts"),
        )
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", credit.alias("touch"))
        .collect()
    }
    assert got == want


def _crawl_writer(spark, tmp_path):
    """(run_batch, corpus_dir): feed one micro-batch of (doc_id, url,
    text) crawl records through crawl_ingest_batch against a
    shared checkpoint."""
    from irclogbot_spark.streaming.corpus import (
        CRAWL_DOC_SCHEMA,
        crawl_ingest_batch,
    )

    src = tmp_path / "crawl_src"
    src.mkdir()
    corpus_dir = str(tmp_path / "crawl_corpus")

    def run_batch(rows):
        import json

        fname = src / f"b{len(list(src.iterdir()))}.json"
        fname.write_text(
            "\n".join(
                json.dumps({"doc_id": i, "url": u, "text": t})
                for i, u, t in rows
            )
        )
        q = drain(
            spark.readStream.schema(CRAWL_DOC_SCHEMA).json(str(src)),
            str(tmp_path / "crawl_ckpt"),
            partial(crawl_ingest_batch, corpus_dir=corpus_dir),
        )
        q.awaitTermination(120)

    return run_batch, corpus_dir


def test_crawl_ingest_url_then_content_dedup(spark, tmp_path):
    """streaming/corpus.py crawl layer: canonicalize -> URL-dedup ->
    content-dedup -> admit, across two batches. Refetches of a seen
    canonical URL (tracking params, fragments, default ports, case)
    are settled at the URL layer; distinct URLs with duplicate
    content fall through to the content layer; the url_index tracks
    every first-seen canonical URL even when its content was a dup."""
    run_batch, corpus_dir = _crawl_writer(spark, tmp_path)

    run_batch(
        [
            (1, "https://Example.com:443/a?utm_source=x", BASE_DOC),
            # same canonical URL as doc 1 -> within-batch url dup,
            # content never consulted
            (2, "https://example.com/a#frag", "totally different text"),
            (3, "http://other.org/b", "an unrelated first-batch document here"),
        ]
    )
    run_batch(
        [
            # refetch of batch-1 URL -> url_duplicate against history
            (11, "https://example.com/a?utm_medium=y", "whatever content"),
            # new URL, exact content dup of history doc 1
            (12, "https://mirror.net/copy", BASE_DOC),
            # new URL, near-dup content of history doc 1
            (13, "https://mirror.net/near", BASE_DOC + " lambda"),
            # genuinely new
            (14, "https://fresh.io/x", "a fresh unseen doc with distinct tokens"),
        ]
    )

    audit = {
        r.doc_id: (r.verdict, r.dup_of)
        for r in spark.read.parquet(f"{corpus_dir}/audit").collect()
    }
    assert audit[1] == ("new", None)
    assert audit[2] == ("url_duplicate", 1)
    assert audit[3] == ("new", None)
    assert audit[11] == ("url_duplicate", 1)
    assert audit[12] == ("exact_dup_history", 1)
    assert audit[13] == ("near_dup_history", 1)
    assert audit[14] == ("new", None)

    hist = spark.read.parquet(f"{corpus_dir}/history")
    assert {r.doc_id for r in hist.collect()} == {1, 3, 14}
    # canon_url landed canonicalized in history
    canon = {r.doc_id: r.canon_url for r in hist.collect()}
    assert canon[1] == "https://example.com/a"
    # url_index covers every FIRST-SEEN canonical URL, including the
    # ones whose content was rejected as duplicate (12, 13)
    uidx = {
        (r.canon_url, r.doc_id)
        for r in spark.read.parquet(f"{corpus_dir}/url_index").collect()
    }
    assert ("https://example.com/a", 1) in uidx
    assert ("https://mirror.net/copy", 12) in uidx
    assert ("https://mirror.net/near", 13) in uidx
    assert ("https://fresh.io/x", 14) in uidx
    # content indexes only track ADMITTED docs
    fp_ids = {
        r.doc_id for r in spark.read.parquet(f"{corpus_dir}/fp_index").collect()
    }
    assert fp_ids == {1, 3, 14}


def test_crawl_ingest_crash_replay_idempotent(spark, tmp_path):
    """The five-write crawl batch keeps the partition-overwrite replay
    contract: a crash after audit+history+fp_index+band_index but
    before the url_index write replays to exactly the clean outcome."""
    import pytest

    from irclogbot_spark.streaming import corpus as C

    run_batch, corpus_dir = _crawl_writer(spark, tmp_path)
    run_batch([(1, "https://a.com/x", BASE_DOC)])

    batch2 = [
        (11, "https://a.com/x?utm_source=s", "refetched content"),
        (12, "https://b.com/y", BASE_DOC),  # content dup of 1
        (13, "https://c.com/z", "a fresh unseen doc with distinct tokens"),
    ]
    batch2_df = spark.createDataFrame(batch2, C.CRAWL_DOC_SCHEMA)
    real_overwrite = C._overwrite

    def failing_overwrite(df, path):
        if "url_index" in path and "batch_id=1" in path:
            raise RuntimeError("simulated crash before the url_index write")
        real_overwrite(df, path)

    C._overwrite = failing_overwrite
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            C.crawl_ingest_batch(batch2_df, 1, corpus_dir)
    finally:
        C._overwrite = real_overwrite
    assert (tmp_path / "crawl_corpus" / "audit" / "batch_id=1").exists()

    run_batch(batch2)  # checkpoint never committed batch 1 -> replay

    audit = spark.read.parquet(f"{corpus_dir}/audit").filter(
        F.col("batch_id") == 1
    )
    got = {r.doc_id: (r.verdict, r.dup_of) for r in audit.collect()}
    assert got == {
        11: ("url_duplicate", 1),
        12: ("exact_dup_history", 1),
        13: ("new", None),
    }
    assert audit.count() == 3
    hist = spark.read.parquet(f"{corpus_dir}/history")
    assert {r.doc_id for r in hist.collect()} == {1, 13}
    assert hist.count() == 2
    uidx = spark.read.parquet(f"{corpus_dir}/url_index")
    assert uidx.count() == 3  # a.com/x, b.com/y, c.com/z — no dups


def test_crawl_compact_folds_url_index_and_ingest_continues(spark, tmp_path):
    """compact() folds the crawl layer's url_index generation too
    (round 8): after folding batches 0..1, a batch-2 refetch of a
    batch-0 URL is still settled at the URL layer from the compacted
    generation partition."""
    from irclogbot_spark.streaming import corpus as C

    run_batch, corpus_dir = _crawl_writer(spark, tmp_path)
    run_batch([(1, "https://a.com/x", BASE_DOC)])
    run_batch([(11, "https://b.com/y", "a second distinct document body")])
    C.compact(spark, corpus_dir, upto_batch_id=1)

    # per-batch url_index partitions folded into the generation
    parts = {
        p.name
        for p in (tmp_path / "crawl_corpus" / "url_index").iterdir()
        if p.name.startswith("batch_id=")
    }
    assert parts == {"batch_id=-2"}

    run_batch([(21, "https://a.com/x?utm_source=z", "whatever refetch")])
    audit = {
        r.doc_id: (r.verdict, r.dup_of)
        for r in spark.read.parquet(f"{corpus_dir}/audit").collect()
    }
    assert audit[21] == ("url_duplicate", 1)
    uidx = spark.read.parquet(f"{corpus_dir}/url_index")
    assert uidx.count() == 2  # a.com/x, b.com/y — refetch added nothing


def test_crawl_ingest_null_and_blank_urls_judged_on_content(spark, tmp_path):
    """A record with a missing/blank url must NOT vanish (null join
    keys) or alias other unknown-URL docs: it gets a per-doc
    pseudo-URL and is verdicted purely on content."""
    from irclogbot_spark.streaming import corpus as C

    corpus_dir = str(tmp_path / "nullcorpus")
    batch = spark.createDataFrame(
        [
            (1, None, BASE_DOC),
            (2, "", "a different document body entirely here"),
            (3, None, BASE_DOC),  # content dup of 1, url unknown
        ],
        C.CRAWL_DOC_SCHEMA,
    )
    C.crawl_ingest_batch(batch, 0, corpus_dir)
    audit = {
        r.doc_id: r.verdict
        for r in spark.read.parquet(f"{corpus_dir}/audit").collect()
    }
    # all three rows accounted for; 3 is a content dup, NOT a url dup
    assert audit == {1: "new", 2: "new", 3: "exact_dup_batch"}
    hist = {r.doc_id for r in spark.read.parquet(f"{corpus_dir}/history").collect()}
    assert hist == {1, 2}


def test_continuous_trgm_index_matches_one_shot(spark, tmp_path):
    """streaming/trgmindex.py: a two-batch document stream posting-
    indexed per micro-batch must serve (through trgm_search) exactly
    what the one-shot persisted index serves — before compaction,
    after compaction, and after a crash-replay of an already-
    compacted batch (the max-gen rule must ignore the rewrite)."""
    import json as _json
    import re

    from irclogbot_spark.operators.trgm import (
        read_trgm_index,
        trgm_search,
        write_trgm_index,
    )
    from irclogbot_spark.streaming import trgmindex as TI

    src = tmp_path / "trgm_src"
    src.mkdir()
    index_dir = str(tmp_path / "trgm_idx")

    def feed(rows):
        fname = src / f"b{len(list(src.iterdir()))}.json"
        fname.write_text(
            "\n".join(_json.dumps({"doc_id": i, "text": t}) for i, t in rows)
        )
        q = drain(
            spark.readStream.schema(TI.DOC_SCHEMA).json(str(src)),
            str(tmp_path / "trgm_ckpt"),
            partial(TI.trgm_ingest_batch, index_dir=index_dir, n_buckets=8),
        )
        q.awaitTermination(120)

    batch1 = [(1, "alpha shuffle gamma"), (2, "window win table value")]
    batch2 = [(3, "another shuffle here"), (4, "nothing relevant at all")]
    feed(batch1)
    feed(batch2)
    all_docs = spark.createDataFrame(batch1 + batch2, "doc_id long, text string")
    pats = ["shuffle", "window win"]

    write_trgm_index(all_docs, str(tmp_path / "oneshot"), n_buckets=8)
    oidx, onb = read_trgm_index(spark, str(tmp_path / "oneshot"))
    want = {
        (r.pattern, r.doc_id)
        for r in trgm_search(all_docs, pats, index=oidx, index_buckets=onb).collect()
    }
    assert {("shuffle", 1), ("shuffle", 3), ("window win", 2)} <= want

    idx, nb = TI.load_trgm(spark, index_dir)
    got = {
        (r.pattern, r.doc_id)
        for r in trgm_search(all_docs, pats, index=idx, index_buckets=nb).collect()
    }
    assert got == want

    # compact: served answer unchanged, and the probe's literal
    # bucket list lands as storage-level PartitionFilters
    TI.compact(spark, index_dir, upto_batch_id=1)
    idx2, nb2 = TI.load_trgm(spark, index_dir)
    probe = trgm_search(all_docs, pats, index=idx2, index_buckets=nb2)
    assert {
        (r.pattern, r.doc_id) for r in probe.collect()
    } == want
    plan = probe._jdf.queryExecution().executedPlan().toString()
    pf = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert any("tri_bkt" in m for m in pf), plan[:2000]

    # crash-replay of an already-compacted batch: the rewrite lands
    # in index/batch_id=1 but gen=2 covers it, so the loader must
    # ignore it and the served answer stays identical
    TI.trgm_ingest_batch(
        spark.createDataFrame(batch2, "doc_id long, text string"),
        1,
        index_dir,
        n_buckets=8,
    )
    idx3, nb3 = TI.load_trgm(spark, index_dir)
    got3 = {
        (r.pattern, r.doc_id)
        for r in trgm_search(all_docs, pats, index=idx3, index_buckets=nb3).collect()
    }
    assert got3 == want


def test_continuous_text_index_matches_one_shot(spark, tmp_path):
    """streaming/textindex.py: a two-batch document stream must
    serve (through the phrase/BM25 probes) exactly what the one-shot
    write_text_index artifact serves — before compaction, after
    compaction (with the literal term buckets landing as
    PartitionFilters), and after a crash-replay of an already-
    compacted batch (the max-gen rule ignores the rewrite)."""
    import json as _json
    import re

    from irclogbot_spark.functions.text import (
        bm25_rank_indexed,
        phrase_search_indexed,
    )
    from irclogbot_spark.operators.textindex import (
        postings_tf,
        probe_postings,
        read_text_index,
        write_text_index,
    )
    from irclogbot_spark.streaming import textindex as TX

    src = tmp_path / "tx_src"
    src.mkdir()
    index_dir = str(tmp_path / "tx_idx")

    def feed(rows):
        fname = src / f"b{len(list(src.iterdir()))}.json"
        fname.write_text(
            "\n".join(_json.dumps({"doc_id": i, "text": t}) for i, t in rows)
        )
        q = drain(
            spark.readStream.schema("doc_id long, text string").json(str(src)),
            str(tmp_path / "tx_ckpt"),
            partial(TX.text_ingest_batch, index_dir=index_dir, n_buckets=8),
        )
        q.awaitTermination(120)

    batch1 = [(1, "slow hash batch here"), (2, "the data the spark")]
    batch2 = [(3, "slow hash batch slow hash batch"), (4, "nothing else")]
    feed(batch1)
    feed(batch2)
    all_docs = spark.createDataFrame(batch1 + batch2, "doc_id long, text string")
    phrase = ["slow", "hash", "batch"]

    write_text_index(all_docs, str(tmp_path / "oneshot"), n_buckets=8)
    opidx, olens, onb = read_text_index(spark, str(tmp_path / "oneshot"))
    want_ph = {
        (r.doc_id, r.phrase_count)
        for r in phrase_search_indexed(
            probe_postings(opidx, phrase, onb), phrase
        ).collect()
    }
    assert want_ph == {(1, 1), (3, 2)}
    want_bm = [
        tuple(r)
        for r in bm25_rank_indexed(
            postings_tf(probe_postings(opidx, ["data"], onb)),
            olens.select("doc_id", "dl"),
            ["data"],
            k=1,
        ).collect()
    ]

    def served():
        pidx, lens, nb = TX.load_text(spark, index_dir)
        ph = {
            (r.doc_id, r.phrase_count)
            for r in phrase_search_indexed(
                probe_postings(pidx, phrase, nb), phrase
            ).collect()
        }
        bm = [
            tuple(r)
            for r in bm25_rank_indexed(
                postings_tf(probe_postings(pidx, ["data"], nb)),
                lens.select("doc_id", "dl"),
                ["data"],
                k=1,
            ).collect()
        ]
        return ph, bm

    ph1, bm1 = served()
    assert ph1 == want_ph and bm1 == want_bm

    TX.compact(spark, index_dir, upto_batch_id=1)
    ph2, bm2 = served()
    assert ph2 == want_ph and bm2 == want_bm
    pidx, lens, nb = TX.load_text(spark, index_dir)
    plan = (
        phrase_search_indexed(probe_postings(pidx, phrase, nb), phrase)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    pf = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert any("term_bkt" in m for m in pf), plan[:2000]

    # crash-replay of an already-compacted batch — ignored by max-gen
    TX.text_ingest_batch(
        spark.createDataFrame(batch2, "doc_id long, text string"),
        1,
        index_dir,
        n_buckets=8,
    )
    ph3, bm3 = served()
    assert ph3 == want_ph and bm3 == want_bm

    # frozen bucket function: different n_buckets raises
    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_buckets"):
        TX.text_ingest_batch(
            spark.createDataFrame(batch1, "doc_id long, text string"),
            7,
            index_dir,
            n_buckets=16,
        )


def test_crawl_admit_to_text_index_one_batch(spark, tmp_path):
    """Round 10 (VERDICT r9 next #5): crawl admission and text-index
    maintenance composed in ONE foreachBatch — the ES deployment
    loop (crawl in, searchable immediately). Admitted docs are
    phrase-searchable right after their batch; REJECTED docs
    (url-dup / content-dup) never enter the index; replaying a batch
    under the same batch_id (crash recovery) changes nothing in
    either artifact; compaction preserves what the index serves."""
    import json as _json

    from irclogbot_spark.functions.text import phrase_search_indexed
    from irclogbot_spark.operators.textindex import probe_postings
    from irclogbot_spark.streaming import corpus as C
    from irclogbot_spark.streaming import textindex as TX

    src = tmp_path / "csrc"
    src.mkdir()
    corpus_dir = str(tmp_path / "ccorpus")
    index_dir = str(tmp_path / "cindex")

    def feed(rows):
        fname = src / f"b{len(list(src.iterdir()))}.json"
        fname.write_text(
            "\n".join(
                _json.dumps({"doc_id": i, "url": u, "text": t})
                for i, u, t in rows
            )
        )
        q = drain(
            spark.readStream.schema(C.CRAWL_DOC_SCHEMA).json(str(src)),
            str(tmp_path / "cckpt"),
            partial(
                C.crawl_ingest_batch,
                corpus_dir=corpus_dir,
                index_dir=index_dir,
                index_buckets=8,
            ),
        )
        q.awaitTermination(120)

    def phrase_hits(terms):
        pidx, _lens, nb = TX.load_text(spark, index_dir)
        probed = probe_postings(pidx, terms, nb)
        return {
            r.doc_id for r in phrase_search_indexed(probed, terms).collect()
        }

    # batch 0: doc 1 admitted; doc 2 is a URL dup whose text contains
    # the probe phrase — it must NOT become searchable
    feed(
        [
            (1, "https://a.com/x", BASE_DOC),
            (2, "https://A.com:443/x?utm_source=s", "slow hash batch decoy"),
        ]
    )
    assert phrase_hits(["alpha", "beta", "gamma"]) == {1}
    assert phrase_hits(["slow", "hash", "batch"]) == set()

    # batch 1: doc 11 genuinely new (carries the phrase), doc 12 an
    # exact content dup of history doc 1 — searchable set grows by 11 only
    feed(
        [
            (11, "https://b.com/y", "the slow hash batch pipeline doc"),
            (12, "https://c.com/z", BASE_DOC),
        ]
    )
    assert phrase_hits(["slow", "hash", "batch"]) == {11}
    assert phrase_hits(["alpha", "beta", "gamma"]) == {1}
    admitted = {
        r.doc_id for r in spark.read.parquet(f"{corpus_dir}/history").collect()
    }
    pidx, lens, _nb = TX.load_text(spark, index_dir)
    indexed = {r.doc_id for r in pidx.select("doc_id").distinct().collect()}
    assert indexed == admitted == {1, 11}
    assert {r.doc_id for r in lens.collect()} == admitted

    # crash replay: re-run batch 1's body under the same batch_id —
    # both artifacts overwrite their own partitions, nothing doubles
    batch1_df = spark.createDataFrame(
        [
            (11, "https://b.com/y", "the slow hash batch pipeline doc"),
            (12, "https://c.com/z", BASE_DOC),
        ],
        C.CRAWL_DOC_SCHEMA,
    )
    before = TX.load_text(spark, index_dir)[0].count()
    C.crawl_ingest_batch(batch1_df, 1, corpus_dir, index_dir=index_dir,
                         index_buckets=8)
    assert TX.load_text(spark, index_dir)[0].count() == before
    assert phrase_hits(["slow", "hash", "batch"]) == {11}

    # compaction folds the per-batch partitions; served set unchanged
    TX.compact(spark, index_dir, upto_batch_id=1)
    assert phrase_hits(["slow", "hash", "batch"]) == {11}
    assert phrase_hits(["alpha", "beta", "gamma"]) == {1}


def test_continuous_substring_dedup_matches_one_shot(spark, tmp_path):
    """streaming/substrings.py (round 10): a two-batch document
    stream excised per micro-batch against the accumulated gram
    index must equal the ONE-SHOT substring_dedup over the combined
    corpus (history ids sort before batch ids, so history-outranks
    == globally-first); a crash replay of batch 1 under the same
    batch_id converges; the index grows by NEW hashes only."""
    import json as _json

    from irclogbot_spark.operators.substrings import substring_dedup
    from irclogbot_spark.streaming import substrings as SS

    src = tmp_path / "ss_src"
    src.mkdir()
    work = str(tmp_path / "ss_work")

    def feed(rows):
        fname = src / f"b{len(list(src.iterdir()))}.json"
        fname.write_text(
            "\n".join(_json.dumps({"doc_id": i, "text": t}) for i, t in rows)
        )
        q = drain(
            spark.readStream.schema("doc_id long, text string").json(str(src)),
            str(tmp_path / "ss_ckpt"),
            partial(SS.substring_ingest_batch, work_dir=work, length=8),
        )
        q.awaitTermination(120)

    span = "a b c d e f g h"
    batch1 = [(1, span + " unique one tail"), (2, "nothing shared here at all")]
    batch2 = [
        (11, "x y " + span + " z w"),       # repeats a batch-1 span
        (12, "x y " + span + " z w"),       # AND duplicates doc 11 in-batch
        (13, "fresh tokens only in this doc"),
    ]
    feed(batch1)
    feed(batch2)

    got = {
        r.doc_id: (r.clean_text, r.n_removed)
        for r in spark.read.parquet(f"{work}/clean").collect()
    }
    want = {
        r.doc_id: (r.clean_text, r.n_removed)
        for r in substring_dedup(
            spark.createDataFrame(
                batch1 + batch2, "doc_id long, text string"
            ),
            length=8,
        ).collect()
    }
    assert got == want
    assert got[1] == (span + " unique one tail", 0)  # canonical survives
    assert got[11] == ("x y z w", 8)
    assert got[12][1] == 12  # every token of 12 is covered

    # index holds the distinct hashes of everything ingested, split
    # across the two batch partitions with no overlap
    idx = spark.read.parquet(f"{work}/gram_index")
    n_idx = idx.count()
    assert n_idx == idx.select("h").distinct().count()

    # crash replay: rerun batch 2's body under the same batch_id
    batch2_df = spark.createDataFrame(batch2, "doc_id long, text string")
    SS.substring_ingest_batch(batch2_df, 1, work, length=8)
    got2 = {
        r.doc_id: (r.clean_text, r.n_removed)
        for r in spark.read.parquet(f"{work}/clean").collect()
    }
    assert got2 == want
    assert spark.read.parquet(f"{work}/gram_index").count() == n_idx


def test_streamed_vocab_matches_one_shot_dictionary(spark, tmp_path):
    """streaming/textindex.py load_vocab (round 10): the streamed
    index's term dictionary must equal the one-shot artifact's vocab
    sidecar — before compaction (on-the-fly batch aggregate), after
    compaction (the persisted vocab generation), and after a crash
    replay of a compacted batch (max-gen rule ignores the rewrite)."""
    import json as _json

    from irclogbot_spark.operators.textindex import (
        read_vocab,
        write_text_index,
    )
    from irclogbot_spark.streaming import textindex as TX

    src = tmp_path / "v_src"
    src.mkdir()
    index_dir = str(tmp_path / "v_idx")

    def feed(rows):
        fname = src / f"b{len(list(src.iterdir()))}.json"
        fname.write_text(
            "\n".join(_json.dumps({"doc_id": i, "text": t}) for i, t in rows)
        )
        q = drain(
            spark.readStream.schema("doc_id long, text string").json(str(src)),
            str(tmp_path / "v_ckpt"),
            partial(TX.text_ingest_batch, index_dir=index_dir, n_buckets=8),
        )
        q.awaitTermination(120)

    batch1 = [(1, "alpha beta alpha"), (2, "beta gamma")]
    batch2 = [(3, "alpha delta"), (4, "gamma gamma gamma")]
    feed(batch1)
    feed(batch2)

    one_shot_dir = str(tmp_path / "one_shot")
    write_text_index(
        spark.createDataFrame(batch1 + batch2, "doc_id long, text string"),
        one_shot_dir,
        n_buckets=8,
    )
    want = {
        r.term: (r.df, r.freq) for r in read_vocab(spark, one_shot_dir).collect()
    }

    def got():
        return {
            r.term: (r.df, r.freq)
            for r in TX.load_vocab(spark, index_dir).collect()
        }

    assert got() == want  # pre-compaction: on-the-fly aggregate
    TX.compact(spark, index_dir, upto_batch_id=1)
    assert got() == want  # persisted vocab generation
    # crash replay of an already-compacted batch — ignored by max-gen
    TX.text_ingest_batch(
        spark.createDataFrame(batch2, "doc_id long, text string"),
        1,
        index_dir,
        n_buckets=8,
    )
    assert got() == want


def test_substring_dedup_compaction_and_continued_ingest(spark, tmp_path):
    """streaming/substrings.py compact (round 10): folding the gram
    index into a generation partition changes nothing the probe
    sees — a batch arriving AFTER compaction is still excised
    against spans first seen before it, and re-running the same
    compact converges (crash-safe idempotent re-run)."""
    from irclogbot_spark.streaming import substrings as SS

    work = str(tmp_path / "cwork")
    span = "a b c d e f g h"
    b0 = spark.createDataFrame(
        [(1, span + " first tail")], "doc_id long, text string"
    )
    b1 = spark.createDataFrame(
        [(11, "mid " + span + " mid2")], "doc_id long, text string"
    )
    SS.substring_ingest_batch(b0, 0, work, length=8)
    SS.substring_ingest_batch(b1, 1, work, length=8)
    SS.compact(spark, work, upto_batch_id=1)
    parts = {
        p.name
        for p in (tmp_path / "cwork" / "gram_index").iterdir()
        if p.name.startswith("batch_id=")
    }
    assert parts == {"batch_id=-2"}
    SS.compact(spark, work, upto_batch_id=1)  # idempotent re-run

    b2 = spark.createDataFrame(
        [(21, "post " + span + " post2"), (22, "fresh only text here")],
        "doc_id long, text string",
    )
    SS.substring_ingest_batch(b2, 2, work, length=8)
    got = {
        r.doc_id: (r.clean_text, r.n_removed)
        for r in spark.read.parquet(f"{work}/clean")
        .filter(F.col("batch_id") == 2)
        .collect()
    }
    assert got[21] == ("post post2", 8)  # history (compacted) outranks
    assert got[22] == ("fresh only text here", 0)


def test_crawl_full_loop_excise_then_index(spark, tmp_path):
    """Round 10 — the complete Common-Crawl-shaped loop in ONE
    foreachBatch: URL-dedup -> content-dedup -> substring-excise ->
    index. A boilerplate span repeated across admitted docs stays
    searchable ONLY through its canonical first doc (later copies
    are excised before indexing); unique text stays searchable;
    replay converges."""
    import json as _json

    from irclogbot_spark.functions.text import phrase_search_indexed
    from irclogbot_spark.operators.textindex import probe_postings
    from irclogbot_spark.streaming import corpus as C
    from irclogbot_spark.streaming import textindex as TX

    src = tmp_path / "fl_src"
    src.mkdir()
    corpus_dir = str(tmp_path / "fl_corpus")
    index_dir = str(tmp_path / "fl_index")
    sub_dir = str(tmp_path / "fl_sub")

    def feed(rows):
        fname = src / f"b{len(list(src.iterdir()))}.json"
        fname.write_text(
            "\n".join(
                _json.dumps({"doc_id": i, "url": u, "text": t})
                for i, u, t in rows
            )
        )
        q = drain(
            spark.readStream.schema(C.CRAWL_DOC_SCHEMA).json(str(src)),
            str(tmp_path / "fl_ckpt"),
            partial(
                C.crawl_ingest_batch,
                corpus_dir=corpus_dir,
                index_dir=index_dir,
                index_buckets=8,
                substring_dir=sub_dir,
                substring_length=8,
            ),
        )
        q.awaitTermination(120)

    def phrase_hits(terms):
        pidx, _lens, nb = TX.load_text(spark, index_dir)
        probed = probe_postings(pidx, terms, nb)
        return {
            r.doc_id for r in phrase_search_indexed(probed, terms).collect()
        }

    boiler = "copyright acme corp all rights reserved legal notice"  # 8 tokens
    feed([(1, "https://a.com/1", boiler + " first doc body")])
    feed(
        [
            # distinct content (admitted) but carries the boilerplate
            (11, "https://b.com/2", boiler + " second doc entirely new words"),
            (12, "https://c.com/3", "no boilerplate just fresh tokens"),
        ]
    )
    bterms = boiler.split()[:3]  # "copyright acme corp"
    assert phrase_hits(bterms) == {1}  # canonical only — 11's copy excised
    assert phrase_hits(["second", "doc", "entirely"]) == {11}
    assert phrase_hits(["fresh", "tokens"]) == {12}

    # replay batch 1 under the same batch_id: all three artifacts
    # overwrite their own partitions — nothing changes
    b1 = spark.createDataFrame(
        [
            (11, "https://b.com/2", boiler + " second doc entirely new words"),
            (12, "https://c.com/3", "no boilerplate just fresh tokens"),
        ],
        C.CRAWL_DOC_SCHEMA,
    )
    C.crawl_ingest_batch(
        b1, 1, corpus_dir, index_dir=index_dir, index_buckets=8,
        substring_dir=sub_dir, substring_length=8,
    )
    assert phrase_hits(bterms) == {1}
    assert phrase_hits(["second", "doc", "entirely"]) == {11}


def test_compound_queries_serve_from_streamed_index(spark, tmp_path):
    """Round 11: the bool and dis_max compound queries serve from a
    STREAM-MAINTAINED text index (frames injected via index= — the
    generation layout has no single path) with rows bit-identical to
    the scan forms over the union corpus."""
    import json as _json

    from irclogbot_spark.operators.boolquery import (
        bool_search,
        bool_search_atrest,
        dis_max_search,
        dis_max_search_atrest,
    )
    from irclogbot_spark.streaming import textindex as TX

    src = tmp_path / "cq_src"
    src.mkdir()
    index_dir = str(tmp_path / "cq_idx")

    def feed(rows):
        fname = src / f"b{len(list(src.iterdir()))}.json"
        fname.write_text(
            "\n".join(_json.dumps({"doc_id": i, "text": t}) for i, t in rows)
        )
        q = drain(
            spark.readStream.schema("doc_id long, text string").json(str(src)),
            str(tmp_path / "cq_ckpt"),
            partial(TX.text_ingest_batch, index_dir=index_dir, n_buckets=8),
        )
        q.awaitTermination(120)

    batch1 = [
        (1, "data spark merge x y"),
        (2, "data spark a b c"),
        (3, "data q r s t u"),
    ]
    batch2 = [
        (4, "data merge dup a b"),
        (5, "scan merge vector w"),
        (6, "scan scan scan merge"),
    ]
    feed(batch1)
    feed(batch2)
    all_docs = spark.createDataFrame(batch1 + batch2, "doc_id long, text string")
    frames = TX.load_text(spark, index_dir)

    kw = dict(
        must=["data"], should=["spark", "merge"], must_not=["dup"],
        minimum_should_match=1, dl_between=(2, 50), k=10,
    )
    want_bool = [tuple(r) for r in bool_search(all_docs, **kw).collect()]
    got_bool = [
        tuple(r)
        for r in bool_search_atrest(spark, "", **kw, index=frames).collect()
    ]
    assert got_bool == want_bool and len(got_bool) == 2  # docs 1, 2

    terms = ["scan", "merge", "vector"]
    want_dm = [
        tuple(r) for r in dis_max_search(all_docs, terms, 0.3, k=10).collect()
    ]
    got_dm = [
        tuple(r)
        for r in dis_max_search_atrest(
            spark, "", terms, 0.3, k=10, index=frames
        ).collect()
    ]
    assert got_dm == want_dm and len(got_dm) >= 3


def test_compound_query_against_streamed_index_across_batches(spark, tmp_path):
    """Round 12 (VERDICT r11 next #4): a compound query served from
    the CONTINUOUSLY MAINTAINED index must match the scan-form
    one-shot oracle at every batch boundary — docs_bool_search's
    shape (must/should/must_not/msm/dl-filter) runs against the
    streamed index after batch N and again after batch N+1, each
    time equal to bool_search over the corpus accumulated so far;
    same for a function_score with a stored-fields fetch."""
    import json as _json

    from irclogbot_spark.operators.boolquery import (
        bool_search,
        bool_search_atrest,
        function_score_search,
        function_score_search_atrest,
    )
    from irclogbot_spark.streaming import textindex as TX

    src = tmp_path / "cq_src"
    src.mkdir()
    index_dir = str(tmp_path / "cq_idx")

    def feed(rows):
        fname = src / f"b{len(list(src.iterdir()))}.json"
        fname.write_text(
            "\n".join(_json.dumps({"doc_id": i, "text": t}) for i, t in rows)
        )
        q = drain(
            spark.readStream.schema("doc_id long, text string").json(str(src)),
            str(tmp_path / "cq_ckpt"),
            partial(TX.text_ingest_batch, index_dir=index_dir, n_buckets=8),
        )
        q.awaitTermination(120)

    kw = dict(
        must=["data"],
        should=["spark", "merge"],
        must_not=["dup"],
        minimum_should_match=1,
        dl_between=(2, 50),
        k=10,
    )
    funcs = [
        {"kind": "field_value_factor", "field": "n_chars", "factor": 0.01},
        {
            "kind": "linear_decay",
            "field": "n_chars",
            "origin": 20,
            "scale": 30,
        },
    ]

    batch1 = [
        (1, "data spark merge x y"),
        (2, "data spark a b c"),
        (3, "data dup spark oops"),
        (4, "no hits here at all"),
    ]
    batch2 = [
        (5, "data merge fresh arrival"),
        (6, "data spark merge late winner"),
        (7, "dup data spark excluded"),
    ]
    seen: list[tuple[int, str]] = []
    for batch in (batch1, batch2):
        feed(batch)
        seen.extend(batch)
        corpus = spark.createDataFrame(seen, "doc_id long, text string")
        # the streamed generation layout has no single path: inject
        # the loaded frames through the index= seam (commit efce05d)
        idx = TX.load_text(spark, index_dir)
        want = [tuple(r) for r in bool_search(corpus, **kw).collect()]
        got = [
            tuple(r)
            for r in bool_search_atrest(spark, None, index=idx, **kw).collect()
        ]
        assert got == want and len(got) > 0, (len(seen), got, want)
        # function_score: BM25 inputs from the streamed index, the
        # function field from a column-pruned corpus fetch
        fields = corpus.select(
            "doc_id", F.length("text").cast("long").alias("n_chars")
        )
        want_fs = [
            tuple(r)
            for r in function_score_search(
                corpus.join(fields, "doc_id"), ["data"], funcs, k=10
            ).collect()
        ]
        got_fs = [
            tuple(r)
            for r in function_score_search_atrest(
                spark, None, fields, ["data"], funcs, k=10, index=idx
            ).collect()
        ]
        assert got_fs == want_fs and len(got_fs) > 0, (len(seen),)


def test_multi_match_against_streamed_per_field_indexes(spark, tmp_path):
    """Round 12: multi_match served from CONTINUOUSLY MAINTAINED
    per-field indexes (two independent streamed index dirs — a field
    is its own index) matches the scan form at each batch boundary,
    through the `indexes=` pre-loaded-frames seam."""
    import json as _json

    from irclogbot_spark.operators.multimatch import (
        multi_match_best_fields,
        multi_match_best_fields_atrest,
    )
    from irclogbot_spark.streaming import textindex as TX

    src = tmp_path / "mm_src"
    src.mkdir()
    dirs = {"title": str(tmp_path / "mm_idx_t"), "body": str(tmp_path / "mm_idx_b")}

    def feed(rows):
        fname = src / f"b{len(list(src.iterdir()))}.json"
        fname.write_text(
            "\n".join(
                _json.dumps({"doc_id": i, "title": t, "body": b})
                for i, t, b in rows
            )
        )
        for field, d in dirs.items():
            q = drain(
                spark.readStream.schema(
                    "doc_id long, title string, body string"
                ).json(str(src)),
                str(tmp_path / f"mm_ckpt_{field}"),
                partial(
                    TX.text_ingest_batch, index_dir=d, n_buckets=8, text_col=field
                ),
            )
            q.awaitTermination(120)

    terms = ["spark", "merge"]
    fields = [("title", 2.0), ("body", 1.0)]
    batch1 = [
        (1, "spark merge intro", "body about spark and merge"),
        (2, "data layout", "merge strategies for spark tables"),
        (3, "unrelated", "nothing here"),
    ]
    batch2 = [
        (4, "spark only title", "no body hits"),
        (5, "plain", "spark appears once"),
    ]
    seen = []
    for batch in (batch1, batch2):
        feed(batch)
        seen.extend(batch)
        corpus = spark.createDataFrame(
            seen, "doc_id long, title string, body string"
        )
        idx = {f: TX.load_text(spark, d) for f, d in dirs.items()}
        want = [
            tuple(r)
            for r in multi_match_best_fields(
                corpus, terms, fields, tie_breaker=0.3, k=10
            ).collect()
        ]
        got = [
            tuple(r)
            for r in multi_match_best_fields_atrest(
                spark,
                [("title", None), ("body", None)],
                terms,
                dict(fields),
                tie_breaker=0.3,
                k=10,
                indexes=idx,
            ).collect()
        ]
        assert got == want and len(got) > 0, (len(seen),)


def test_match_phrase_prefix_against_streamed_index_across_batches(
    spark, tmp_path
):
    """Round 13 (VERDICT r12 next #5): match_phrase_prefix served
    from the CONTINUOUSLY MAINTAINED index — the prefix expansion
    walks the streamed index's term types (a streamed index carries
    no one-shot vocab sidecar; types derive from the postings, and
    after compaction from the generation layout + live batches) —
    must match the scan form over the corpus accumulated so far at
    EVERY boundary: after batch 1, after batch 2, after compaction,
    and after a post-compaction batch 3 (generation + live batch
    union). The compacted vocab generation (load_vocab) must agree
    with the postings-derived term set at each point — the
    dictionary the walk uses is never stale."""
    import json as _json

    from irclogbot_spark.operators.multimatch import (
        match_phrase_prefix,
        match_phrase_prefix_atrest,
    )
    from irclogbot_spark.streaming import textindex as TX

    src = tmp_path / "mpp_src"
    src.mkdir()
    index_dir = str(tmp_path / "mpp_idx")

    def feed(rows):
        fname = src / f"b{len(list(src.iterdir()))}.json"
        fname.write_text(
            "\n".join(_json.dumps({"doc_id": i, "text": t}) for i, t in rows)
        )
        q = drain(
            spark.readStream.schema("doc_id long, text string").json(str(src)),
            str(tmp_path / "mpp_ckpt"),
            partial(TX.text_ingest_batch, index_dir=index_dir, n_buckets=8),
        )
        q.awaitTermination(120)

    batches = [
        [
            (1, "quick brown fox jumps"),
            (2, "quick brown feather falls"),
            (3, "quick brown quick brown fur"),
            (4, "slow brown fox sits"),
        ],
        [
            (5, "quick brown fig arrives late"),
            (6, "quick brown zebra no f-token"),
        ],
        [
            (7, "quick brown fjord after compaction"),
        ],
    ]
    kw = dict(terms=["quick", "brown"], prefix="f", k=10)
    seen: list[tuple[int, str]] = []

    def check(tag):
        corpus = spark.createDataFrame(seen, "doc_id long, text string")
        idx = TX.load_text(spark, index_dir)
        want = [tuple(r) for r in match_phrase_prefix(corpus, **kw).collect()]
        got = [
            tuple(r)
            for r in match_phrase_prefix_atrest(
                spark, None, index=idx, **kw
            ).collect()
        ]
        assert got == want and len(got) > 0, (tag, got, want)
        # the dictionary the walk uses is exactly the live term set
        vocab_terms = {
            r.term for r in TX.load_vocab(spark, index_dir).collect()
        }
        pidx_terms = {r.term for r in idx[0].select("term").distinct().collect()}
        assert vocab_terms == pidx_terms, tag

    feed(batches[0])
    seen.extend(batches[0])
    check("after batch 1")
    feed(batches[1])
    seen.extend(batches[1])
    check("after batch 2")
    TX.compact(spark, index_dir, upto_batch_id=1)
    check("after compaction")
    feed(batches[2])
    seen.extend(batches[2])
    check("post-compaction batch 3")


def test_streamed_index_id_col_matches_one_shot_convention(spark, tmp_path):
    """Round 13 (ADVICE r12): the streamed and one-shot index
    artifacts expose the SAME reader contract — load_text renames
    the on-disk doc_id back to the meta-recorded ingest id_col, so a
    reader passes the caller's original id_col regardless of how the
    logical index was built (the one-shot write_text_index keeps the
    caller's id_col in postings/doclens). id_col is frozen per index
    like n_buckets."""
    import pytest

    from irclogbot_spark.operators.boolquery import (
        bool_search,
        bool_search_atrest,
    )
    from irclogbot_spark.operators.textindex import read_text_index, write_text_index
    from irclogbot_spark.streaming import textindex as TX

    rows = [
        (10, "data spark merge x"),
        (11, "data spark a b"),
        (12, "no hits here"),
    ]
    corpus = spark.createDataFrame(rows, "id long, remark string")

    streamed_dir = str(tmp_path / "sidx")
    TX.text_ingest_batch(
        corpus, 0, streamed_dir, n_buckets=8, id_col="id", text_col="remark"
    )
    pidx, lens, nb = TX.load_text(spark, streamed_dir)
    assert "id" in pidx.columns and "doc_id" not in pidx.columns
    # doclens keeps its batch_id partition column; the id col renames
    assert "id" in lens.columns and "doc_id" not in lens.columns

    oneshot_dir = str(tmp_path / "oidx")
    write_text_index(
        corpus, oneshot_dir, id_col="id", text_col="remark", n_buckets=8
    )
    o_pidx, o_lens, _ = read_text_index(spark, oneshot_dir)
    assert "id" in o_pidx.columns and o_lens.columns == ["id", "dl"]

    # both artifact kinds serve the same query under the SAME id_col
    kw = dict(must=["data"], should=["merge"], k=10, id_col="id")
    want = [
        tuple(r)
        for r in bool_search(corpus, text_col="remark", **kw).collect()
    ]
    got_streamed = [
        tuple(r)
        for r in bool_search_atrest(
            spark, None, index=(pidx, lens, nb), **kw
        ).collect()
    ]
    got_oneshot = [
        tuple(r)
        for r in bool_search_atrest(spark, oneshot_dir, **kw).collect()
    ]
    assert got_streamed == want == got_oneshot and len(want) == 2

    # id_col is frozen at creation (the n_buckets convention)
    with pytest.raises(ValueError, match="frozen"):
        TX.text_ingest_batch(
            corpus.withColumnRenamed("id", "doc_id"),
            1,
            streamed_dir,
            n_buckets=8,
            text_col="remark",
        )


# ------------------------------------------------ artifact store faults


def _batch_parts(table):
    return sorted(p.name for p in table.iterdir() if p.name.startswith("batch_id="))


def _crash_mid_delete(tmp_path, compact, *parts):
    """Run ``compact`` as if it crashed during its source deletes:
    each of ``parts`` (source partition dirs) is copied aside before
    and restored after, so the committed generation sits next to some
    of its sources while the others are gone."""
    import shutil

    aside = []
    for i, part in enumerate(parts):
        copy = tmp_path / f"_aside_{i}"
        shutil.copytree(part, copy)
        aside.append((copy, part))
    compact()
    for copy, part in aside:
        assert not part.exists()
        shutil.copytree(copy, part)


def _three_batch_corpus(spark, corpus_dir):
    from irclogbot_spark.streaming import corpus as C

    batches = [
        [(1, "https://a.com/1", "first batch page about compaction safety rules")],
        [(2, "https://b.com/2", "second batch page on generation commit markers")],
        [(3, "https://c.com/3", "third batch page covering delete crash recovery")],
    ]
    for i, rows in enumerate(batches):
        C.crawl_ingest_batch(
            spark.createDataFrame(rows, C.CRAWL_DOC_SCHEMA), i, str(corpus_dir)
        )


def test_corpus_compact_rerun_after_mid_delete_crash_keeps_history(spark, tmp_path):
    """A corpus compaction that crashed after deleting some of its
    source partitions, then re-run: history and url_index still hold
    every admitted doc and URL (the re-run only finishes the deletes,
    it does not rebuild the generation from the leftovers). Before the
    re-run, history() serves the committed generation and not the
    source partition left next to it (each doc once)."""
    from irclogbot_spark.streaming import corpus as C

    corpus_dir = tmp_path / "crawl"
    _three_batch_corpus(spark, corpus_dir)
    _crash_mid_delete(
        tmp_path,
        lambda: C.compact(spark, str(corpus_dir), upto_batch_id=2),
        corpus_dir / "history" / "batch_id=2",
        corpus_dir / "url_index" / "batch_id=2",
    )
    assert _batch_parts(corpus_dir / "history") == ["batch_id=-3", "batch_id=2"]
    assert sorted(r.doc_id for r in C.history(spark, str(corpus_dir)).collect()) == [1, 2, 3]
    C.compact(spark, str(corpus_dir), upto_batch_id=2)

    for sub in ("history", "url_index"):
        assert _batch_parts(corpus_dir / sub) == ["batch_id=-3"], sub
    assert {r.doc_id for r in C.history(spark, str(corpus_dir)).collect()} == {1, 2, 3}
    urls = spark.read.parquet(str(corpus_dir / "url_index"))
    assert {r.doc_id for r in urls.collect()} == {1, 2, 3} and urls.count() == 3


def test_substring_compact_rerun_after_mid_delete_crash_keeps_grams(spark, tmp_path):
    """The gram index twin: a re-run after a mid-delete crash keeps
    every hash the index held before compaction."""
    from irclogbot_spark.streaming import substrings as SS

    work = tmp_path / "ss"
    texts = ["a b c d e f g h one", "i j k l m n o p two", "q r s t u v w x three"]
    for i, t in enumerate(texts):
        SS.substring_ingest_batch(
            spark.createDataFrame([(i + 1, t)], "doc_id long, text string"),
            i,
            str(work),
            length=8,
        )

    def grams():
        return {r.h for r in spark.read.parquet(str(work / "gram_index")).collect()}

    before = grams()
    _crash_mid_delete(
        tmp_path,
        lambda: SS.compact(spark, str(work), upto_batch_id=2),
        work / "gram_index" / "batch_id=2",
    )
    SS.compact(spark, str(work), upto_batch_id=2)
    assert _batch_parts(work / "gram_index") == ["batch_id=-3"]
    assert grams() == before


def test_trgm_compact_rerun_after_mid_delete_crash_keeps_postings(spark, tmp_path):
    """The posting-store twin: after a mid-delete crash and a re-run
    the trigram index still serves every ingested doc."""
    from irclogbot_spark.operators.trgm import trgm_search
    from irclogbot_spark.streaming import trgmindex as TI

    index_dir = tmp_path / "trgm"
    rows = [(1, "shuffle one"), (2, "shuffle two"), (3, "shuffle three")]
    for i, row in enumerate(rows):
        TI.trgm_ingest_batch(
            spark.createDataFrame([row], TI.DOC_SCHEMA), i, str(index_dir), n_buckets=8
        )
    _crash_mid_delete(
        tmp_path,
        lambda: TI.compact(spark, str(index_dir), upto_batch_id=2),
        index_dir / "index" / "batch_id=2",
    )
    TI.compact(spark, str(index_dir), upto_batch_id=2)

    assert _batch_parts(index_dir / "index") == []
    idx, nb = TI.load_trgm(spark, str(index_dir))
    docs = spark.createDataFrame(rows, TI.DOC_SCHEMA)
    hits = trgm_search(docs, ["shuffle"], index=idx, index_buckets=nb).collect()
    assert sorted(r.doc_id for r in hits) == [1, 2, 3]


def test_ann_compact_rerun_after_mid_delete_crash_keeps_vectors(spark, tmp_path):
    """The ANN cell-store twin: every encoded vector survives a re-run
    after a mid-delete crash."""
    from irclogbot_spark.streaming import annindex

    cents, books, rows, frame = _ann_fixture(spark)
    index_dir = tmp_path / "ann"
    for i in range(3):
        annindex.ingest_batch(
            frame(rows[20 * i : 20 * (i + 1)]), i, str(index_dir), cents, books
        )
    _crash_mid_delete(
        tmp_path,
        lambda: annindex.compact(spark, str(index_dir), upto_batch_id=2),
        index_dir / "index" / "batch_id=2",
    )
    annindex.compact(spark, str(index_dir), upto_batch_id=2)

    assert sorted(p.name for p in (index_dir / "cells").iterdir()) == ["gen=3"]
    got = annindex.load_index(spark, str(index_dir))
    assert {r.vec_id for r in got.collect()} == {r.vec_id for r in rows}
    assert got.count() == 60


def test_uncommitted_generation_hides_no_batch(spark, tmp_path):
    """A generation dir a crash left before its write job committed
    (only ``_temporary/`` inside) is not served: the loaders still
    serve every batch, and a compaction onto that generation id
    rewrites it."""
    from irclogbot_spark.streaming import annindex
    from irclogbot_spark.streaming import textindex as TX

    text_dir = tmp_path / "tx"
    for i, t in enumerate(["alpha beta", "beta gamma"]):
        TX.text_ingest_batch(
            spark.createDataFrame([(i + 1, t)], "doc_id long, text string"),
            i,
            str(text_dir),
            n_buckets=8,
        )
    cents, books, rows, frame = _ann_fixture(spark)
    ann_dir = tmp_path / "ann"
    annindex.ingest_batch(frame(rows[:20]), 0, str(ann_dir), cents, books)
    annindex.ingest_batch(frame(rows[20:40]), 1, str(ann_dir), cents, books)
    for gens in (text_dir / "buckets", ann_dir / "cells"):
        for g in (2, 5):
            (gens / f"gen={g}" / "_temporary" / "0").mkdir(parents=True)

    def served():
        pidx, lens, _nb = TX.load_text(spark, str(text_dir))
        vocab = {r.term: r.df for r in TX.load_vocab(spark, str(text_dir)).collect()}
        ann = {r.vec_id for r in annindex.load_index(spark, str(ann_dir)).collect()}
        return sorted({r.doc_id for r in pidx.collect()}), lens.count(), vocab, ann

    want = ([1, 2], 2, {"alpha": 1, "beta": 2, "gamma": 1}, {r.vec_id for r in rows[:40]})
    assert served() == want
    TX.compact(spark, str(text_dir), upto_batch_id=1)
    annindex.compact(spark, str(ann_dir), upto_batch_id=1)
    assert (text_dir / "buckets" / "gen=2" / "_SUCCESS").exists()
    assert (ann_dir / "cells" / "gen=2" / "_SUCCESS").exists()
    assert served() == want


def test_corpus_history_skips_uncommitted_generation(spark, tmp_path):
    """An in-place generation whose write job never committed (data
    files but no ``_SUCCESS``) is not served: its sources still are.
    A compaction onto that generation id rewrites and commits it."""
    import shutil

    from irclogbot_spark.streaming import corpus as C

    corpus_dir = tmp_path / "crawl"
    _three_batch_corpus(spark, corpus_dir)
    hist = corpus_dir / "history"
    shutil.copytree(hist / "batch_id=0", hist / "batch_id=-2")
    (hist / "batch_id=-2" / "_SUCCESS").unlink()

    def doc_ids():
        return sorted(r.doc_id for r in C.history(spark, str(corpus_dir)).collect())

    assert doc_ids() == [1, 2, 3]
    C.compact(spark, str(corpus_dir), upto_batch_id=1)
    assert (hist / "batch_id=-2" / "_SUCCESS").exists()
    assert _batch_parts(hist) == ["batch_id=-2", "batch_id=2"]
    assert doc_ids() == [1, 2, 3]


def test_ann_index_round_trips_custom_id_and_vector_columns(spark, tmp_path):
    """ingest_batch with caller column names stores them under the
    store's vec_id/embedding, so load_index with the same names hands
    back every id and vector (not nulls)."""
    from irclogbot_spark.streaming import annindex

    cents, books, rows, frame = _ann_fixture(spark)
    index_dir = str(tmp_path / "ann")
    batch = frame(rows[:5]).withColumnsRenamed({"vec_id": "doc", "embedding": "emb"})
    annindex.ingest_batch(batch, 0, index_dir, cents, books, id_col="doc", vec_col="emb")
    got = annindex.load_index(spark, index_dir, id_col="doc", vec_col="emb").collect()
    assert sorted((r.doc, list(r.emb)) for r in got) == sorted(
        (r.vec_id, [float(x) for x in r.embedding]) for r in rows[:5]
    )


def test_text_compact_with_nothing_to_fold_is_a_no_op(spark, tmp_path):
    """textindex.compact over batches that do not exist writes no
    generation and builds no vocab from one; the index keeps serving
    what it holds."""
    from irclogbot_spark.streaming import textindex as TX

    index_dir = str(tmp_path / "tx")
    TX.text_ingest_batch(
        spark.createDataFrame([(7, "late batch text")], "doc_id long, text string"),
        3,
        index_dir,
        n_buckets=8,
    )
    TX.compact(spark, index_dir, upto_batch_id=1)
    assert not (tmp_path / "tx" / "buckets").exists()
    assert not (tmp_path / "tx" / "vocab").exists()
    pidx, _lens, _nb = TX.load_text(spark, index_dir)
    assert sorted(r.term for r in pidx.collect()) == ["batch", "late", "text"]
    assert {r.term for r in TX.load_vocab(spark, index_dir).collect()} == {
        "batch",
        "late",
        "text",
    }


def test_at_rest_indexes_accept_hadoop_uris(spark, tmp_path):
    """write_trgm_index / write_text_index write their meta sidecar
    through the Hadoop FS, so a ``file://`` URI works end to end (a
    local ``open()`` of that string fails); a stray truncated temp
    sidecar from an earlier crash breaks nothing."""
    from irclogbot_spark.operators.textindex import read_text_index, write_text_index
    from irclogbot_spark.operators.trgm import read_trgm_index, write_trgm_index

    docs = spark.createDataFrame(
        [(1, "shuffle merge data"), (2, "window data")], "doc_id long, text string"
    )
    (tmp_path / "tx").mkdir()
    (tmp_path / "tx" / "_text_index_meta.json.tmp").write_text('{"n_buck')
    trgm_uri, text_uri = f"file://{tmp_path}/trgm", f"file://{tmp_path}/tx"
    write_trgm_index(docs, trgm_uri, n_buckets=8)
    write_text_index(docs, text_uri, n_buckets=16)
    idx, nb = read_trgm_index(spark, trgm_uri)
    assert nb == 8 and idx.select("doc_id").distinct().count() == 2
    pidx, lens, nb = read_text_index(spark, text_uri)
    assert nb == 16 and lens.count() == 2
    assert {r.doc_id for r in pidx.filter(F.col("term") == "data").collect()} == {1, 2}


def test_streamed_meta_written_once_and_crash_leftovers_harmless(spark, tmp_path):
    """The streamed ingest writes its meta sidecar only when absent
    (later batches leave it untouched, so no batch reopens a crash
    window on it); truncated temp sidecars, as a crash mid-write
    leaves them, break neither the next ingest nor the load; a
    different bucket count still raises."""
    import os

    from irclogbot_spark.streaming import trgmindex as TI

    index_dir = tmp_path / "trgm"

    def ingest(row, batch_id, n_buckets=8):
        batch = spark.createDataFrame([row], TI.DOC_SCHEMA)
        TI.trgm_ingest_batch(batch, batch_id, str(index_dir), n_buckets)

    index_dir.mkdir()
    stray = index_dir / "_trgm_meta.json.tmp"
    stray.write_text('{"n_buck')  # crash while writing the first meta
    ingest((1, "alpha one"), 0)
    meta = index_dir / "_trgm_meta.json"
    first = os.stat(meta)
    stray.write_text('{"n_buckets": ')  # a later crash leftover
    time.sleep(0.05)
    ingest((2, "alpha two"), 1)
    again = os.stat(meta)
    assert (again.st_ino, again.st_mtime_ns) == (first.st_ino, first.st_mtime_ns)
    idx, nb = TI.load_trgm(spark, str(index_dir))
    assert nb == 8
    assert {r.doc_id for r in idx.collect()} == {1, 2}
    with pytest.raises(ValueError, match="n_buckets"):
        ingest((3, "x"), 2, n_buckets=16)
