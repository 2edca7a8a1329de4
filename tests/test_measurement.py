"""The measurement harness on a small corpus: bench.py's per-query
ledger and scale_probe's counters both come from Spark's status store
by job group, in a session without the Spark UI."""

from __future__ import annotations

from py4j.java_gateway import GatewayClient

from irclogbot_spark.queries import queries


def test_bench_ledger_rows(spark, sf_dir):
    import bench

    qs = queries()
    headline, cheap = bench.tiers(qs)
    names = ["log_top_nicks", "agg_stats"]
    assert names[0] in headline and names[1] in cheap
    send = GatewayClient.send_command
    times, spread, counts = bench._run(bench.Counters(spark), qs, spark, names, sf_dir)
    rows = bench.ledger(times, counts, bench._profile(spark, qs, names, sf_dir))
    # the py4j counter is installed only while the ledger builds frames
    assert GatewayClient.send_command is send
    assert set(times) == set(rows) == set(names) and spread == {}
    for name, row in rows.items():
        assert set(row) == set(bench.LEDGER_FIELDS), name
        assert row["jobs"] > 0 and row["py4j"] > 0, (name, row)
        assert row["stages"] > 0 and row["tasks"] > 0, (name, row)


def test_counters_read_an_evicted_stage_as_not_completed(spark):
    """Past spark.ui.retainedStages the status store drops skipped
    stages first; the store raises NoSuchElementException for a stage
    it does not hold, which bench.Counters reads as not completed."""
    import bench

    counters = bench.Counters(spark)
    missing = counters._store.lastStageAttempt(2**31 - 1)
    assert missing.status().toString() != "COMPLETE"
    _, n, met = counters.timed("evicted", lambda: spark.range(10).count())
    assert n == 10 and met["jobs"] > 0 and met["stages"] > 0, met


def test_scale_probe_counts_without_ui(spark, sf_dir):
    import scale_probe

    assert spark.sparkContext.getConf().get("spark.ui.enabled") == "false"
    out = scale_probe.probe(spark, queries(), ["agg_stats"], sf_dir, 1)
    row = out["agg_stats"]
    assert row["rows"] > 0 and row["jobs"] > 0 and row["stages"] > 0, row
    assert "shuffle_write_bytes" in row and "input_bytes" in row, row
