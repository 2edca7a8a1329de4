"""JDBC sink adapter (K5 — the reference's vestigial MySQL path).

The reference carries a pymysql connection helper that no bot ever
calls (utils.py:55-81: connect/get_cursor/commit exist, zero call
sites in irclogbot.py or logbot_roundrobin.py — SURVEY.md marks K5
vestigial). The engine twin is correspondingly thin: one option
builder for Spark's native JDBC source/sink, which already does
everything the reference's helper could (executor-side parallel
writes, partitioned reads, credential pass-through).

No MySQL driver ships in this environment, but Spark's own Derby
(the metastore engine, always on the classpath) exercises the WHOLE
path for real: ``derby_embedded_kwargs`` builds write/read kwargs for
an embedded on-disk database, and tests/test_sinks_and_scalars.py
round-trips the parsed irclog through it — executor-parallel batched
INSERTs out, a partitioned JDBC scan back. Against MySQL only the
URL/driver strings change. Upsert-by-key needs either a staging
table + MERGE/INSERT..ON DUPLICATE KEY on the DB side or the keyed
parquet sink (streaming.pipeline) in front.
"""

from __future__ import annotations


def derby_embedded_kwargs(
    db_path: str,
    table: str,
    mode: str = "append",
    batchsize: int = 1000,
) -> dict:
    """Write kwargs for the embedded Derby engine on Spark's own
    classpath — the in-env stand-in that runs the identical
    ``df.write.jdbc`` code path as MySQL (connection-per-partition,
    batched INSERTs); swap url/driver for a server dialect."""
    return {
        "url": f"jdbc:derby:{db_path};create=true",
        "table": table,
        "mode": mode,
        "properties": {
            "driver": "org.apache.derby.jdbc.EmbeddedDriver",
            "batchsize": str(batchsize),
        },
    }
