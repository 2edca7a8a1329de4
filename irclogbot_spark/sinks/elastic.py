"""Elasticsearch sink adapter (K1/H3 — the reference's primary sink).

The reference PUTs one doc per message with the content hash as _id
(irclogbot.py:50-51), which is what makes redelivery and restart safe
(H3). Two adapters:

* es-spark connector config (``es_write_conf``): the production path
  — the connector bulk-writes executor-side with es.mapping.id=id, so
  every partition streams straight to ES shards, no driver choke
  point. Needs the org.elasticsearch:elasticsearch-spark jar on the
  cluster.
* ``write_to_elasticsearch``: a foreachBatch/batch fallback speaking
  the ES ``_bulk`` ndjson protocol over stdlib HTTP per partition —
  no client dependency, so the whole write path (doc shaping, _id =
  content hash, chunking, bounded retry) executes and is tested
  against an in-process mock endpoint (tests/test_es_sink.py).

In this repo's test harness the keyed-parquet sink
(streaming.pipeline.keyed_upsert_batch) stands in for ES — same
idempotent-by-content-id contract, verifiable offline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from irclogbot_spark.artifacts import drain
from irclogbot_spark.functions.scalar import iso_posted

ES_INDEX = "irclog"  # irclogbot.py:50


def es_write_conf(
    host: str, index: str = ES_INDEX, id_col: str = "id"
) -> dict[str, str]:
    """Connector options for df.write.format('org.elasticsearch.spark.sql').

    es.mapping.id makes the write an idempotent keyed upsert — the
    Spark-native form of the reference's PUT-by-content-hash.
    """
    return {
        "es.nodes": host,
        "es.resource": index,
        "es.mapping.id": id_col,
        "es.write.operation": "index",  # PUT semantics: overwrite on id
        "es.batch.write.retry.count": "5",  # MAX_RETRIES, irclogbot.py:22
    }


def es_doc(df: DataFrame) -> DataFrame:
    """Shape rows as reference-compatible ES documents: the 5 doc
    fields with posted serialized '%Y-%m-%dT%H:%M:%S' (P5,
    irclogbot.py:42-43)."""
    return df.select(
        "channel", "nick", iso_posted("posted").alias("posted"), "remark", "id"
    )


#: bounded retry, reference parity: MAX_RETRIES = 5, irclogbot.py:22.
#: Divergence (documented): after the budget the reference silently
#: DROPS the message (irclogbot.py:52-59); the engine raises, so the
#: failure surfaces to Spark's task retry / the stream supervisor
#: instead of losing data.
MAX_RETRIES = 5


def write_to_elasticsearch(
    df: DataFrame,
    host: str,
    index: str = ES_INDEX,
    chunk_size: int = 500,
    max_retries: int = MAX_RETRIES,
) -> None:
    """Bulk writer: per-partition ``POST /_bulk`` (ndjson) over stdlib
    HTTP, PUT-semantics index actions with _id = content hash — the
    exact idempotent keyed write of the reference
    (es_client.index(id=hashval), irclogbot.py:50-51), executed
    executor-side so every partition streams to ES without a driver
    choke point."""
    docs = es_doc(df)

    def write_partition(rows) -> None:
        import json
        import time
        import urllib.request

        url = host.rstrip("/") + "/_bulk"

        def post(actions: list[str]) -> list[dict]:
            """One _bulk request; returns the per-item response list."""
            body = "".join(actions).encode("utf-8")
            req = urllib.request.Request(
                url,
                data=body,
                headers={"Content-Type": "application/x-ndjson"},
                method="POST",
            )
            with urllib.request.urlopen(req, timeout=30) as resp:
                payload = json.loads(resp.read().decode("utf-8"))
            if not payload.get("errors"):
                return []
            return payload.get("items", [])

        def flush(actions: list[str]) -> None:
            """Send actions, retrying transport errors AND per-item
            failures: ES reports mapping errors / item-level 429 queue
            rejections inside an HTTP 200 with "errors": true — a
            transport-only retry would silently drop those documents.
            Only the failed items are resent (idempotent: PUT by _id);
            the budget exhausts into a raise, so Spark's task retry /
            the stream supervisor sees the failure instead of losing
            data (documented divergence from the reference's silent
            drop after MAX_RETRIES, irclogbot.py:52-59)."""
            pending = actions
            attempts = 0
            while pending:
                try:
                    items = post(pending)
                except Exception:
                    attempts += 1
                    if attempts >= max_retries:
                        raise
                    time.sleep(min(0.1 * 2**attempts, 2.0))
                    continue
                if not items:
                    return
                # items come back in request order; keep the failures
                failed = [
                    pending[i]
                    for i, item in enumerate(items)
                    if next(iter(item.values())).get("status", 500) >= 300
                ]
                if not failed:
                    return
                attempts += 1
                if attempts >= max_retries:
                    statuses = [
                        next(iter(item.values())).get("status")
                        for item in items
                        if next(iter(item.values())).get("status", 500) >= 300
                    ]
                    raise RuntimeError(
                        f"_bulk: {len(failed)} item(s) still failing after "
                        f"{max_retries} attempts (statuses {statuses[:5]})"
                    )
                time.sleep(min(0.1 * 2**attempts, 2.0))
                pending = failed

        buf: list[str] = []
        for r in rows:
            d = r.asDict()
            buf.append(
                json.dumps({"index": {"_index": index, "_id": d["id"]}})
                + "\n"
                + json.dumps(d)
                + "\n"
            )
            if len(buf) >= chunk_size:
                flush(buf)
                buf = []
        flush(buf)

    docs.foreachPartition(write_partition)


def start_es_stream(
    spark,
    source_path: str,
    host: str,
    checkpoint_dir: str,
    index: str = ES_INDEX,
    watermark: str = "10 minutes",
):
    """The production ES topology end-to-end: streaming raw lines ->
    parse chain -> foreachBatch bulk writer — the reference's live
    loop (recv -> record -> es_client.index, irclogbot.py:36-51)
    under Structured Streaming. Effectively-once falls out of
    replayable source + checkpoint + the content-hash _id making
    every redelivery a PUT-overwrite; a replayed batch (checkpoint
    loss, task retry) converges to the same keyed store. Driven
    against the in-process mock bulk endpoint in
    tests/test_es_sink.py."""
    from irclogbot_spark.streaming.pipeline import (
        read_raw_lines_stream,
        streaming_irclog,
    )

    log = streaming_irclog(
        read_raw_lines_stream(spark, path=source_path), watermark
    )
    return drain(
        log, checkpoint_dir, lambda b, _i: write_to_elasticsearch(b, host, index)
    )
