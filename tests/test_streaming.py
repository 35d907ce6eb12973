"""Structured Streaming parity tests (availableNow, sf0.001)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opentelemetry_log_collection_spark.entry import to_entries
from opentelemetry_log_collection_spark.flagship import run_flagship, tag_transcripts
from opentelemetry_log_collection_spark.operators.recombine import RecombineStage
from opentelemetry_log_collection_spark.streaming import (
    TRANSCRIPT_SCHEMA,
    stream_transcripts,
    streaming_flagship,
    streaming_recombine,
    write_microbatch,
)
from opentelemetry_log_collection_spark.transcripts import materialized_transcripts

SF_DIR = "/root/testdata/sf0.001"


def test_streaming_flagship_counts_match_batch(spark, tmp_path):
    q = streaming_flagship(
        spark, SF_DIR, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(300)
    batch_counts = {
        r["sink"]: r["cnt"] for r in run_flagship(spark, SF_DIR).collect()
    }
    stream_counts = {
        r["sink"]: r["total"]
        for r in spark.read.parquet(str(tmp_path / "out" / "counts"))
        .groupBy("sink")
        .agg(F.sum("cnt").alias("total"))
        .collect()
    }
    assert stream_counts == batch_counts
    data = spark.read.parquet(str(tmp_path / "out" / "data"))
    assert data.count() == sum(batch_counts.values())


def test_write_microbatch_retry_replaces_its_own_batch(spark, tmp_path):
    """foreachBatch is at-least-once: a retried batch_id must replace
    its own output, so two calls for batch 0 and one for batch 1 leave
    two batches of rows and counts, not three."""
    import datetime as dt

    texts = [
        '10.0.9.63 - - [01/Jan/2024:07:28:28 +0000] "GET /a HTTP/1.1" 503 9',
        'user="u0" action=click target=btn-44 dur_ms=1339',
        '{"event":"signup","user":"u0","plan":"team","ok":true}',
        '101,u0,"item 1, deluxe",6405',
        "plain assistant text",
    ]
    rows = [
        ("c0", i, "user", t, "", dt.datetime(2024, 1, 1, 0, 0, i))
        for i, t in enumerate(texts)
    ]
    tagged = tag_transcripts(spark, spark.createDataFrame(rows, TRANSCRIPT_SCHEMA))
    out = str(tmp_path / "out")
    for batch_id in (0, 0, 1):
        write_microbatch(spark, tagged, batch_id, out)

    data = spark.read.parquet(f"{out}/data")
    assert data.count() == 2 * len(texts)
    assert {r["batch_id"] for r in data.select("batch_id").collect()} == {0, 1}
    counts = spark.read.parquet(f"{out}/counts")
    per_batch = {
        (r["batch_id"], r["sink"]): r["cnt"] for r in counts.collect()
    }
    one = {
        "sink_errors": 1, "sink_ui": 1, "sink_growth": 1,
        "sink_billing": 1, "sink_rest": 1,
    }
    assert per_batch == {(b, s): n for b in (0, 1) for s, n in one.items()}


def _drain_stateful(spark, q, path: str, expected: int, deadline_s: int = 180):
    """An availableNow query with registered ProcessingTimeTimeouts
    never self-terminates (it keeps scheduling timeout batches), so:
    poll the sink until the timeout flushes have landed every expected
    group, then stop the query explicitly."""
    import time

    t0 = time.time()
    n = -1
    while time.time() - t0 < deadline_s:
        try:
            n = spark.read.parquet(path).count()
        except Exception:
            n = 0
        if n >= expected:
            break
        time.sleep(1)
    q.stop()
    return n


def test_streaming_recombine_matches_batch_exactly(spark, tmp_path):
    """After the force-flush timeout drains the trailing open groups,
    the streamed output must equal the batch operator's output
    byte-for-byte on EVERY group — boundary groups via is_first,
    trailing groups via the force_flush_period analogue
    (recombine.go:152-176)."""
    src = stream_transcripts(spark, SF_DIR)
    out = streaming_recombine(src, flush_timeout_ms=2000)
    q = (
        out.writeStream.format("parquet")
        .option("path", str(tmp_path / "rec"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )

    # batch reference: same boundary, stitched over the full history
    ents = to_entries(materialized_transcripts(spark, SF_DIR))
    batch = RecombineStage(
        combine_field="body",
        is_first_entry='attributes.role == "user"',
        source_identifier="resource.conv_id",
        combine_with="\n",
        overwrite_with="oldest",
        order_by=["turn_idx"],
    ).apply(ents)
    batch_all = {
        (r["conv_id"], r["turn_idx"]): r["text"] for r in batch.collect()
    }
    _drain_stateful(spark, q, str(tmp_path / "rec"), len(batch_all))
    got = {
        (r["source"], r["turn_idx"]): r["text"]
        for r in spark.read.parquet(str(tmp_path / "rec")).collect()
    }
    assert got == batch_all


def test_streaming_recombine_is_last_matches_batch(spark, tmp_path):
    """is_last mode: a boundary row closes the batch it belongs to;
    cap flushes split closed segments into cap-sized chunks — byte-
    identical to the batch operator on every CLOSED group
    (recombine.go:269-335)."""
    import datetime as dt

    rows = []
    # two conversations; boundary role 'tool' at varying positions
    roles = {
        "c0": ["user", "assistant", "tool", "user", "user", "tool", "user"],
        "c1": ["tool", "user", "assistant", "user", "tool", "user", "user",
               "user", "user"],
    }
    for conv, rs in roles.items():
        for i, r in enumerate(rs):
            rows.append((conv, i, r, f"{conv}-t{i}", "",
                         dt.datetime(2024, 1, 1, 0, 0, i)))
    src_dir = str(tmp_path / "src")
    spark.createDataFrame(rows, TRANSCRIPT_SCHEMA).coalesce(1).write.parquet(src_dir)

    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(src_dir)
    out = streaming_recombine(
        stream, is_last_entry='attributes.role == "tool"', max_batch_size=3,
        flush_timeout_ms=2000,
    )
    q = (
        out.writeStream.format("parquet")
        .option("path", str(tmp_path / "rec"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )

    batch = RecombineStage(
        combine_field="body",
        is_last_entry='attributes.role == "tool"',
        source_identifier="resource.conv_id",
        combine_with="\n",
        overwrite_with="oldest",
        max_batch_size=3,
        order_by=["turn_idx"],
    ).apply(to_entries(spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)))
    batch_all = {
        (r["conv_id"], r["turn_idx"]): r["text"] for r in batch.collect()
    }
    _drain_stateful(spark, q, str(tmp_path / "rec"), len(batch_all))
    got = {
        (r["source"], r["turn_idx"]): r["text"]
        for r in spark.read.parquet(str(tmp_path / "rec")).collect()
    }
    # full equality after timeout drain: boundary groups, cap chunks
    # AND timeout-flushed trailing groups all match the batch operator.
    # expected groups: c0 [0,1,2],[3,4,5],[6]; c1 [0],[1,2,3],[4],[5,6,7],[8]
    assert got == batch_all
    assert got[("c1", 1)] == "c1-t1\nc1-t2\nc1-t3"  # cap sub-split
    assert got[("c1", 4)] == "c1-t4"
