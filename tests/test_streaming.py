"""Streaming-spine tests: availableNow replay through the queue sink with
checkpointing (O15-O27 equivalents), restart-no-duplicates, convergence of
the streaming pipeline with batch answers, watermarked dedup.

The sink double is FileQueue: foreachPartition runs in executor worker
processes, so the queue must be an external side effect (like real SQS) —
an in-memory list in the driver would silently observe nothing.
"""

from __future__ import annotations

import json

from stream_cdc_spark.config import AppConfig
from stream_cdc_spark.filters import FilterChain, RedactFilter
from stream_cdc_spark.sinks.queue import FileQueue, foreach_batch_writer
from stream_cdc_spark.streaming.pipeline import (
    CdcPipeline,
    dedup_within_watermark,
    replay_stream,
    windowed_counts,
)
from stream_cdc_spark.tables import load
from tests.conftest import SF_SMALL


def _run_pipeline(spark, tmp_path, qname, filters=None, runs=1):
    qdir = str(tmp_path / qname)
    ckpt = str(tmp_path / f"{qname}-ckpt")
    for _ in range(runs):
        pipe = CdcPipeline(
            spark,
            replay_stream(spark, SF_SMALL),
            foreach_batch_writer(lambda: FileQueue(qdir)),
            checkpoint_dir=ckpt,
            config=AppConfig(batch_size=10, flush_interval=0.1),
            filters=filters,
        )
        pipe.start(available_now=True)
        pipe.await_and_stop(timeout=120)
    return FileQueue(qdir)


def test_replay_end_to_end(spark, tmp_path):
    q = _run_pipeline(spark, tmp_path, "e2e")
    msgs = q.drain()
    n_events = load(spark, SF_SMALL, "events").count()
    assert len(msgs) == n_events
    # payloads are the serialized envelopes (O10 boundary stringify)
    body = json.loads(msgs[0]["MessageBody"])
    assert {"event_id", "ts", "user_id", "event_type", "value", "props"} <= set(body)
    # sink hard limits respected (O21): <=10 messages per request
    assert max(q.request_sizes()) <= 10
    # deterministic ids (O25 fix)
    assert all(len(m["Id"]) == 32 for m in msgs)


def test_checkpoint_restart_no_duplicates(spark, tmp_path):
    # second run resumes from the checkpoint -> no redelivery
    q = _run_pipeline(spark, tmp_path, "restart", runs=2)
    n_events = load(spark, SF_SMALL, "events").count()
    assert len(q.drain()) == n_events


def test_filter_chain_in_stream(spark, tmp_path):
    q = _run_pipeline(
        spark,
        tmp_path,
        "filtered",
        filters=FilterChain([RedactFilter("props", "[REDACTED]")]),
    )
    msgs = q.drain()
    assert msgs
    assert all(json.loads(m["MessageBody"])["props"] == "[REDACTED]" for m in msgs)


def test_streaming_window_converges_to_batch(spark, tmp_path):
    """Windowed streaming agg over the replay equals the batch computation
    on the same data (SURVEY §7 step 4 convergence requirement)."""
    stream = windowed_counts(replay_stream(spark, SF_SMALL))
    query = (
        stream.writeStream.format("memory")
        .queryName("win_stream")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt4"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(120)
    got = {
        (r.w_start, r.n)
        for r in spark.sql("SELECT w_start, n FROM win_stream").collect()
    }
    batch = windowed_counts(load(spark, SF_SMALL, "events"))
    want = {(r.w_start, r.n) for r in batch.collect()}
    assert got == want


def test_dedup_within_watermark_batch_semantics(spark):
    ev = load(spark, SF_SMALL, "events")
    doubled = ev.unionAll(ev)
    out = dedup_within_watermark(doubled)
    assert out.count() == ev.count()


def test_session_window_matches_lag_gap_q31(spark):
    """Three sessionization implementations agree: built-in session_window
    (batch mode) vs the lag-gap window query (q31)."""
    from pyspark.sql import functions as F

    from stream_cdc_spark.plans.queries import QUERIES
    from stream_cdc_spark.streaming.pipeline import session_windows

    ev = load(spark, SF_SMALL, "events")
    sw = (
        session_windows(ev, gap="30 minutes")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"), F.sum("n_events").alias("n_events"))
    )
    got = {r.user_id: (r.n_sessions, r.n_events) for r in sw.collect()}
    want = {
        r.user_id: (r.n_sessions, r.n_events)
        for r in QUERIES["q31_sessionization"].builder(spark, SF_SMALL).collect()
    }
    assert got == want


def test_debezium_stream_ingest(spark, tmp_path):
    """Production ingest shape: a streaming feed of Debezium-format JSON
    values (Kafka stand-in: rate source) parsed into envelopes in-flight."""
    from pyspark.sql import functions as F

    from stream_cdc_spark.operators.envelope import from_debezium_json

    raw = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "500")
        .load()
        .select(
            F.concat(
                F.lit('{"op":"'),
                F.element_at(
                    F.array(F.lit("c"), F.lit("u"), F.lit("d")),
                    (F.col("value") % 3 + 1).cast("int"),
                ),
                F.lit('","source":{"db":"shop","table":"t","gtid":"u:'),
                F.col("value").cast("string"),
                F.lit('"},"after":{"id":"'),
                F.col("value").cast("string"),
                F.lit('"}}'),
            ).alias("value")
        )
    )
    env = from_debezium_json(raw)
    q = (
        env.writeStream.format("memory")
        .queryName("dbz_stream")
        .option("checkpointLocation", str(tmp_path / "dbz-ckpt"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    import time

    deadline = time.time() + 60
    n = 0
    while time.time() < deadline:
        n = spark.sql("SELECT COUNT(*) c FROM dbz_stream").collect()[0].c
        if n >= 100:
            break
        time.sleep(1)
    q.stop()
    assert n >= 100
    rows = spark.sql(
        "SELECT DISTINCT event_type FROM dbz_stream"
    ).collect()
    assert {r.event_type for r in rows} == {"Insert", "Update", "Delete"}
    sample = spark.sql("SELECT * FROM dbz_stream LIMIT 1").collect()[0]
    assert sample.database == "shop" and sample.content.after["id"] is not None


def test_stream_stream_join_converges_to_batch(spark, tmp_path):
    """Watermarked stream-stream join over the replay equals the same join
    computed in batch."""
    from stream_cdc_spark.streaming.pipeline import stream_stream_join_within

    l_s = replay_stream(spark, SF_SMALL).filter("event_type = 'purchase'")
    r_s = replay_stream(spark, SF_SMALL).filter("event_type = 'click'")
    q = (
        stream_stream_join_within(l_s, r_s, max_gap="24 hours")
        .writeStream.format("memory")
        .queryName("ss_join")
        .option("checkpointLocation", str(tmp_path / "ssj-ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.id_a, r.id_b)
        for r in spark.sql("SELECT id_a, id_b FROM ss_join").collect()
    }
    ev = load(spark, SF_SMALL, "events")
    want = {
        (r.id_a, r.id_b)
        for r in stream_stream_join_within(
            ev.filter("event_type = 'purchase'"),
            ev.filter("event_type = 'click'"),
            max_gap="24 hours",
        ).collect()
    }
    assert got == want and len(got) > 0


def test_rocksdb_state_store_provider(spark, tmp_path):
    """The scale-grade state store: the stateful sessionizer runs (and
    converges) with RocksDB-backed streaming state instead of the default
    in-memory HDFS-backed store."""
    from stream_cdc_spark.streaming.stateful import session_tracker

    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        q = (
            session_tracker(replay_stream(spark, SF_SMALL), gap_seconds=1800)
            .writeStream.format("memory")
            .queryName("rocks_sess")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "rocks-ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = {
            int(r.key): r.ns
            for r in spark.sql(
                "SELECT key, MAX(n_sessions) ns FROM rocks_sess GROUP BY key"
            ).collect()
        }
        from stream_cdc_spark.plans.queries import QUERIES

        want = {
            r.user_id: r.n_sessions
            for r in QUERIES["q31_sessionization"].builder(spark, SF_SMALL).collect()
        }
        assert got == want
    finally:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_stream_static_enrichment_join(spark, tmp_path):
    """Stream-static join: the CDC enrichment pattern — streaming events
    joined against a static dimension (broadcast per micro-batch)."""
    from pyspark.sql import functions as F

    stream = replay_stream(spark, SF_SMALL)
    dim = load(spark, SF_SMALL, "customer").select("c_custkey", "c_mktsegment")
    enriched = stream.join(F.broadcast(dim), stream.user_id == dim.c_custkey)
    q = (
        enriched.groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .writeStream.format("memory")
        .queryName("enrich")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "enrich-ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.c_mktsegment: r.n for r in spark.sql("SELECT * FROM enrich").collect()}
    ev = load(spark, SF_SMALL, "events")
    want = {
        r.c_mktsegment: r.n
        for r in ev.join(dim, ev.user_id == dim.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want and len(got) >= 3


def test_cli_drain_delivers_every_event_once(spark, tmp_path, monkeypatch):
    """DRAIN_AND_EXIT=1 in the default cdc mode over the rate-limited
    cdc_replay source (BATCH_SIZE=2 -> 2000-event triggers over a
    10,000-event log) must deliver the whole log exactly once, not just
    the first rate-limited batch."""
    from stream_cdc_spark import main as M
    from tests.conftest import SF_MED

    qdir = str(tmp_path / "cli-q")
    monkeypatch.delenv("PIPELINE", raising=False)
    monkeypatch.setenv("DS_PATH", f"{SF_MED}/events.parquet")
    monkeypatch.setenv("BATCH_SIZE", "2")
    monkeypatch.setenv("FLUSH_INTERVAL", "0.5")
    monkeypatch.setenv("DRAIN_AND_EXIT", "1")
    monkeypatch.setenv("QUEUE_DIR", qdir)
    monkeypatch.setenv("CHECKPOINT_DIR", str(tmp_path / "cli-ckpt"))
    assert M.main() == 0

    seqs = [json.loads(m["MessageBody"])["seq"] for m in FileQueue(qdir).drain()]
    want = sorted(
        r.event_id for r in load(spark, SF_MED, "events").select("event_id").collect()
    )
    assert len(want) == 10_000
    assert sorted(seqs) == want


def test_cli_rejects_unknown_pipeline(tmp_path, monkeypatch):
    """An unknown PIPELINE must fail loudly, naming the valid modes,
    instead of silently running the default cdc mode."""
    import pytest

    from stream_cdc_spark import main as M

    monkeypatch.setenv("PIPELINE", "ann-index")
    # were the default mode to run, make it a short finite drain
    monkeypatch.setenv("DS_PATH", f"{SF_SMALL}/events.parquet")
    monkeypatch.setenv("DRAIN_AND_EXIT", "1")
    monkeypatch.setenv("QUEUE_DIR", str(tmp_path / "q"))
    monkeypatch.setenv("CHECKPOINT_DIR", str(tmp_path / "ckpt"))
    with pytest.raises(ValueError, match="ann-index.*ann_index_versioned"):
        M.main()
