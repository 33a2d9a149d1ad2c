"""cdc_spine: the reference pipeline in catch-up mode.

A seeded event log (the ``events`` schema) is appended chunk by chunk to
a directory that the ``cdc_replay`` source replays. ``CdcPipeline`` runs
it through RedactFilter + SizeFilter, serializes with ``to_json`` and
delivers through ``foreach_batch_writer(FileQueue)`` under the
production ProcessingTime trigger (interval 0: back to back under a
backlog). The benchmark keeps a backlog of several triggers in the log
until ``--seconds`` have passed, then lets the stream drain and stops it
once every appended event has been delivered.

Triggers carry 500 events. A seeded share of events carries props over
the 1,000 character field limit (SizeFilter offloads ``content`` to the
claim-check store) and a smaller share over the 240 KB message limit
(the queue sink sends a claim-check reference instead), so per-trigger
overhead, per-event work and the claim-check path all weigh.
"""

from __future__ import annotations

import functools
import glob
import hashlib
import json
import os
import random
import sys
import time

import common

BATCH_EVENTS = 500      # events per trigger (the source's batchEvents)
MEDIUM_SHARE = 0.01     # props between 1.2k and 3k characters
HUGE_SHARE = 0.001      # props over the 240 KB message limit
MIN_TRIGGERS = 8       # timed triggers at least (see common.drive)
MAX_TRIGGERS_PER_S = 3  # sizes the staged log; a faster run stops early
BACKLOG = 4             # triggers of events kept waiting in the log
WARMUP_CHUNKS = 5
FIELD_LIMIT = 1000      # SizeFilter field_threshold
TYPES = ("signup", "purchase", "click", "view", "error")
OPS = {"signup": "Insert", "purchase": "Insert", "click": "Update",
       "view": "Update", "error": "Delete"}
T0_US = 1_700_000_000_000_000


@functools.lru_cache(maxsize=None)
def chunk_rows(seed: int, k: int) -> list[tuple]:
    """Events [k*B, (k+1)*B) of the seeded log."""
    rng = random.Random(f"cdc_spine:{seed}:{k}")
    rows = []
    for i in range(BATCH_EVENTS):
        eid = k * BATCH_EVENTS + i
        etype = rng.choices(TYPES, weights=(5, 10, 40, 40, 5))[0]
        r = rng.random()
        if r < HUGE_SHARE:
            props = (f"h{eid}-" * 60_000)[: 250_000 + rng.randrange(40_000)]
        elif r < HUGE_SHARE + MEDIUM_SHARE:
            props = (f"m{eid}." * 500)[: 1200 + rng.randrange(1800)]
        else:
            props = json.dumps({"page": f"/p/{rng.randrange(10_000)}",
                                "ref": f"r{rng.randrange(97)}"})
        rows.append((eid, T0_US + eid * 1_000_000, rng.randrange(5000), etype,
                     round(rng.uniform(0, 500), 2), props))
    return rows


def write_chunk(rows: list[tuple], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*rows))
    table = pa.table({
        "event_id": pa.array(cols[0], pa.int64()),
        "ts": pa.array(cols[1], pa.timestamp("us")),
        "user_id": pa.array(cols[2], pa.int64()),
        "event_type": pa.array(cols[3], pa.string()),
        "value": pa.array(cols[4], pa.float64()),
        "props": pa.array(cols[5], pa.string()),
    })
    pq.write_table(table, path)


def build_pipeline(spark, tracer, log_dir: str):
    from pyspark.sql import functions as F

    from stream_cdc_spark.config import AppConfig
    from stream_cdc_spark.filters import FilterChain, RedactFilter, SizeFilter
    from stream_cdc_spark.sinks.claimcheck import FileClaimCheckStore
    from stream_cdc_spark.sinks.queue import FileQueue, foreach_batch_writer
    from stream_cdc_spark.streaming.pipeline import CdcPipeline

    qdir = common.fresh_dir("spine", "queue")
    store = FileClaimCheckStore(common.fresh_dir("spine", "claims"))
    ckpt = os.path.join(common.fresh_dir("spine", "ckpt"), "c")
    source = (
        spark.readStream.format("cdc_replay")
        .option("path", log_dir)
        .option("batchEvents", str(BATCH_EVENTS))
        .option("readPartitions", str(common.cpus()))
        .load()
    )
    chain = FilterChain([
        RedactFilter("content", when=F.col("event_type") == "Delete"),
        # not part of the reference chain: the row image's props travel
        # next to content as a second large field, because SizeFilter
        # covers content only and no message could otherwise pass the
        # 240 KB limit that the queue sink's claim-check path handles
        lambda df: df.withColumn("props", F.get_json_object("content", "$.after.props")),
        SizeFilter("content", field_threshold=FIELD_LIMIT, store=store),
    ])
    writer = foreach_batch_writer(lambda: FileQueue(qdir), store=store)

    def sink(batch_df, batch_id):
        with tracer.span("sinks.queue.add_batch"):
            writer(batch_df, batch_id)

    pipe = CdcPipeline(spark, source, sink, ckpt,
                       config=AppConfig(flush_interval=0.0), filters=chain)
    return pipe, qdir, store


def _chunks_committed(rows: list[dict]) -> int:
    done = [json.loads(r["end_offset"])["seq"] for r in rows if r["end_offset"]]
    return max(done, default=0) // BATCH_EVENTS


def check(seed: int, n_events: int, qdir: str, store) -> tuple[int, dict]:
    """Every event delivered exactly once with the expected payload, a
    distinct deterministic Id per message, oversize messages as
    claim-check references. Returns (failed events, sink counts)."""
    from stream_cdc_spark.sinks.queue import FileQueue

    failed = 0
    seen: dict[int, int] = {}
    ids = set()
    oversize = 0
    for e in FileQueue(qdir).drain():
        body = e["MessageBody"]
        if e["Id"] != hashlib.sha256(body.encode()).hexdigest()[:32] or e["Id"] in ids:
            failed += 1
        ids.add(e["Id"])
        if e["MessageAttributes"].get("oversized") == "true":
            oversize += 1
            ref = json.loads(body)
            body = store.get_text(ref["uri"])
            if ref["message_id"] != hashlib.sha256(body.encode()).hexdigest():
                failed += 1
        p = json.loads(body)
        seen[p["seq"]] = seen.get(p["seq"], 0) + 1
        expected = chunk_rows(seed, p["seq"] // BATCH_EVENTS)[p["seq"] % BATCH_EVENTS]
        if not _payload_ok(p, store, expected):
            failed += 1
    failed += sum(1 for s in range(n_events) if seen.get(s) != 1)
    failed += sum(1 for s in seen if not 0 <= s < n_events)
    files = glob.glob(os.path.join(qdir, "batch-*.jsonl"))
    sizes = FileQueue(qdir).request_sizes()
    counts = {
        "requests": len(files),
        "msgs": sum(sizes),
        "bytes": sum(os.path.getsize(f) for f in files),
        "oversize_refs": oversize,
    }
    return failed, counts


def _payload_ok(p: dict, store, expected: tuple) -> bool:
    eid, _, user, etype, value, props = expected
    if p["event_type"] != OPS[etype] or not p["gtid"].endswith(f":{eid}"):
        return False
    if etype == "error":
        return p["content"] == "[REDACTED]" and "props" not in p
    content = json.dumps({"after": {
        "event_id": str(eid), "user_id": str(user), "event_type": etype,
        "value": str(value), "props": props,
    }})
    if len(content) > FIELD_LIMIT:
        if p["content"] != store.uri_for(content) or store.get_text(p["content"]) != content:
            return False
    elif p["content"] != content:
        return False
    return p.get("props") == props


def run(seed: int, seconds: float, trace: bool, t_process: float, memory):
    tracer = common.Tracer(trace, f"cdc_spine-{seed}-{int(time.time())}")
    # input generation (excluded from setup_s): the log, staged aside
    t_gen = time.time()
    staged = WARMUP_CHUNKS + max(int(seconds * MAX_TRIGGERS_PER_S), MIN_TRIGGERS) + BACKLOG
    log = common.StagedLog("spine", staged, lambda k, path: write_chunk(chunk_rows(seed, k), path))
    gen_s = time.time() - t_gen
    tc = common.phase("inputs", t_gen)

    spark = common.start_spark("perfbench-cdc_spine")
    from stream_cdc_spark.sources import cdc_replay

    cdc_replay.register(spark)
    listener = common.progress_listener(spark)
    tc = common.phase("spark", tc)

    pipe, qdir, store = build_pipeline(spark, tracer, log.dir)
    cpu0 = time.process_time()
    # the first WARMUP_CHUNKS triggers warm the query up (JIT, the Python
    # source runner and UDF workers, parquet footers, first plans)
    warm, rows, t0, t1 = common.drive(
        listener, lambda: pipe.start(available_now=False), log, WARMUP_CHUNKS, seconds,
        MIN_TRIGGERS, BACKLOG, _chunks_committed)
    cpu_ms = (time.process_time() - cpu0) * 1000.0
    setup_s = t0 - t_process - gen_s
    tc = common.phase("stream", tc)
    mem = memory.stop()

    trig = [r["duration"]["triggerExecution"] for r in rows]
    print("perfbench trigger ms: warm-up", [r["duration"]["triggerExecution"] for r in warm],
          "timed", trig, file=sys.stderr, flush=True)
    n_events = log.appended * BATCH_EVENTS
    delivered = sum(r["rows"] for r in rows)
    e2e = {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (mem, "MB"),
        "op_ms_p50": (common.p50(trig), "ms"),
        "items_per_s": (delivered / (t1 - t0), "1/s"),
    }

    failed, counts = check(seed, n_events, qdir, store)
    tc = common.phase("check", tc)
    report = {
        "failed_frac": (failed / n_events, "ratio"),
        "events_per_s": (delivered / (t1 - t0), "events/s"),
        "trigger_ms_p50": (common.p50(trig), f"ms (n={len(trig)} triggers)"),
        "trigger_ms_p90": (common.p90(trig), f"ms (n={len(trig)} triggers)"),
        "events": (n_events, "events"),
    }

    layers = {}
    if trace:
        def phase(*keys):
            return common.trigger_phase_ms(rows, *keys)

        def mean_phase(key):
            return common.trigger_phase_ms(rows, key, stat=common.mean)

        status = common.status_store(spark)
        windows = [common.trigger_window(r) for r in rows]
        generic, _ = common.spark_layer(status, windows)
        layers = {
            "driver.plan_ms_per_op": (mean_phase("queryPlanning"), "ms"),
            "exec.run_ms_per_op": (mean_phase("addBatch"), "ms"),
            "op.overhead_ms_per_op": (mean_phase("triggerExecution") - mean_phase("addBatch"), "ms"),
            # the Python driver's CPU time over the whole stream, warm-up included
            "python.driver_cpu_ms_per_op": (cpu_ms / (len(warm) + len(rows)), "ms"),
            **generic,
        }
        spans = tracer.total_ms()
        report.update({
            "sources.cdc_replay.latest_offset_ms": (phase("latestOffset"), "ms p50"),
            "streaming.pipeline.query_planning_ms": (phase("queryPlanning"), "ms p50"),
            "streaming.pipeline.commit_ms": (phase("walCommit", "commitOffsets"), "ms p50"),
            "sinks.queue.add_batch_ms": (common.p50(spans["sinks.queue.add_batch"]), "ms p50 (span)"),
            "streaming.pipeline.add_batch_ms": (phase("addBatch"), "ms p50 (listener)"),
            "sinks.queue.requests": (counts["requests"], "count"),
            "sinks.queue.msgs_per_request": (counts["msgs"] / max(counts["requests"], 1), "msgs (max 10)"),
            "sinks.queue.bytes": (counts["bytes"], "bytes"),
            "sinks.queue.oversize_refs": (counts["oversize_refs"], "count"),
            "spark.jobs_per_trigger": (generic["spark.jobs_per_op"][0], "count mean"),
            "spark.tasks_per_trigger": (generic["spark.tasks_per_op"][0], "count mean"),
            "spark.executor_cpu_ms_per_trigger": (generic["spark.executor_cpu_ms_per_op"][0], "ms mean"),
        })
        print("cdc_spine  span file:", tracer.write())
    return n_events, failed, e2e, layers, report
