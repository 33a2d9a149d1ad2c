"""cdc_full: the composed production pipeline behind a real stream, then
reads.

Writes: a seeded typed-envelope feed (the ``PIPELINE=cdc_full`` schema)
is appended one parquet file per trigger to a directory that a
``readStream`` with ``maxFilesPerTrigger=1`` replays into
``CdcFullPipeline.foreach_batch``. Trigger b carries new inserts, good
updates of the previous trigger's tail quarter, updates below the
quality gate of its second quarter, a redelivery of its last fifth and,
every fifth trigger, in-band Deletes. A fold runs every second trigger,
every second fold a major one: after two warm-up triggers the three
timed ones are the first minor fold (batch 2), a trigger without a fold
and the first major fold (batch 4), so both fold kinds land in the timed
region and the trigger median is the cheaper of the two folds.

Reads, after ingest: seeded BM25 and ANN top-k probes against the
state, each of which must equal the batch reference over the modeled
latest live gated corpus (the scripts/cdc_full_soak.py check), and the
heaviest headline query, q27 (MinHash LSH pairs), over the bundled
fixture tables, whose result must match its recorded oracle hash. The
query puts ``operators/*`` and ``plans.queries`` under the same gate as
the streaming state.
"""

from __future__ import annotations

import os
import random
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import common

PER = 200               # new docs per trigger
MIN_TOKENS = 5
DIM = 8
N_CELLS = 16
VOCAB = 2000
COMPACT_EVERY = 2       # a fold every second trigger (batches 2, 4, 6, ...),
MAJOR_EVERY = 2         # every second fold a major one
DELETE_EVERY = 5        # trigger b carries Deletes when b % 5 == 4
DELETE_SEQ = 10 ** 6
WARMUP_TRIGGERS = 2     # batches 0-1
TIMED_TRIGGERS = 3      # at least: batches 2-4, a minor and a major fold among them
BACKLOG = 2
PROBES = 1              # per kind
READ_QUERIES = ("q27_minhash_lsh_pairs",)


def _text(rng: random.Random) -> str:
    n = rng.randrange(6, 60)
    return " ".join(f"w{int(rng.randrange(VOCAB * VOCAB) ** 0.5)}" for _ in range(n))


def _vec(rng: random.Random) -> list[float]:
    return [rng.randrange(-1000, 1000) / 1000.0 for _ in range(DIM)]


def image(seed: int, doc: int, version: int, bad: bool = False):
    rng = random.Random(f"cdc_full:{seed}:{doc}:{version}")
    if bad:
        return "tiny doc", _vec(rng)
    return _text(rng), _vec(rng)


def feed_rows(seed: int, b: int) -> list[tuple]:
    """Envelopes of trigger b: (event_type, gtid_seq, (doc_id, text, embedding))."""
    def up(doc, version, bad=False):
        t, v = image(seed, doc, version, bad)
        return ("Update" if version else "Insert", version, (doc, t, v))

    seen = b * PER
    rows = [up(seen + i, 0) for i in range(PER)]
    if b > 0:
        base = seen - PER
        rows += [up(d, b) for d in range(base + 3 * PER // 4, seen)]
        rows += [up(d, b, bad=True) for d in range(base + PER // 4, base + PER // 2)]
        rows += [up(d, 0) for d in range(seen - PER // 5, seen)]
    if b % DELETE_EVERY == DELETE_EVERY - 1:
        rows += [("Delete", DELETE_SEQ, (d, None, None))
                 for d in range(seen + PER) if d % 97 == 3]
    return rows


def write_feed(rows: list[tuple], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    content = pa.array(
        [{"doc_id": c[0], "text": c[1], "embedding": c[2]} for _, _, c in rows],
        pa.struct([("doc_id", pa.int64()), ("text", pa.string()),
                   ("embedding", pa.list_(pa.float32()))]),
    )
    pq.write_table(pa.table({
        "event_type": pa.array([r[0] for r in rows], pa.string()),
        "gtid_seq": pa.array([r[1] for r in rows], pa.int64()),
        "content": content,
    }), path)


def centroids(seed: int) -> list[tuple[int, list[float]]]:
    rng = random.Random(f"cdc_full:{seed}:centroids")
    return [(c, _vec(rng)) for c in range(N_CELLS)]


def probe_inputs(seed: int):
    rng = random.Random(f"cdc_full:{seed}:probes")
    terms = [[f"w{int(rng.randrange(VOCAB * VOCAB) ** 0.5)}" for _ in range(3)]
             for _ in range(PROBES)]
    vecs = [[(10 ** 9 + 10 * p + i, _vec(rng)) for i in range(2)] for p in range(PROBES)]
    return terms, vecs


def drive(spark, listener, pipe, feed: common.StagedLog, seconds: float):
    """Stream the feed through ``pipe``, one file per trigger (see
    common.drive)."""
    from stream_cdc_spark.streaming.cdc_full import CDC_FULL_FEED_SCHEMA

    ckpt = os.path.join(common.fresh_dir("full", "ckpt"), "c")

    def start():
        return (
            spark.readStream.schema(CDC_FULL_FEED_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed.dir)
            .writeStream.foreachBatch(pipe.foreach_batch)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )

    return common.drive(listener, start, feed, WARMUP_TRIGGERS, seconds, TIMED_TRIGGERS,
                        BACKLOG, lambda rows: sum(1 for r in rows if r["rows"] > 0))


def run_probes(spark, pipe, tracer, seed: int, n: int):
    """The first ``n`` seeded BM25 and ANN probes, timed; returns
    (results, ms, windows) per kind."""
    terms, vecs = probe_inputs(seed)
    out = {"bm25": ([], [], []), "ann": ([], [], [])}
    for p in range(n):
        q = spark.createDataFrame(vecs[p], "vec_id bigint, embedding array<float>")
        for kind, call in (
            ("bm25", lambda: pipe.retr.bm25_topk(spark, terms[p], top_k=20).collect()),
            ("ann", lambda: pipe.ann.topk(spark, q, k=10, nprobe=3).collect()),
        ):
            t0 = time.time()
            with tracer.span(f"probe.{kind}"):
                got = call()
            t1 = time.time()
            out[kind][0].append(sorted(map(tuple, got)))
            out[kind][1].append((t1 - t0) * 1000.0)
            out[kind][2].append((t0, t1))
    return out


def check_probes(spark, seed: int, n_triggers: int, probes: dict) -> int:
    """Probes that differ from the batch reference over the modeled
    latest live gated corpus."""
    from stream_cdc_spark.operators import similarity, text as T

    seen = n_triggers * PER
    deleted_below = max(
        ((b + 1) * PER for b in range(n_triggers) if b % DELETE_EVERY == DELETE_EVERY - 1),
        default=0,
    )

    def latest_good_version(d: int) -> int:
        b = d // PER
        if b + 1 < n_triggers and d % PER >= 3 * PER // 4:
            return b + 1
        return 0

    images = [(d, *image(seed, d, latest_good_version(d)))
              for d in range(seen) if not (d % 97 == 3 and d < deleted_below)]
    corpus_t = spark.createDataFrame([(d, t) for d, t, _ in images], "doc_id bigint, text string")
    corpus_v = spark.createDataFrame([(d, v) for d, _, v in images],
                                     "vec_id bigint, embedding array<float>")
    cents = spark.createDataFrame(centroids(seed), "cid bigint, cv array<float>")
    terms, vecs = probe_inputs(seed)
    n = len(probes["bm25"][0])

    def bm25(p):
        return sorted(map(tuple, T.bm25_topk(corpus_t, terms[p], top_k=20).collect()))

    def ann(p):
        q = spark.createDataFrame(vecs[p], "vec_id bigint, embedding array<float>")
        return sorted(map(tuple, similarity.ivf_ann_topk(
            corpus_v, q, cents, k=10, nprobe=3, quantize_bp=10000).collect()))

    # the references are independent jobs: run them side by side
    with ThreadPoolExecutor(max_workers=4) as pool:
        want = {"bm25": [pool.submit(bm25, p) for p in range(n)],
                "ann": [pool.submit(ann, p) for p in range(n)]}
        return sum(f.result() != got for kind in want
                   for f, got in zip(want[kind], probes[kind][0]))


def make_pipeline(state: str, seed: int):
    from stream_cdc_spark.streaming.cdc_full import CdcFullPipeline

    return CdcFullPipeline(state, centroids(seed), min_tokens=MIN_TOKENS,
                           compact_every=COMPACT_EVERY, major_every=MAJOR_EVERY)


def install_spans(tracer, pipe) -> None:
    """Spans around the composed pipeline's public methods and the
    statedir fold entry points (module attributes, so every sink's call
    goes through them)."""
    from stream_cdc_spark.streaming import statedir

    tracer.wrap(pipe, "foreach_batch", "streaming.cdc_full.foreach_batch")
    tracer.wrap(pipe.retr, "foreach_batch", "streaming.retrieval_index.admit")
    tracer.wrap(pipe.ann, "foreach_batch", "streaming.ann_index.admit")
    tracer.wrap(pipe.retr, "delete_versions_batch", "streaming.statedir.tombstone")
    tracer.wrap(pipe.ann, "delete_versions_batch", "streaming.statedir.tombstone")
    tracer.wrap(statedir, "maybe_compact", "streaming.statedir.maybe_compact")
    tracer.wrap(statedir, "compact", "streaming.statedir.compact.major")
    tracer.wrap(statedir, "compact_minor", "streaming.statedir.compact.minor")


def run(seed: int, seconds: float, trace: bool, t_process: float, memory):
    import headline

    tracer = common.Tracer(trace, f"cdc_full-{seed}-{int(time.time())}")
    want = headline.recorded_hashes(READ_QUERIES)
    t_gen = time.time()
    # one file per trigger; exactly TIMED_TRIGGERS timed triggers while a
    # trigger takes seconds / TIMED_TRIGGERS or longer (the spare files
    # cover a faster program for --seconds)
    staged = WARMUP_TRIGGERS + max(TIMED_TRIGGERS, int(seconds)) + BACKLOG
    feed = common.StagedLog("full", staged,
                            lambda b, path: write_feed(feed_rows(seed, b), path))
    gen_s = time.time() - t_gen
    tc = common.phase("inputs", t_gen)

    spark = common.start_spark("perfbench-cdc_full")
    listener = common.progress_listener(spark)
    tc = common.phase("spark", tc)

    state = common.fresh_dir("full", "state")
    pipe = make_pipeline(state, seed)
    install_spans(tracer, pipe)
    cpu0 = time.process_time()
    # the first WARMUP_TRIGGERS triggers warm the query up (JIT, codegen,
    # the Python worker pool, first plans) and seed the state
    warm, rows, t0, t1 = drive(spark, listener, pipe, feed, seconds)
    cpu_ms = (time.process_time() - cpu0) * 1000.0
    setup_s = t0 - t_process - gen_s
    tp = common.phase("stream", tc)
    # the reads run once per process here, so they are timed from their
    # first call: the probes and the query plan and compile cold
    probes = run_probes(spark, pipe, tracer, seed, PROBES)
    stats = headline.new_stats(READ_QUERIES)
    failed = headline.timed_pass(spark, READ_QUERIES, tracer, trace, want, stats)
    read_s = time.time() - tp
    tc = common.phase("reads", tp)
    mem = memory.stop()
    state_mb = common.tree_size_mb(state)

    trig = [r["duration"]["triggerExecution"] for r in rows]
    print("perfbench trigger ms: warm-up", [r["duration"]["triggerExecution"] for r in warm],
          "timed", trig, file=sys.stderr, flush=True)
    envelopes = sum(r["rows"] for r in rows)
    e2e = {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (mem, "MB"),
        "op_ms_p50": (common.p50(trig), "ms"),
        # ingest and the reads after it share one rate, so a write gain
        # that slows reads (or a slower query) shows here
        "items_per_s": (envelopes / (t1 - t0 + read_s), "1/s"),
    }

    failed += check_probes(spark, seed, len(warm) + len(rows), probes)
    tc = common.phase("check", tc)
    n_trig = len(warm) + len(rows)
    attempted = n_trig + 2 * PROBES + len(READ_QUERIES)
    query_s = {q: stats[q]["wall"][0] for q in READ_QUERIES}
    report = {
        "failed_frac": (failed / attempted, "ratio"),
        "events_per_s": (envelopes / (t1 - t0), "events/s"),
        "trigger_ms_p50": (common.p50(trig), f"ms (n={len(trig)} triggers)"),
        "probe_bm25_ms_p50": (common.p50(probes["bm25"][1]), f"ms (n={PROBES})"),
        "probe_ann_ms_p50": (common.p50(probes["ann"][1]), f"ms (n={PROBES})"),
        "queries_total_s": (sum(query_s.values()), f"s ({len(READ_QUERIES)} queries)"),
        "state_mb": (state_mb, "MB"),
        "envelopes": (envelopes, "events"),
    }

    layers = {}
    if trace:
        from stream_cdc_spark.streaming import statedir

        def mean_phase(key):
            return common.trigger_phase_ms(rows, key, stat=common.mean)

        status = common.status_store(spark)
        generic, per = common.spark_layer(status, [common.trigger_window(r) for r in rows])
        layers = {
            "driver.plan_ms_per_op": (mean_phase("queryPlanning"), "ms"),
            "exec.run_ms_per_op": (mean_phase("addBatch"), "ms"),
            "op.overhead_ms_per_op": (mean_phase("triggerExecution") - mean_phase("addBatch"), "ms"),
            # the Python driver's CPU time over the whole stream, warm-up included
            "python.driver_cpu_ms_per_op": (cpu_ms / n_trig, "ms"),
            **generic,
        }
        own = tracer.self_ms()
        total = tracer.total_ms()

        # spans cover every trigger, warm-up included
        def per_trigger(name, spans):
            return sum(spans.get(name, [])) / n_trig

        for name, unit in (
            ("streaming.cdc_full.foreach_batch", "self"),
            ("streaming.retrieval_index.admit", "self"),
            ("streaming.ann_index.admit", "self"),
            ("streaming.statedir.tombstone", "total"),
            ("streaming.statedir.maybe_compact", "self"),
        ):
            spans = own if unit == "self" else total
            report[name.replace("foreach_batch", "self") + "_ms"] = (
                per_trigger(name, spans), f"ms/trigger ({unit})")
        for kind in ("major", "minor"):
            name = f"streaming.statedir.compact.{kind}"
            report[f"streaming.statedir.compactions.{kind}"] = (len(total.get(name, [])), "count")
            report[f"streaming.statedir.compact_ms.{kind}"] = (sum(total.get(name, [])), "ms total")
        report["streaming.statedir.compact_ms"] = (
            sum(sum(total.get(f"streaming.statedir.compact.{k}", [])) for k in ("major", "minor"))
            / n_trig, "ms/trigger")
        files = dirs = 0
        for dirpath, dirnames, _ in os.walk(state):
            if any(d.startswith(("batch=", "compact=", "delta=")) for d in dirnames):
                c = statedir.dir_counts(dirpath)
                files += c["files"]
                dirs += c["compact"] + c["delta"] + c["batch"]
                dirnames[:] = []
        report["streaming.statedir.state_files"] = (files, "count")
        report["streaming.statedir.live_dirs"] = (dirs, "count")
        report["spark.jobs_per_trigger"] = (generic["spark.jobs_per_op"][0], "count mean")
        report["spark.shuffle_bytes_per_trigger"] = (
            common.p50([common.shuffle_bytes(o) for o in per]), "bytes p50")
        for kind in ("bm25", "ann"):
            pp = common.attribute(status, probes[kind][2])
            report[f"spark.jobs_per_probe.{kind}"] = (
                common.p50([len(o["jobs"]) for o in pp]), "count p50")
        q_report, _ = headline.layer_report(status, stats, READ_QUERIES, 1)
        report.update(q_report)
        print("cdc_full  span file:", tracer.write())
    return attempted, failed, e2e, layers, report
