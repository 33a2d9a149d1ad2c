"""headline_queries: the ``headline=True`` registry queries.

Each query is built with its registry builder and collected, one at a
time, over the tables in perfbench/data/sf0.01 (a copy of the fixed
seed-42 fixture tables, so the run does not depend on anything outside
the checkout). The seed only fixes the query order; the eager drains
(whose builders run jobs) always go last, as in bench.py.

Warm-up is one untimed pass over every query. Every query's canonical
result hash must match the hash recorded from the DuckDB oracle
(perfbench/oracle_hashes.json, written by record_hashes.py).

The timed pass (``timed_pass``) and its layer numbers (``layer_report``)
are shared with the cdc_full workload, whose read phase runs a subset.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import sys
import time

import common

DATA = os.path.join(common.BENCH_DIR, "data", "sf0.01")
HASHES = os.path.join(common.BENCH_DIR, "oracle_hashes.json")


def canonical_hash(cols, rows) -> str:
    """sha256 of the tests/oracle.py canonical form of a result."""
    from tests.oracle import canonicalize

    return hashlib.sha256(json.dumps(canonicalize(cols, rows)).encode()).hexdigest()


def recorded_hashes(names) -> dict[str, str]:
    with open(HASHES) as f:
        want = json.load(f)
    missing = sorted(set(names) - set(want))
    if missing:
        raise SystemExit(f"perfbench: no recorded oracle hash for {missing}")
    return want


def headline_names(seed: int) -> list[str]:
    from stream_cdc_spark.plans.queries import QUERIES

    names = sorted(n for n, s in QUERIES.items() if s.headline)
    lazy = [n for n in names if not QUERIES[n].eager]
    eager = [n for n in names if QUERIES[n].eager]
    rng = random.Random(f"headline_queries:{seed}")
    rng.shuffle(lazy)
    rng.shuffle(eager)
    return lazy + eager


def plan_ms(spark, df) -> float:
    """Catalyst analysis + optimization + planning of the collected plan."""
    phases = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
        df._jdf.queryExecution().tracker().phases()
    )
    return float(sum(phases.get(k).durationMs() for k in phases.keySet()))


def warm_up(spark, names) -> None:
    """One untimed pass: what a long-lived process pays once (JIT,
    codegen, parquet footers, the Python worker pool)."""
    from stream_cdc_spark.plans.queries import QUERIES

    for q in names:
        QUERIES[q].builder(spark, DATA).collect()


def new_stats(names) -> dict[str, dict[str, list]]:
    return {q: {"wall": [], "build": [], "window": [], "plan": []} for q in names}


def timed_pass(spark, names, tracer, trace: bool, want: dict, stats: dict) -> int:
    """Build and collect each query once, timed; returns the number whose
    result hash differs from the oracle's (hashed outside the timing)."""
    from stream_cdc_spark.plans.queries import QUERIES

    failed = 0
    for q in names:
        t0 = time.time()
        with tracer.span(f"plans.queries.{q}"):
            with tracer.span("plans.queries.build"):
                df = QUERIES[q].builder(spark, DATA)
            tb = time.time()
            with tracer.span("plans.queries.collect"):
                rows = df.collect()
        t1 = time.time()
        st = stats[q]
        st["wall"].append(t1 - t0)
        st["build"].append(tb - t0)
        st["window"].append((t0, t1))
        if trace:
            st["plan"].append(plan_ms(spark, df))
        if canonical_hash(df.columns, [tuple(r) for r in rows]) != want[q]:
            failed += 1
    return failed


def layer_report(status, stats: dict, names, passes: int) -> tuple[dict, list]:
    """The plans/catalyst/operator layer numbers of the timed passes, and
    the per-query jobs and stages they came from."""
    report = {}
    for q in names:
        report[f"plans.queries.{q}.wall_s"] = (common.p50(stats[q]["wall"]), "s p50")
    report["plans.queries.build_ms"] = (
        sum(common.p50(stats[q]["build"]) for q in names) * 1000.0, "ms (sum over queries)")
    report["catalyst.plan_ms"] = (
        sum(common.p50(stats[q]["plan"]) for q in names), "ms (sum over queries)")
    per = common.attribute(status, [w for q in names for w in stats[q]["window"]])
    stages = [s for o in per for s in o["stages"]]
    for key, name, unit in (
        ("run_ms", "spark.executor_run_ms", "ms"),
        ("cpu_ms", "spark.executor_cpu_ms", "ms"),
        ("shuffle_read", "spark.shuffle_read_bytes", "bytes"),
        ("fetch_wait_ms", "spark.shuffle_fetch_wait_ms", "ms"),
        ("spill", "spark.spill_bytes", "bytes"),
    ):
        report[name] = (sum(s[key] for s in stages) / passes, f"{unit} per pass")
    report["spark.jobs"] = (sum(len(o["jobs"]) for o in per) / passes, "count per pass")
    report["spark.stages"] = (len(stages) / passes, "count per pass")
    report["spark.tasks"] = (sum(s["tasks"] for s in stages) / passes, "count per pass")
    for q in names:
        short = q.split("_")[0]
        if short not in ("q24", "q27"):
            continue
        o = common.attribute(status, stats[q]["window"][:1])[0]
        top = max(o["stages"], key=lambda s: s["run_ms"])
        report[f"spark.task_skew.{short}"] = (common.task_skew(status, top), "max/median task")
    total_s = sum(common.p50(stats[q]["wall"]) for q in names)
    report["spark.cpu_utilisation"] = (
        report["spark.executor_cpu_ms"][0] / (total_s * 1000.0 * common.cpus()),
        "executor cpu / (wall x cores)")
    return report, per


def run(seed: int, seconds: float, trace: bool, t_process: float, memory):
    tracer = common.Tracer(trace, f"headline_queries-{seed}-{int(time.time())}")
    spark = common.start_spark("perfbench-headline_queries")
    tc = common.phase("spark", t_process)
    names = headline_names(seed)
    want = recorded_hashes(names)
    warm_up(spark, names)
    setup_s = time.time() - t_process
    tc = common.phase("warm-up", tc)

    stats = new_stats(names)
    failed = 0
    passes = 0
    cpu0 = time.process_time()
    t_start = time.time()
    while passes == 0 or time.time() - t_start < seconds:
        failed += timed_pass(spark, names, tracer, trace, want, stats)
        passes += 1
    cpu_ms = (time.process_time() - cpu0) * 1000.0
    tc = common.phase(f"timed ({passes} passes)", tc)
    mem = memory.stop()

    per_query = {q: common.p50(stats[q]["wall"]) for q in names}
    print("perfbench query s:", {q: round(v, 3) for q, v in per_query.items()},
          file=sys.stderr, flush=True)
    total_s = sum(per_query.values())
    ms = [v * 1000.0 for v in per_query.values()]
    e2e = {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (mem, "MB"),
        "op_ms_p50": (common.p50(ms), "ms"),
        "items_per_s": (len(names) / total_s, "1/s"),
    }
    attempted = passes * len(names)
    report = {
        "failed_frac": (failed / attempted, "ratio"),
        "queries_total_s": (total_s, f"s ({len(names)} queries, median of {passes} passes)"),
    }

    layers = {}
    if trace:
        status = common.status_store(spark)
        q_report, _ = layer_report(status, stats, names, passes)
        report.update(q_report)
        generic, _ = common.spark_layer(status, [w for q in names for w in stats[q]["window"]])
        build_ms = [common.p50(stats[q]["build"]) * 1000.0 for q in names]
        layers = {
            "driver.plan_ms_per_op": (common.mean([common.p50(stats[q]["plan"]) for q in names]), "ms"),
            "exec.run_ms_per_op": (common.mean(ms) - common.mean(build_ms), "ms"),
            "op.overhead_ms_per_op": (common.mean(build_ms), "ms"),
            "python.driver_cpu_ms_per_op": (cpu_ms / attempted, "ms"),
            **generic,
        }
        print("headline_queries  span file:", tracer.write())
    return attempted, failed, e2e, layers, report
