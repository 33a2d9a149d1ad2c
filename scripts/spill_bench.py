#!/usr/bin/env python
"""Spill-path stress (round-5 task): run the headline + dedup-family
queries on the 10x corpus with the JVM heap constrained so
HashAggregate/Sort actually spill, and emit per-query wall, spill bytes,
and a result fingerprint so a normal-memory run can be diffed against
the constrained run (correctness must be memory-independent).

Run twice and compare:
    SPARK_GRAFT_DRIVER_MEM=12g python scripts/spill_bench.py > /tmp/spill_hi.json
    SPARK_GRAFT_DRIVER_MEM=2g  python scripts/spill_bench.py > /tmp/spill_lo.json
    python scripts/spill_bench.py --diff /tmp/spill_hi.json /tmp/spill_lo.json

local[32] runs executors inside the driver JVM, so driver memory IS the
executor heap here; on a cluster the equivalent knob is
spark.executor.memory.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERY_SET = [
    # headline
    "q03_log_compaction", "q07_cdc_apply_join", "q10_hourly_window",
    "q13_tpch_q1", "q14_tpch_q3", "q15_star_join_revenue",
    "q19_exact_dedup", "q24_ngram_jaccard_pairs", "q25_ann_bruteforce_topk",
    "q27_minhash_lsh_pairs", "q31_sessionization", "q34_tpch_q6",
    "q48_cdc_merge_apply", "q51_asof_join", "q66_winnow_fingerprints",
    # dedup family (the linear-in-corpus set)
    "q110_incremental_dedup", "q111_containment_pairs",
    "q114_leakage_safe_split",
]


def fingerprint(rows) -> str:
    def norm(v):
        if isinstance(v, float):
            return f"{v:.6g}"
        return repr(v)

    canon = sorted(tuple(norm(v) for v in r) for r in rows)
    return hashlib.sha256(repr(canon).encode()).hexdigest()[:16]


def diff(a_path: str, b_path: str) -> int:
    a = json.load(open(a_path))
    b = json.load(open(b_path))
    bad = []
    for q in a["queries"]:
        if q in b["queries"] and a["queries"][q]["fp"] != b["queries"][q]["fp"]:
            bad.append(q)
    print(json.dumps({
        "identical_results": not bad,
        "mismatches": bad,
        "mem": [a["mem"], b["mem"]],
        "total_wall_s": [a["total_wall_s"], b["total_wall_s"]],
        "total_spill_bytes": [a["total_spill_bytes"], b["total_spill_bytes"]],
    }))
    return 1 if bad else 0


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--diff":
        sys.exit(diff(sys.argv[2], sys.argv[3]))

    from stream_cdc_spark.observability import QueryMetricsCollector
    from stream_cdc_spark.plans.queries import QUERIES
    from stream_cdc_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", ".scale/sf10x0.1")
    qset = QUERY_SET
    if os.environ.get("SPILL_QUERIES"):
        qset = os.environ["SPILL_QUERIES"].split(",")
    # SPILL_MEMORY_FRACTION shrinks the unified execution/storage pool so
    # HashAggregate/Sort hit the ceiling and SPILL while the JVM keeps
    # enough user/metadata headroom to survive — a hard 2g heap with 32
    # tasks dies on raw allocation (GCLocker) before the spill path ever
    # engages, which tests nothing.
    extra = {}
    if os.environ.get("SPILL_MEMORY_FRACTION"):
        extra["spark.memory.fraction"] = os.environ["SPILL_MEMORY_FRACTION"]
    # Even at fraction 0.08 the engine's per-task state (counts, bounded
    # sketches, slim join keys) fits the pool and nothing spills — which
    # is itself the design claim. To exercise the spill/merge machinery
    # anyway, SPILL_FORCE_ELEMENTS caps in-memory elements per sorter so
    # every big sort/window/shuffle-write provably round-trips disk.
    if os.environ.get("SPILL_FORCE_ELEMENTS"):
        extra["spark.shuffle.spill.numElementsForceSpillThreshold"] = (
            os.environ["SPILL_FORCE_ELEMENTS"]
        )
    spark = get_spark(app_name="stream-cdc-spark-spill-bench", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    collector = QueryMetricsCollector(spark)
    out: dict[str, dict] = {}
    total_wall = 0.0
    total_spill = 0
    skip_fp = os.environ.get("SPILL_NO_FP") == "1"
    import time as _time

    for name in qset:
        # time the BUILDER too: iterative operators (q114's connected
        # components) materialize localCheckpoints during plan build, so
        # timing only the final collect undercounts them
        t_build = _time.perf_counter()
        df = QUERIES[name].builder(spark, sf_dir)
        build_s = _time.perf_counter() - t_build
        qm = collector.measure(name, lambda: df)
        d = qm.as_dict()
        out[name] = {
            "wall_s": round(d["wall_s"] + build_s, 2),
            "build_s": round(build_s, 2),
            "spill_bytes": d.get("spill_bytes", 0),
            "rows": d["result_rows"],
        }
        if not skip_fp:
            rows = QUERIES[name].builder(spark, sf_dir).collect()
            out[name]["fp"] = fingerprint(rows)
        total_wall += d["wall_s"] + build_s
        total_spill += d.get("spill_bytes", 0) or 0
        print(f"{name}: {out[name]}", file=sys.stderr)
    print(json.dumps({
        "mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "memory_fraction": os.environ.get("SPILL_MEMORY_FRACTION", "0.6"),
        "sf_dir": sf_dir,
        "total_wall_s": round(total_wall, 1),
        "total_spill_bytes": total_spill,
        "queries": out,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
