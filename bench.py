#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...},
"sf": ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stream_cdc_spark.observability import QueryMetricsCollector  # noqa: E402
from stream_cdc_spark.plans.queries import QUERIES  # noqa: E402
from stream_cdc_spark.session import get_spark  # noqa: E402

BASELINE_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BASELINE_QUERIES.json")


def _calibration(spark, sf_dir: str, repeats: int = 3) -> dict:
    """A fixed calibration workload timed alongside every bench run
    (round-12 verdict task 7): a scheduling-floor count over a 1-row
    relation, a CPU-bound shuffle-free reduction, and a fixed parquet
    scan. The work is identical run-to-run (data- and code-change-
    independent at a given sf), so the ratio of two runs' calibration
    walls measures AMBIENT LOAD from the artifacts alone — r12's
    isolated embed ran ~25% hot under a background soak and
    adjudicating that required cross-referencing soak logs. The drift
    check divides by this load factor before flagging."""
    runs = []
    for _ in range(repeats):
        t0 = time.time()
        spark.range(1).count()
        spark.range(4_000_000).selectExpr("sum(id * 3 + 1)").collect()
        spark.read.parquet(
            os.path.join(sf_dir, "orders.parquet")
        ).selectExpr("count(o_orderkey)").collect()
        runs.append(round(time.time() - t0, 3))
    return {
        "wall": sorted(runs)[(len(runs) - 1) // 2],
        "wall_min": min(runs),
        "runs": runs,
    }


def _load_baseline() -> dict | None:
    try:
        with open(BASELINE_PATH) as f:
            return json.load(f)
    except (OSError, json.JSONDecodeError):
        return None


def _round_files() -> list[tuple[int, str]]:
    """(round, path) for every recorded BENCH_r{N}.json, sorted
    NUMERICALLY on the round id: lexicographic order picks BENCH_r9 over
    BENCH_r10 once widths mix, silently comparing against a stale round
    (non-numeric BENCH_r*.json strays are skipped rather than crashing).
    The single source of 'newest recorded round' for both the drift
    baseline (_load_prev_round) and the staleness stamp
    (_current_round) — two copies drifted once already."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    # STRICT basename match: the driver also records side files like
    # BENCH_r14_c8.json (its low-core scaling run) whose loose prefix
    # match sorted AFTER BENCH_r14.json at the same round id, silently
    # making the 8-core record the drift baseline (seen at r15 open:
    # drift block said vs BENCH_r14_c8.json). Only the canonical
    # BENCH_r{N}.json per-round records are comparable baselines.
    return sorted(
        (int(m.group(1)), p)
        for p in glob.glob(os.path.join(here, "BENCH_r*.json"))
        if (m := re.fullmatch(r"BENCH_r(\d+)\.json", os.path.basename(p)))
    )


def _load_prev_round() -> dict | None:
    """Per-query medians from the newest recorded BENCH_r*.json, so the
    round-over-round delta is decidable from this artifact alone (the
    round-5 verdict's bench-hygiene task: +18% total drift was almost
    certainly shared-session load, but nothing in the artifact could
    prove it). The driver keeps only the TAIL of the stdout line, so the
    queries dict is recovered from the tail text."""
    import re

    files = _round_files()
    if not files:
        return None
    path = files[-1][1]
    try:
        with open(path) as f:
            rec = json.load(f)
        tail = rec.get("tail") or ""
        m = None
        for m in re.finditer(r'"queries":\s*(\{[^{}]*\})', tail):
            pass
        if m is None:
            return None
        # Recover the previous run's calibration too (r15): without it
        # the drift block divided by load_factor 1.0 and flagged pure
        # ambient load as drift (r14->r15 open: 1.7x calibration ratio,
        # three spurious flags). The MAIN calibration block precedes the
        # isolated embed's in the guaranteed-short stdout line, so the
        # first match is the right yardstick.
        cal = re.search(r'"calibration":\s*(\{[^{}]*\})', tail)
        return {
            "source": os.path.basename(path),
            "sf": rec.get("sf"),
            "calibration": json.loads(cal.group(1)) if cal else None,
            "queries": json.loads(m.group(1)),
        }
    except (OSError, ValueError):
        return None


ISOLATED_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "BENCH_ISOLATED.json"
)
DETAIL_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
)
SWEEP_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "BENCH_SWEEP.json"
)


def _load_sweep() -> dict | None:
    """The most recent `bench.py --sweep` record (full-registry walls).
    Embedded (summary only) into BENCH_DETAIL.json by the default run,
    with the same provenance/staleness rule as the isolated block."""
    try:
        with open(SWEEP_PATH) as f:
            return json.load(f)
    except (OSError, json.JSONDecodeError):
        return None


def run_sweep() -> None:
    """Once-per-round full-registry timing sweep (round-10 verdict task
    5): the headline bench times 15/137 queries — the other 122 had
    correctness rows but no recorded wall, so a regression there was
    undecidable. One repeat per query at sf0.01 (coarse by design: the
    gate is the 1.5x + 0.3 s band, not the noise floor), drift compared
    against the PRIOR round's committed BENCH_SWEEP.json before this run
    overwrites it."""
    sf_dir = os.environ.get("SPARK_GRAFT_SWEEP_DIR", "/root/testdata/sf0.01")
    prev = _load_sweep()
    spark = get_spark(app_name="stream-cdc-spark-bench-sweep")
    spark.sparkContext.setLogLevel("ERROR")

    # same warm-up as the headline path: JVM/JIT, parquet footers, and
    # the reusable Python/Arrow worker pool
    names = list(QUERIES)
    QUERIES[names[0]].builder(spark, sf_dir).collect()

    def _identity(it):
        yield from it

    cpus = spark.sparkContext.defaultParallelism
    spark.range(cpus * 4).repartition(cpus).mapInPandas(
        _identity, schema="id long"
    ).count()

    calibration = _calibration(spark, sf_dir)

    walls: dict[str, float] = {}
    for name in names:
        t0 = time.time()
        QUERIES[name].builder(spark, sf_dir).collect()
        walls[name] = round(time.time() - t0, 3)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    rec = {
        "metric": "full_registry_sweep",
        "source_round": _current_round(),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "repeats": 1,
        "calibration": {
            "wall": calibration["wall"],
            "wall_min": calibration["wall_min"],
        },
        "n_queries": len(walls),
        "total": round(sum(walls.values()), 3),
        "queries": walls,
    }
    if prev and str(prev.get("sf")) == str(rec["sf"]):
        pq = prev.get("queries") or {}
        shared = [n for n in walls if n in pq]
        # ambient-load normalization (r12's 6 sweep flags were all
        # load): divide by the calibration ratio before flagging
        prev_cal = (prev.get("calibration") or {}).get("wall_min")
        load = (
            max(
                1.0,
                round(calibration["wall_min"] / max(prev_cal, 1e-9), 3),
            )
            if prev_cal
            else 1.0
        )
        rec["drift"] = {
            "vs_round": prev.get("source_round"),
            "n_shared": len(shared),
            "load_factor": load,
            # single-repeat sf0.01 walls are noisy; the band is wide on
            # purpose — anything inside it is session noise, anything
            # outside is a plan change worth reading
            "flagged": sorted(
                n for n in shared if walls[n] > 1.5 * pq[n] * load + 0.3
            ),
            "improved": sorted(
                n for n in shared if walls[n] < pq[n] / 1.5 - 0.3
            ),
        }
    with open(SWEEP_PATH, "w") as f:
        json.dump(rec, f, indent=1)
    summary = {
        k: rec[k]
        for k in ("metric", "source_round", "sf", "n_queries", "total")
    }
    if "drift" in rec:
        summary["drift"] = rec["drift"]
    line = json.dumps(summary)
    assert len(line) < 1950, f"sweep stdout line {len(line)} chars"
    print(line)
    spark.stop()


def _current_round() -> int | None:
    """The round this run belongs to: newest recorded BENCH_r{N} + 1.
    The driver writes BENCH_r{N} at round close, so during round N the
    newest on disk is N-1. Used to stamp BENCH_ISOLATED.json and
    BENCH_DETAIL.json with the round that produced them and to flag a
    stale embed (round-9 verdict: BENCH_r09 presented r8 isolated
    numbers with no provenance)."""
    files = _round_files()
    return files[-1][0] + 1 if files else None


def _load_isolated() -> dict | None:
    """The most recent `bench.py --isolated` record, embedded into the
    default (driver-run) artifact so both totals live in BENCH_r{N} and
    a judge never needs the side file (round-6 verdict task 6: q24/q27
    driver-run walls moved +27%/+35% under session load while the
    isolated total held within 2% — the artifact must carry both)."""
    try:
        with open(ISOLATED_PATH) as f:
            return json.load(f)
    except (OSError, json.JSONDecodeError):
        return None


def main() -> None:
    if "--sweep" in sys.argv[1:]:
        run_sweep()
        return
    isolated = "--isolated" in sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="stream-cdc-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # lazy queries first, eager drains (q136/q137) LAST: a drain leaves
    # localCheckpoint blocks + GC pressure in the shared JVM, and the
    # 15 lazy walls are the ones compared against reference-round
    # baselines recorded without any drains in-process
    headline = [n for n, s in sorted(QUERIES.items()) if s.headline]
    headline.sort(key=lambda n: (QUERIES[n].eager, n))

    # Warm the JVM + parquet footers so timings measure query execution,
    # and spawn the Python/Arrow worker pool (spark.python.worker.reuse
    # keeps it alive) so a mapInPandas query isn't charged ~4s of one-time
    # process forking that a long-lived cluster never pays per query.
    QUERIES[headline[0]].builder(spark, sf_dir).collect()

    def _identity(it):
        yield from it

    cpus = spark.sparkContext.defaultParallelism
    spark.range(cpus * 4).repartition(cpus).mapInPandas(
        _identity, schema="id long"
    ).count()

    # fixed calibration workload: the load yardstick recorded into the
    # artifact so ambient-load inflation is measurable without soak-log
    # forensics (_calibration doc)
    calibration = _calibration(spark, sf_dir)

    # Per-query repeats (round-3 verdict: single-run sf0.1 numbers carry
    # ±30% noise, which made 1.2x ratios unresolvable). The reported
    # per-query second is the MEDIAN of the repeats; min/max ride along in
    # stats so the spread is visible in the recorded artifact.
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3")))
    if isolated:
        # isolated protocol: run on an otherwise-idle host (operator's
        # responsibility), two extra repeats so the min is a stable
        # floor, and record to BENCH_ISOLATED.json for the next default
        # run to embed
        repeats = max(repeats, 5)

    collector = QueryMetricsCollector(spark)
    timings: dict[str, float] = {}
    stats: dict[str, dict] = {}
    for name in headline:
        runs = []
        qm = None
        for _ in range(repeats):
            # eager queries run Spark jobs inside builder(), so their
            # timing/metrics window opens BEFORE the build, or the bench
            # would gate only the probe. Lazy queries keep collect-only
            # timing: their builders' driver-side spark.read round-trips
            # are ~0.2-0.4 s of plan-construction overhead a production
            # pipeline pays once, not per query, and their frozen
            # baseline rows were recorded collect-only — mixing the
            # protocols inflated every lazy wall by that constant
            # (round-12 isolated run).
            spec = QUERIES[name]
            if spec.eager:
                qm = collector.measure(
                    name, lambda: spec.builder(spark, sf_dir)
                )
            else:
                df = spec.builder(spark, sf_dir)
                qm = collector.measure(name, lambda: df)
            runs.append(round(qm.wall_s, 3))
        # lower-middle order statistic: the true median for odd n, the
        # smaller middle for even n (never the max — with n=2 the first
        # run still carries per-query JIT/cache warm-up)
        mid = sorted(runs)[(len(runs) - 1) // 2]
        timings[name] = mid
        stats[name] = qm.as_dict()
        stats[name]["wall_s"] = mid
        if repeats > 1:
            stats[name]["runs"] = runs
            stats[name]["wall_min"] = min(runs)
            stats[name]["wall_max"] = max(runs)

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # Key order is deliberate: the bulky diagnostic blocks (stats,
    # per-query baseline deltas) come FIRST and the headline fields LAST,
    # so a consumer that keeps only the tail of a long stdout line still
    # sees metric/value/queries/vs_baseline/regressed intact (the round-3
    # driver capture truncated the front of the line).
    wall_min = {
        n: stats[n].get("wall_min", timings[n]) for n in headline
    }
    out = {
        "stats": stats,
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "repeats": repeats,
        "calibration": {
            "wall": calibration["wall"],
            "wall_min": calibration["wall_min"],
        },
        "metric": "headline_queries_total"
        + ("_isolated" if isolated else ""),
        # per-query best-of-repeats next to the medians: wall_min strips
        # same-session noise (GC, page cache), so drift vs regression is
        # decidable from the artifact (round-5 verdict task 2)
        "wall_min": wall_min,
        # best-of-repeats total: the in-run approximation of the
        # isolated protocol (load inflates medians far more than mins)
        "value_min": round(sum(wall_min.values()), 3),
        "queries": timings,
        "value": total,
    }
    this_round = _current_round()
    iso = None
    if not isolated:
        iso = _load_isolated()
        if iso and str(iso.get("sf")) != str(out["sf"]):
            iso = None  # cross-scale totals aren't comparable
        if iso:
            # both totals in ONE artifact (see _load_isolated), with
            # provenance: the embedded block says which round produced
            # it, and carries stale=true when that round predates this
            # run (round-9 verdict task 2 — BENCH_r09 embedded r8
            # numbers indistinguishably from fresh ones)
            iso_round = iso.get("source_round")
            out["isolated"] = {
                "value": iso.get("value"),
                "value_min": iso.get("value_min"),
                "repeats": iso.get("repeats"),
                # the isolated run's own calibration wall: load
                # inflation between the isolated and default runs is
                # now a ratio of two recorded numbers (task 7)
                "calibration": iso.get("calibration"),
                "source_round": iso_round,
                "stale": iso_round is None
                or (this_round is not None and iso_round < this_round),
            }

    # Round-over-round drift vs the newest recorded BENCH_r*.json:
    # flagged only when the BEST repeat exceeds the previous median by
    # more than the noise band (25% + 0.1 s) — median-vs-median motion
    # inside the band is session noise, not a plan change.
    prev = _load_prev_round()
    if prev and prev.get("sf") is not None and str(prev["sf"]) != str(out["sf"]):
        prev = None  # cross-scale comparison is meaningless
    if prev:
        pq = {
            n: round(wall_min[n] / max(prev["queries"][n], 1e-9), 2)
            for n in timings
            if n in prev["queries"]
        }
        # self-calibrating drift (round-12 task 7): divide out ambient
        # load before flagging — the calibration workload is identical
        # across runs, so cal_now/cal_prev IS the load ratio. Rounds
        # before r13 recorded no calibration; factor 1.0 there.
        prev_cal = (prev.get("calibration") or {}).get("wall_min")
        load_factor = (
            max(1.0, round(calibration["wall_min"] / max(prev_cal, 1e-9), 3))
            if prev_cal
            else 1.0
        )
        out["drift"] = {
            "vs": prev["source"],
            "load_factor": load_factor,
            "min_over_prev_median": pq,
            "flagged": sorted(
                n
                for n in pq
                if wall_min[n] > 1.25 * prev["queries"][n] * load_factor + 0.1
            ),
        }

    # Regression check against the frozen per-query baseline (stderr only —
    # stdout stays one JSON line for the driver).
    baseline = _load_baseline()
    if baseline and str(out["sf"]) == str(baseline.get("sf")):
        base_q = baseline["queries"]
        shared = [n for n in timings if n in base_q]
        if shared:
            ratio = sum(timings[n] for n in shared) / max(
                sum(base_q[n] for n in shared), 1e-9
            )
            out["per_query_vs_baseline"] = {
                n: {
                    "sec": timings[n],
                    "baseline_sec": base_q[n],
                    "vs_baseline": round(timings[n] / max(base_q[n], 1e-9), 3),
                }
                for n in shared
            }
            # headline fields last (tail-truncation safety, see above)
            out["value"] = out.pop("value")
            out["vs_baseline"] = round(ratio, 3)
            out["regressed"] = sorted(
                n
                for n in shared
                if timings[n] > 1.5 * base_q[n] and timings[n] - base_q[n] > 0.5
            )
            if out["regressed"]:
                slower = {
                    n: f"{timings[n]:.2f}s vs {base_q[n]:.2f}s baseline"
                    for n in out["regressed"]
                }
                print(f"REGRESSIONS vs {baseline.get('source')}: {slower}", file=sys.stderr)

    # Tail-truncation safety, round-10 form: the driver records only the
    # LAST 2000 chars of stdout and its machine-readable `parsed` field
    # is null whenever the line overflows that capture (round-9 advice:
    # the artifact survived "by luck of field ordering"). So the stdout
    # line is now guaranteed-small: bulky diagnostics (per-repeat stats,
    # per-query baseline deltas, per-query wall_min / drift ratios /
    # isolated per-query walls) go to BENCH_DETAIL.json, committed in
    # the repo, and the stdout line keeps every decision-bearing field —
    # medians, totals, vs_baseline, drift flags, regressions, isolated
    # provenance — in well under 2000 chars.
    detail = {
        "detail_of": out["metric"],
        # same provenance rule as the isolated embed: the pointer frozen
        # inside a BENCH_r{N} artifact must be checkable against the
        # (mutable, every-run-overwritten) side file it names
        "source_round": this_round,
        "sf": out["sf"],
        "repeats": repeats,
        "stats": out.pop("stats"),
        "wall_min": out.pop("wall_min"),
    }
    if "per_query_vs_baseline" in out:
        detail["per_query_vs_baseline"] = out.pop("per_query_vs_baseline")
    if "drift" in out:
        detail["drift_ratios"] = out["drift"].pop("min_over_prev_median")
    if iso:
        detail["isolated_queries"] = iso.get("queries")
    sweep = None if isolated else _load_sweep()
    if sweep:
        # full-registry sweep summary with the isolated block's
        # provenance rule: source_round + stale flag; the per-query
        # walls stay in the committed BENCH_SWEEP.json it points at
        sweep_round = sweep.get("source_round")
        detail["sweep"] = {
            "file": os.path.basename(SWEEP_PATH),
            "source_round": sweep_round,
            "sf": sweep.get("sf"),
            "n_queries": sweep.get("n_queries"),
            "total": sweep.get("total"),
            "drift": sweep.get("drift"),
            "stale": sweep_round is None
            or (this_round is not None and sweep_round < this_round),
        }
    order = [
        "unit", "sf", "repeats", "calibration", "metric", "detail_file",
        "drift", "isolated", "queries", "value_min", "value",
        "vs_baseline", "regressed",
    ]
    if isolated:
        iso_rec = {k: out[k] for k in order if k in out}
        iso_rec["queries_wall_min"] = detail["wall_min"]
        iso_rec["source_round"] = this_round
        with open(ISOLATED_PATH, "w") as f:
            json.dump(iso_rec, f)
        out = iso_rec
    else:
        # only the default (driver-shaped) run owns — and points at —
        # the detail file; an --isolated run records to
        # BENCH_ISOLATED.json instead and carries no detail_file (the
        # pointer would name a DIFFERENT run's diagnostics)
        out["detail_file"] = os.path.basename(DETAIL_PATH)
        out = {k: out[k] for k in order if k in out}
        with open(DETAIL_PATH, "w") as f:
            json.dump(detail, f, indent=1)
    line = json.dumps(out)
    # hard guarantee, not a hope: the driver capture is 2000 chars
    assert len(line) < 1950, f"stdout line {len(line)} chars overflows the driver capture"
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
