"""Shared plumbing for the perfbench workloads.

Everything here lives outside the program: the Spark session is built
through the program's own ``session.get_spark`` and every number comes
from public surfaces (the streaming listener, Spark's status store,
``/proc``) or from spans the benchmark itself opens around calls into
the program.

Paths: the benchmark runs from the root of a checkout and keeps every
file it writes under ``perfbench/.run`` (scratch state, wiped per run)
and ``perfbench/.out`` (span files and the last untraced result, kept
so a traced run can report its overhead).
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from contextlib import contextmanager

ROOT = os.getcwd()
BENCH_DIR = os.path.join(ROOT, "perfbench")
RUN_DIR = os.path.join(BENCH_DIR, ".run")
OUT_DIR = os.path.join(BENCH_DIR, ".out")
DRIVER_MEM = "1g"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def import_program() -> None:
    """Put the checkout on sys.path and fail loudly when the program is
    not there (a directory holding only the benchmark must not pass)."""
    pkg = os.path.join(ROOT, "stream_cdc_spark", "__init__.py")
    if not os.path.isfile(pkg):
        raise SystemExit(
            f"perfbench: no stream_cdc_spark package under {ROOT}; "
            "run from the root of a checkout of the program"
        )
    sys.path.insert(0, ROOT)


def fresh_dir(*parts: str) -> str:
    path = os.path.join(RUN_DIR, *parts)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def start_spark(app_name: str):
    """local[nproc] session through the program's own builder, with every
    scratch location pinned inside the checkout."""
    tmp = fresh_dir("tmp")
    local = fresh_dir("spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    # the program's default 8g heap is more than any workload needs on a
    # host whose memory other jobs share; a 1g cap also keeps G1 from
    # growing the heap by pause timing (at 3g the JVM's resident size of
    # one cdc_full run varied 1.4-2.2 GB from run to run, at 1g 1.2-1.4 GB)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # no hsperfdata files under /tmp from the launcher or the driver JVM
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    from stream_cdc_spark.session import get_spark

    spark = get_spark(
        app_name=app_name,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(RUN_DIR, "warehouse"),
            # keep every job/stage of a run in the status store so the
            # traced run can attribute them to operations afterwards
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def phase(name: str, t0: float) -> float:
    """Log how long a run phase took (stderr) and return the current time."""
    now = time.time()
    print(f"perfbench phase {name}: {now - t0:.2f} s", file=sys.stderr, flush=True)
    return now


def stop_spark() -> None:
    """Stop the session, close the JVM gateway and wait until the JVM and
    every process under it (Python daemon, workers, source runners) has
    exited; anything still alive after the grace period is killed."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    tree = []
    if proc is not None:
        todo = [proc.pid]
        while todo:
            pid = todo.pop()
            tree.append(pid)
            todo.extend(_children(pid))
    if sc is not None:
        sc.stop()
    gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits on EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 20
    for pid in tree[1:]:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


# -- closed-loop ingest -----------------------------------------------------

class StagedLog:
    """An append-only input directory for a file-reading stream. ``n``
    files are written aside first (``write(k, path)``, mtimes in file
    order) and renamed in one at a time, so the source never sees a
    half-written file and generation stays out of the timed region."""

    def __init__(self, name: str, n: int, write):
        self.dir = fresh_dir(name, "log")
        stage = fresh_dir(name, "stage")
        self.staged = []
        t = time.time() - 10_000
        for k in range(n):
            path = os.path.join(stage, f"chunk-{k:05d}.parquet")
            write(k, path)
            os.utime(path, (t + k, t + k))
            self.staged.append(path)
        self.appended = 0

    def append(self) -> bool:
        if self.appended >= len(self.staged):
            return False
        src = self.staged[self.appended]
        os.replace(src, os.path.join(self.dir, os.path.basename(src)))
        self.appended += 1
        return True


def drive(listener, start, log: StagedLog, warm_chunks: int, seconds: float,
          min_chunks: int, backlog: int, chunks_done):
    """Run the stream ``start()`` returns over ``log`` as a closed loop,
    keeping up to ``backlog`` chunks waiting ahead of it. The first
    ``warm_chunks`` chunks warm the query up (JIT, codegen, Python
    workers, first plans); timing starts with the trigger after them.

    The timed part is ``min_chunks`` chunks, or more while the chunks
    already queued would not last ``seconds`` at the timed rate so far:
    a fixed amount of work whenever that takes ``seconds`` or longer,
    so a slow stretch of the host does not change what is measured.
    Once every appended chunk is committed (``chunks_done(progress
    rows)``) the query is stopped. Returns the warm-up and the timed
    progress rows (non-empty triggers) and the timed window (t0, t1)."""
    for _ in range(backlog):
        log.append()
    query = start()
    qid = str(query.id)
    t_start = time.time()
    t_warm = None

    def want_more(done: int, now: float) -> bool:
        if log.appended < warm_chunks + min_chunks:
            return True
        timed = done - warm_chunks
        if t_warm is None or timed <= 0:
            return False
        per_chunk = (now - t_warm) / timed
        return now + (log.appended - done) * per_chunk < t_warm + seconds

    try:
        while True:
            done = chunks_done(listener.for_query(qid))
            now = time.time()
            if t_warm is None and done >= warm_chunks:
                t_warm = now
            while (log.appended - done < backlog and want_more(done, now)
                   and log.append()):
                pass
            if done >= log.appended:
                break
            if query.exception() is not None:
                raise RuntimeError(f"stream failed: {query.exception()}")
            if now > t_start + 150:
                raise RuntimeError("stream did not drain its input in time")
            with listener.cond:
                listener.cond.wait(0.02)
    finally:
        query.stop()
    rows = [r for r in listener.for_query(qid) if r["rows"] > 0]
    warm, timed = rows[:warm_chunks], rows[warm_chunks:]
    t0 = trigger_window(timed[0])[0]
    t1 = max(trigger_window(r)[1] for r in timed)
    return warm, timed, t0, t1


# -- statistics -------------------------------------------------------------

def p50(xs) -> float:
    return float(statistics.median(xs))


def mean(xs) -> float:
    return float(statistics.fmean(xs))


def p90(xs) -> float:
    xs = list(xs)
    if len(xs) < 2:
        return float(xs[0])
    return float(statistics.quantiles(xs, n=10, method="inclusive")[8])


# -- memory -----------------------------------------------------------------

def _children(pid: int) -> list[int]:
    """Children of every thread of ``pid`` (the JVM forks from threads
    other than its main one)."""
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


class PeakMemory:
    """Peak resident memory of this Python driver and every process it
    started (the driver JVM, the Python daemon and its workers).

    A daemon thread samples the summed proportional set size (Pss) of the
    process tree every ``interval`` seconds. Pss divides each shared page
    among the processes that map it, so pages a forked worker shares with
    its parent count once, and a worker that exits before the end still
    counts while it lived. A child the JVM has just spawned shares the
    JVM's whole address space until it execs, which would count the JVM
    twice for that instant; the peak therefore takes the smaller of each
    two consecutive samples, which such an instant never spans."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_kb = 0
        self.parts: dict[str, int] = {}
        self._last: tuple[int, dict[str, int]] = (0, {})
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        total = 0
        parts: dict[str, int] = {}
        todo = [os.getpid()]
        while todo:
            pid = todo.pop()
            kb = _pss_kb(pid)
            total += kb
            kind = _comm(pid)
            parts[kind] = parts.get(kind, 0) + kb
            todo.extend(_children(pid))
        held = min(self._last, (total, parts), key=lambda x: x[0])
        self._last = (total, parts)
        if held[0] > self.peak_kb:
            self.peak_kb, self.parts = held

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def stop(self) -> float:
        """Stop sampling; return the peak in MB (the JVM and Python parts
        of the peak go to stderr)."""
        self._stop.set()
        self._thread.join()
        parts = ", ".join(f"{k} {v / 1024:.0f}" for k, v in sorted(self.parts.items()))
        print(f"perfbench peak pss MB: {self.peak_kb / 1024:.0f} ({parts})",
              file=sys.stderr, flush=True)
        return self.peak_kb / 1024.0


def tree_size_mb(path: str) -> float:
    n = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            try:
                n += os.path.getsize(os.path.join(dirpath, name))
            except OSError:
                pass
    return n / (1024.0 * 1024.0)


# -- spans ------------------------------------------------------------------

class Tracer:
    """In-memory spans (name, start, end, parent, run id). Disabled, a span
    is a bare ``yield``: the untraced run pays nothing but the call."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append({
                    "run": self.run_id, "id": sid, "parent": parent,
                    "name": name, "start": start, "end": end,
                })

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a version that runs inside a span."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)

    def self_ms(self) -> dict[str, list[float]]:
        """Per span name, each span's own time: its duration minus the
        durations of its direct children."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, list[float]] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out.setdefault(s["name"], []).append(own * 1000.0)
        return out

    def total_ms(self) -> dict[str, list[float]]:
        out: dict[str, list[float]] = {}
        for s in self.spans:
            out.setdefault(s["name"], []).append((s["end"] - s["start"]) * 1000.0)
        return out

    def write(self) -> str:
        os.makedirs(OUT_DIR, exist_ok=True)
        path = os.path.join(OUT_DIR, f"spans-{self.run_id}.jsonl")
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")
        return path


# -- streaming listener -----------------------------------------------------

def progress_listener(spark):
    """Attach a listener that keeps every progress event of every query
    (durationMs phases, input rows, end offset, wall window)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.rows: list[dict] = []
            self.cond = threading.Condition()

        def onQueryStarted(self, event):
            pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            row = {
                "query": str(p.id),
                "batch": p.batchId,
                "rows": p.numInputRows,
                "duration": dict(p.durationMs),
                "timestamp": p.timestamp,
                "end_offset": p.sources[0].endOffset if p.sources else None,
                "received": time.time(),
            }
            with self.cond:
                self.rows.append(row)
                self.cond.notify_all()

        def for_query(self, qid: str) -> list[dict]:
            with self.cond:
                return [r for r in self.rows if r["query"] == qid]

    listener = Progress()
    spark.streams.addListener(listener)
    return listener


def trigger_phase_ms(rows: list[dict], *keys: str, stat=p50) -> float:
    """``stat`` over triggers of the summed durationMs phases ``keys``."""
    return stat([sum(r["duration"].get(k, 0) for k in keys) for r in rows])


def trigger_window(row: dict) -> tuple[float, float]:
    """(start, end) epoch seconds of one trigger from its progress row."""
    from datetime import datetime, timezone

    ts = row["timestamp"].rstrip("Z")
    start = datetime.fromisoformat(ts).replace(tzinfo=timezone.utc).timestamp()
    return start, start + row["duration"].get("triggerExecution", 0) / 1000.0


# -- Spark status store -----------------------------------------------------

def _java_list(spark, seq):
    return spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def status_store(spark) -> dict:
    """Every job and completed stage the status store holds, as plain
    dicts with epoch-second windows (reachable with the UI off)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = []
    jl = _java_list(spark, store.jobsList(None))
    for i in range(jl.size()):
        j = jl.get(i)
        jobs.append({
            "id": j.jobId(),
            "start": _opt_ms(j.submissionTime()),
            "end": _opt_ms(j.completionTime()),
        })
    stages = []
    no_quantiles = spark.sparkContext._gateway.new_array(spark._jvm.double, 0)
    sl = _java_list(spark, store.stageList(None, False, False, no_quantiles, None))
    for i in range(sl.size()):
        s = sl.get(i)
        if str(s.status().toString()) != "COMPLETE":
            continue
        stages.append({
            "id": s.stageId(),
            "attempt": s.attemptId(),
            "start": _opt_ms(s.submissionTime()),
            "end": _opt_ms(s.completionTime()),
            "tasks": s.numCompleteTasks(),
            "run_ms": s.executorRunTime(),
            "cpu_ms": s.executorCpuTime() / 1e6,
            "shuffle_read": s.shuffleReadBytes(),
            "shuffle_write": s.shuffleWriteBytes(),
            "fetch_wait_ms": s.shuffleFetchWaitTime(),
            "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
        })
    return {"jobs": jobs, "stages": stages, "store": store, "spark": spark}


def task_skew(status: dict, stage: dict) -> float:
    """max / median task run time of one stage."""
    tl = _java_list(status["spark"], status["store"].taskList(stage["id"], stage["attempt"], 100000))
    d = []
    for i in range(tl.size()):
        m = tl.get(i).taskMetrics()
        if m.isDefined():
            d.append(m.get().executorRunTime())
    if not d:
        return 1.0
    med = statistics.median(d)
    return max(d) / med if med > 0 else 1.0


def attribute(status: dict, windows: list[tuple[float, float]]) -> list[dict]:
    """Per operation window: the jobs submitted and stages completed
    inside it (operations run one at a time, so windows do not overlap)."""
    out = []
    for lo, hi in windows:
        lo, hi = lo - 0.005, hi + 0.005
        jobs = [j for j in status["jobs"] if j["start"] is not None and lo <= j["start"] <= hi]
        stages = [s for s in status["stages"] if s["start"] is not None and lo <= s["start"] <= hi]
        out.append({"jobs": jobs, "stages": stages})
    return out


def spark_layer(status: dict, windows: list[tuple[float, float]]):
    """Mean per-operation Spark numbers over the given windows, and the
    per-window jobs/stages they came from."""
    per = attribute(status, windows)

    def med(f):
        return mean([f(o) for o in per])

    layer = {
        "spark.jobs_per_op": (med(lambda o: len(o["jobs"])), "count"),
        "spark.stages_per_op": (med(lambda o: len(o["stages"])), "count"),
        "spark.tasks_per_op": (med(lambda o: sum(s["tasks"] for s in o["stages"])), "count"),
        "spark.executor_run_ms_per_op": (med(lambda o: sum(s["run_ms"] for s in o["stages"])), "ms"),
        "spark.executor_cpu_ms_per_op": (med(lambda o: sum(s["cpu_ms"] for s in o["stages"])), "ms"),
    }
    return layer, per


def shuffle_bytes(o: dict) -> int:
    return sum(s["shuffle_read"] + s["shuffle_write"] for s in o["stages"])


# -- result line ------------------------------------------------------------

def emit(workload: str, trace: bool, attempted: int, failed: int,
         e2e: dict[str, tuple[float, str]], layers: dict[str, tuple[float, str]],
         report: dict[str, tuple[float, str]]) -> None:
    """Print the human-readable report, then the one-line result.

    ``report`` holds workload-specific numbers (named as the workload
    names them); the last line carries the BENCHMARK.json metric set:
    the end-to-end metrics untraced, the per-layer metrics traced."""
    for name, (value, unit) in list(e2e.items()) + list(report.items()):
        print(f"{workload}  {name} = {value:.6g} {unit}")
    if trace:
        for name, (value, unit) in layers.items():
            print(f"{workload}  [layer] {name} = {value:.6g} {unit}")
    chosen = layers if trace else e2e
    print(json.dumps({
        "correct": failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in chosen.items()},
    }))
    sys.stdout.flush()


def save_untraced(workload: str, seed: int, e2e: dict) -> None:
    os.makedirs(OUT_DIR, exist_ok=True)
    with open(os.path.join(OUT_DIR, f"last-{workload}.json"), "w") as f:
        json.dump({"seed": seed, "metrics": {k: v for k, (v, _) in e2e.items()}}, f)


def tracing_overhead(workload: str, e2e: dict) -> None:
    """Print the traced run's end-to-end numbers against the last
    untraced run of the same workload in this checkout."""
    try:
        with open(os.path.join(OUT_DIR, f"last-{workload}.json")) as f:
            base = json.load(f)["metrics"]
    except (OSError, ValueError, KeyError):
        print(f"{workload}  tracing overhead: no untraced run recorded in this checkout")
        return
    for name, (value, unit) in e2e.items():
        if name in base and base[name]:
            pct = 100.0 * (value - base[name]) / base[name]
            print(f"{workload}  tracing overhead {name}: traced {value:.6g} {unit} "
                  f"vs untraced {base[name]:.6g} {unit} ({pct:+.1f}%)")
