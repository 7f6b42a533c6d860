"""Shared machinery: the run context, Spark's per-stage counters, spans,
and the statistics every workload reports.

Layers are measured from outside the program. A span times one call into
a module's public function and, when tracing is on, runs it under its own
Spark job group; on exit it sums the counters of every stage of that group
from the status store (``lastStageAttempt``), which works with the UI off.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import platform
import shutil
import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: Directory (relative to the checkout root) for everything a run writes.
WORK_DIR = ".perfbench"

#: Stage counters summed per span; times in ms.
COUNTERS = ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
            "jvm_gc_ms", "shuffle_bytes", "input_bytes")


class BenchFailure(RuntimeError):
    """A pass did not start from its fixed starting state."""


def source_hash(package_dir: str) -> str:
    """sha1 over every ``.py`` file of the package (path + bytes), so a
    parent checkout and a change checkout never share build-once
    artifacts."""
    h = hashlib.sha1()
    for dirpath, dirnames, filenames in os.walk(package_dir):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, package_dir).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 0


def effective_cores() -> int:
    """Cores this process may run on (affinity), capped by a cgroup CPU
    quota when one is set."""
    n = len(os.sched_getaffinity(0))
    try:
        with open("/sys/fs/cgroup/cpu.max") as f:
            quota, period = f.read().split()
        if quota != "max":
            n = min(n, max(1, math.ceil(int(quota) / int(period))))
    except (OSError, ValueError):
        pass
    return n


def prepare_environment(root: str) -> str:
    """Point every scratch location of the program into the checkout and
    size the session like the Tier-1 command does; returns the work dir.
    Must run before the JVM starts: the JVM and its Python workers inherit
    this environment."""
    work = os.path.join(root, WORK_DIR)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    shutil.rmtree(local, ignore_errors=True)  # left over by a killed run
    os.makedirs(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(work, "warehouse")
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    bench_dir = os.path.dirname(os.path.abspath(__file__))
    paths = [root, bench_dir] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(dict.fromkeys(paths))
    set_tmpdir(tmp)
    return work


def set_tmpdir(path: str) -> None:
    """Move the driver-side temp dir, where the program keeps its
    build-once artifacts, to ``path``."""
    import tempfile

    os.makedirs(path, exist_ok=True)
    os.environ["TMPDIR"] = path
    tempfile.tempdir = None  # re-read TMPDIR


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (q in 0..100)."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def geomean(values) -> float:
    xs = [v for v in values if v > 0]
    return math.exp(sum(map(math.log, xs)) / len(xs)) if xs else 0.0


def median(values) -> float:
    return statistics.median(values) if values else 0.0


# ---------------------------------------------------------------------------
# Spark counters and spans
# ---------------------------------------------------------------------------


def wait_listener_bus(spark, timeout_ms: int = 10_000) -> None:
    """Stage counters reach the status store through the listener bus, so
    drain it before reading them."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)


def stage_totals(spark, group: str) -> dict:
    """Sum the counters of every stage of every job in job group ``group``."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(COUNTERS, 0)
    seen = set()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        out["jobs"] += 1
        for sid in info.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — stage never submitted (skipped)
                continue
            if sd.numTasks() == 0 or str(sd.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["executor_run_ms"] += sd.executorRunTime()
            out["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
            out["jvm_gc_ms"] += sd.jvmGcTime()
            out["shuffle_bytes"] += sd.shuffleWriteBytes()
            out["input_bytes"] += sd.inputBytes()
    return out


@dataclass
class Span:
    name: str
    parent: str | None
    start: float
    end: float = 0.0
    group: str | None = None  # the span's job group, its id in the trace
    counters: dict = field(default_factory=dict)

    @property
    def wall_ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """Spans around calls into the program's layers. Disabled, a span only
    times the call; enabled, it also runs the call under its own job group
    and reads that group's stage counters afterwards. Spans are kept in
    memory and written out once, at the end of the run."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[str] = []
        self._n = 0

    @contextmanager
    def span(self, name: str):
        sp = Span(name, self._stack[-1] if self._stack else None, time.perf_counter())
        if not self.enabled:
            try:
                yield sp
            finally:
                sp.end = time.perf_counter()
            return
        sc = self.spark.sparkContext
        self._n += 1
        group = sp.group = f"perfbench-{self._n}"
        sc.setJobGroup(group, name)
        self._stack.append(group)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(self._stack[-1], "perfbench")
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            wait_listener_bus(self.spark)
            sp.counters = stage_totals(self.spark, group)
            self.spans.append(sp)

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "name": s.name, "id": s.group, "parent": s.parent, "start": s.start,
                    "end": s.end, "wall_ms": round(s.wall_ms, 3), **s.counters,
                }) + "\n")


def layer_metrics(spans: list[Span], prefix: str, keys, per: str = "call") -> dict:
    """Per-layer figures from a list of spans: the median per call
    (``per="call"``), or the median over passes of each pass's sum
    (``per="pass"``; spans then carry a ``pass`` counter)."""
    if not spans:
        return {f"{prefix}.{k}": 0.0 for k in keys}

    def fig(s: Span) -> dict:
        c = s.counters
        return {
            "wall_ms": s.wall_ms,
            "executor_cpu_ms": c.get("executor_cpu_ms", 0.0),
            "offcpu_ms": max(c.get("executor_run_ms", 0.0) - c.get("executor_cpu_ms", 0.0), 0.0),
            "jvm_gc_ms": c.get("jvm_gc_ms", 0.0),
            "shuffle_bytes": c.get("shuffle_bytes", 0.0),
            "input_bytes": c.get("input_bytes", 0.0),
            "jobs": c.get("jobs", 0.0),
        }

    if per == "pass":
        by_pass: dict[int, dict] = {}
        for s in spans:
            acc = by_pass.setdefault(s.counters.get("pass", 0), {})
            for k, v in fig(s).items():
                acc[k] = acc.get(k, 0.0) + v
        rows = list(by_pass.values())
    else:
        rows = [fig(s) for s in spans]
    return {f"{prefix}.{k}": median([r[k] for r in rows]) for k in keys}


# ---------------------------------------------------------------------------
# run context and result
# ---------------------------------------------------------------------------


@dataclass
class Run:
    root: str
    workload: str
    seed: int
    seconds: float
    trace: bool
    size: str
    t_start: float
    inject: str | None = None
    work: str = ""
    spark: object = None
    tracer: Tracer | None = None
    get_spark_ms: float = 0.0
    record: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    checks: list = field(default_factory=list)

    def check(self, name: str, ok: bool, detail=None) -> None:
        """Record one output check; a failed check fails the run."""
        self.checks.append({"check": name, "ok": bool(ok), "detail": detail})
        if not ok:
            self.failed += 1

    def probe_cpu(self) -> None:
        """Record the best of three timings of a fixed pure-Python loop: a
        gauge of the host's speed at that moment, kept in the record (not
        a metric) to tell a slow host from a slow program."""
        best = math.inf
        for _ in range(3):
            t0 = time.perf_counter()
            x = 0
            for i in range(300_000):
                x += i * i
            best = min(best, time.perf_counter() - t0)
        self.record.setdefault("cpu_probe_ms", []).append(round(best * 1000.0, 3))

    def host(self) -> dict:
        sc = self.spark.sparkContext
        jvm = sc._jvm
        return {
            "nproc": os.cpu_count(),
            "effective_cores": effective_cores(),
            "mem_total_mb": mem_total_mb(),
            "driver_heap_max_mb": jvm.java.lang.Runtime.getRuntime().maxMemory() // (1 << 20),
            "default_parallelism": sc.defaultParallelism,
            "spark": self.spark.version,
            "java": jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
        }


def start_session(run: Run) -> None:
    """Start the program's own session, timing ``get_spark``."""
    from binance_data_pipeline_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{run.workload}")
    run.get_spark_ms = (time.perf_counter() - t0) * 1000.0
    spark.sparkContext.setLogLevel("ERROR")
    run.spark = spark


def memory_peaks(spark) -> dict:
    """Driver JVM resident-set peak (VmHWM) and summed heap-pool peaks."""
    jvm = spark.sparkContext._jvm
    rss = 0.0
    try:
        pid = jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    rss = int(line.split()[1]) / 1024.0
    except OSError:
        pass
    heap = 0
    mf = jvm.java.lang.management.ManagementFactory
    for pool in mf.getMemoryPoolMXBeans():
        if str(pool.getType()) == "Heap memory":
            heap += pool.getPeakUsage().getUsed()
    return {"session.driver_rss_peak_mb": rss, "session.jvm_heap_peak_mb": heap / (1 << 20)}


def warm_up(run_pass, passes: int) -> list[float]:
    """Untimed warm-up: ``passes`` runs of the timed sequence. Returns
    their walls in seconds, kept in the record to show where the JIT
    curve stands when timing starts."""
    walls: list[float] = []
    for _ in range(passes):
        t0 = time.perf_counter()
        run_pass()
        walls.append(time.perf_counter() - t0)
    return walls


def emit(run: Run, e2e: dict, layers: dict | None) -> None:
    """Write the full record under the work dir and print the result line
    (last line of stdout)."""
    from metrics import UNITS

    correct = run.failed == 0 and bool(run.checks) and all(c["ok"] for c in run.checks)
    values = layers if run.trace else e2e
    metrics = {k: {"value": float(v), "unit": UNITS[k]} for k, v in values.items()}
    record = {
        "workload": run.workload, "seed": run.seed, "seconds": run.seconds,
        "trace": run.trace, "size": run.size, **run.record,
        "checks": run.checks, "end_to_end": e2e, "per_layer": layers,
    }
    out = os.path.join(run.work, "results", f"{run.workload}-s{run.seed}-t{int(run.trace)}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({"record": out, "warmup_passes": run.record.get("warmup_passes"),
                      "cache_hit": run.record.get("cache_hit")}))
    sys.stdout.flush()
    print(json.dumps({"correct": correct, "attempted": max(run.attempted, 1),
                      "failed": run.failed, "metrics": metrics}))

