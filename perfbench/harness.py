"""Shared harness for the benchmark workloads.

Everything here sits outside the program under test: it starts the Spark
session through the package's own ``get_spark``, records spans around
calls into the package's public functions (traced runs only), reads
Spark's status tracker and REST API for per-unit job/stage/task counters,
samples host state, and computes the summary statistics.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, "perfbench", ".work")

#: Steps whose median is shorter than this never enter a median or
#: geomean of the end-to-end metrics; they are reported per layer only.
MIN_STEP_S = 0.010


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def ncpu() -> int:
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------

def median(values: list[float]) -> float:
    vals = sorted(values)
    if not vals:
        raise ValueError("median of an empty series")
    mid = len(vals) // 2
    return vals[mid] if len(vals) % 2 else (vals[mid - 1] + vals[mid]) / 2


def geomean(values: list[float]) -> float:
    if not values or min(values) <= 0:
        raise ValueError(f"geomean needs positive values, got {values}")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def step_geomean(step_series: dict[str, list[float]]) -> tuple[float, list[str]]:
    """Geometric mean of each step's median, leaving out steps whose
    median is below MIN_STEP_S. Returns (geomean, excluded step names)."""
    medians = {k: median(v) for k, v in step_series.items() if v}
    kept = [m for m in medians.values() if m >= MIN_STEP_S]
    excluded = sorted(k for k, m in medians.items() if m < MIN_STEP_S)
    return geomean(kept), excluded


# ---------------------------------------------------------------------------
# work directory and session
# ---------------------------------------------------------------------------

def make_work_dir(workload: str, seed: int) -> str:
    """A fresh per-run directory; everything the run writes lands here
    (and under the package's own .tmp build-once cache, which the
    workloads clean themselves)."""
    path = os.path.join(WORK_ROOT, f"{workload}-s{seed}-p{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(path, "tmp"))
    # Python-side temp files (py4j connection info, pyspark spill files)
    os.environ["TMPDIR"] = os.path.join(path, "tmp")
    import tempfile

    tempfile.tempdir = None
    return path


def remove_work_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    try:
        os.rmdir(WORK_ROOT)  # only when no other run is using it
    except OSError:
        pass


def session_conf(work: str) -> dict[str, str]:
    """Deployment settings the benchmark chooses: a fixed 2 GB driver heap
    (initial = maximum, so the JVM's resident size does not follow G1's
    run-to-run heap resizing) and every on-disk artefact (warehouse, Derby
    log and home, Spark local dirs, JVM temp) redirected into the run's
    work directory."""
    java_opts = " ".join(
        [
            "-Xms2g",
            f"-Dderby.stream.error.file={work}/derby.log",
            f"-Dderby.system.home={work}/derby-home",
            f"-Djava.io.tmpdir={work}/tmp",
        ]
    )
    return {
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": java_opts,
        "spark.sql.warehouse.dir": f"{work}/spark-warehouse",
        "spark.local.dir": f"{work}/spark-local",
        "spark.ui.showConsoleProgress": "false",
    }


# ---------------------------------------------------------------------------
# host state
# ---------------------------------------------------------------------------

def _cpu_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as fh:
        parts = fh.readline().split()
    vals = [int(x) for x in parts[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals[:8]), steal


@dataclass
class HostState:
    """load1 and CPU steal at the start and end of a run. ``contaminated``
    marks a run whose host was already saturated when it started (load1
    above the core count) or lost more than 2% of CPU time to steal, so a
    slow host can be told apart from a slow program."""

    load1_start: float = 0.0
    steal_start: tuple[int, int] = (0, 0)

    def start(self) -> None:
        self.load1_start = os.getloadavg()[0]
        self.steal_start = _cpu_jiffies()

    def finish(self) -> dict:
        total0, steal0 = self.steal_start
        total1, steal1 = _cpu_jiffies()
        steal_pct = 100.0 * (steal1 - steal0) / max(1, total1 - total0)
        load1_end = os.getloadavg()[0]
        return {
            "cpus": ncpu(),
            "load1_start": round(self.load1_start, 2),
            "load1_end": round(load1_end, 2),
            "steal_pct": round(steal_pct, 3),
            "contaminated": bool(
                self.load1_start > ncpu() or steal_pct > 2.0
            ),
        }


def peak_rss_mb(spark) -> tuple[float, float]:
    """(driver JVM, this Python process) peak resident set in MB."""

    def hwm_kb(pid: int | str) -> int:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        raise RuntimeError(f"no VmHWM for pid {pid}")

    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return hwm_kb(jvm_pid) / 1024.0, hwm_kb("self") / 1024.0


class CpuClock:
    """CPU seconds (user + system) used so far by the program: this Python
    process, the driver JVM's threads and every process below the JVM
    (the Python worker daemon and its workers, reaped ones included).

    Unlike wall time this does not grow while the host steals the CPUs
    from the container. ``read()`` leaves out the JVM's housekeeping
    threads (JIT compilers, garbage collectors, the VM thread), whose CPU
    follows JIT warm-up and heap sizing rather than the work of a unit;
    ``read(housekeeping=True)`` returns that part alone. JVM threads are
    read one by one and each keeps the CPU it was last seen with after it
    exits, so both parts only ever grow."""

    HOUSEKEEPING = ("C1 CompilerThre", "C2 CompilerThre", "GC Thread", "G1 ",
                    "VM Thread", "VM Periodic")

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.tick = os.sysconf("SC_CLK_TCK")
        self._threads: dict[int, tuple[bool, int]] = {}  # tid -> (housekeeping, ticks)

    @staticmethod
    def _stat(path: str) -> tuple[str, int, int, int] | None:
        """(comm, ppid, utime+stime ticks, cutime+cstime ticks) of a task."""
        try:
            with open(path) as fh:
                raw = fh.read()
        except OSError:
            return None
        head, tail = raw.rsplit(")", 1)
        f = tail.split()
        return (head.split("(", 1)[1], int(f[1]), int(f[11]) + int(f[12]),
                int(f[13]) + int(f[14]))

    def read(self, housekeeping: bool = False) -> float:
        task_dir = f"/proc/{self.jvm_pid}/task"
        for tid in os.listdir(task_dir):
            st = self._stat(f"{task_dir}/{tid}/stat")
            if st is not None:
                self._threads[int(tid)] = (st[0].startswith(self.HOUSEKEEPING), st[2])
        hk = sum(t for is_hk, t in self._threads.values() if is_hk)
        if housekeeping:
            return hk / self.tick
        total = sum(t for is_hk, t in self._threads.values() if not is_hk)
        procs = {}
        for pid in os.listdir("/proc"):
            if pid.isdigit():
                st = self._stat(f"/proc/{pid}/stat")
                if st is not None:
                    procs[int(pid)] = st
        children: dict[int, list[int]] = {}
        for pid, st in procs.items():
            children.setdefault(st[1], []).append(pid)
        total += procs.get(self.jvm_pid, (0, 0, 0, 0))[3]   # reaped children
        total += sum(procs.get(os.getpid(), (0, 0, 0, 0))[2:])
        todo = list(children.get(self.jvm_pid, []))
        while todo:
            pid = todo.pop()
            total += sum(procs[pid][2:])
            todo.extend(children.get(pid, []))
        return total / self.tick


# ---------------------------------------------------------------------------
# tracing: spans around calls into the package, plus Spark counters
# ---------------------------------------------------------------------------

class Tracer:
    """Spans and counts recorded from outside the program.

    ``wrap`` replaces a module or class attribute with a timing wrapper;
    the spans of one unit share the unit's id, and ``parent`` is the span
    open when the call started, so self time can be derived. Disabled
    tracers never patch anything and cost nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self.unit = -1
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "name": name,
            "unit": self.unit,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, n: float) -> None:
        if self.enabled:
            key = f"{self.unit}:{name}"
            self.counts[key] = self.counts.get(key, 0) + n

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        if not self.enabled:
            return
        original = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name):
                result = original(*args, **kwargs)
            if on_result is not None:
                on_result(result)
            return result

        wrapper.__wrapped__ = original
        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, original))

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def unit_totals(self, unit: int) -> dict[str, float]:
        """Total span seconds per name within one unit."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s["unit"] == unit and s["end"] is not None:
                out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
        return out

    def unit_counts(self, unit: int) -> dict[str, float]:
        prefix = f"{unit}:"
        return {
            k[len(prefix):]: v for k, v in self.counts.items()
            if k.startswith(prefix)
        }


class SparkProbe:
    """Per-group Spark counters for traced runs.

    Every step runs under its own job group, so the status tracker maps
    it to exactly its jobs; completed-stage metrics come from the UI REST
    API, and Catalyst phase times (analysis, optimization, planning) from
    a QueryExecutionListener that sees every Dataset action, eager ones
    inside frame construction included."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.catalyst_ms: dict[str, float] = {}
        self._group = ""
        self._group_start: dict[str, float] = {}
        if enabled:
            from pyspark.java_gateway import ensure_callback_server_started

            ensure_callback_server_started(self.sc._gateway)
            self._listener = _CatalystListener(self)
            spark._jsparkSession.listenerManager().register(self._listener)

    def set_group(self, group: str) -> None:
        """Label the jobs of the next step (a no-op when untraced)."""
        if self.enabled:
            # listener callbacks are asynchronous: drain them before the
            # label changes so each query execution is charged to its step
            self._flush()
            self._group = group
            # REST timestamps have millisecond resolution
            self._group_start[group] = time.time() - 0.001
            self.sc.setJobGroup(group, group)

    def _flush(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _rest(self, path: str):
        url = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=30) as resp:
            return json.load(resp)

    def collect(
        self, groups: list[str], wall_s: float
    ) -> tuple[dict[str, float], dict[str, dict[str, int]]]:
        """(counters summed over ``groups``, the steps of one unit;
        {group: {jobs, stages, tasks}} per step).

        A stage is charged to the latest step that started before the
        stage was submitted; stages a job merely skipped (computed by an
        earlier job, possibly in an earlier unit) are not charged again."""
        self._flush()
        tracker = self.sc.statusTracker()
        group_jobs: dict[str, list[int]] = {}
        candidates: dict[int, list[str]] = {}
        for g in groups:
            group_jobs[g] = list(tracker.getJobIdsForGroup(g))
            for jid in group_jobs[g]:
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info is not None else []):
                    candidates.setdefault(sid, []).append(g)
        job_ids = {j for js in group_jobs.values() for j in js}
        owner: dict[int, str] = {}
        by_id: dict[int, dict] = {}
        for s in self._rest("stages?status=complete"):
            sid = s["stageId"]
            if sid not in candidates or not s.get("submissionTime"):
                continue
            submitted = _rest_ts(s["submissionTime"])
            started = [g for g in candidates[sid]
                       if self._group_start.get(g, 0.0) <= submitted]
            if started:
                owner[sid] = max(started, key=lambda g: self._group_start[g])
                by_id[sid] = s
        stages = list(by_id.values())
        per_group = {
            g: {
                "jobs": len(group_jobs[g]),
                "stages": sum(1 for sid, og in owner.items() if og == g),
                "tasks": sum(by_id[sid].get("numCompleteTasks", 0)
                             for sid, og in owner.items() if og == g),
            }
            for g in groups
        }
        jobs = [j for j in self._rest("jobs") if j["jobId"] in job_ids]
        run_s = sum(s.get("executorRunTime", 0) for s in stages) / 1e3
        out = {
            "jobs": float(len(job_ids)),
            "stages": float(len(stages)),
            "tasks": float(sum(s.get("numCompleteTasks", 0) for s in stages)),
            "executor_run_s": run_s,
            "executor_cpu_s": sum(s.get("executorCpuTime", 0) for s in stages) / 1e9,
            "gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1e3,
            "shuffle_read_bytes": float(
                sum(s.get("shuffleReadBytes", 0) for s in stages)
            ),
            "shuffle_write_bytes": float(
                sum(s.get("shuffleWriteBytes", 0) for s in stages)
            ),
            "fetch_wait_s": sum(s.get("shuffleFetchWaitTime", 0) for s in stages) / 1e3,
            "spill_bytes": float(
                sum(s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
                    for s in stages)
            ),
            "core_util": run_s / max(1e-9, wall_s * ncpu()),
            "catalyst_s": sum(self.catalyst_ms.pop(g, 0.0) for g in groups) / 1e3,
            "driver_only_s": max(0.0, wall_s - _union_seconds(jobs)),
        }
        return out, per_group

    def close(self) -> None:
        if self.enabled:
            self.spark._jsparkSession.listenerManager().unregister(self._listener)


class _CatalystListener:
    """py4j implementation of org.apache.spark.sql.util.QueryExecutionListener."""

    def __init__(self, probe: SparkProbe):
        self.probe = probe

    def onSuccess(self, func_name, qe, duration_ns):
        self._record(qe)

    def onFailure(self, func_name, qe, exception):
        self._record(qe)

    def _record(self, qe):
        total = 0.0
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            total += it.next()._2().durationMs()
        group = self.probe._group
        self.probe.catalyst_ms[group] = self.probe.catalyst_ms.get(group, 0.0) + total

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _rest_ts(s: str) -> float:
    """Epoch seconds of a UI REST timestamp like 2026-01-01T10:00:00.123GMT."""
    from datetime import datetime

    return datetime.strptime(
        s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z"
    ).timestamp()


def _union_seconds(jobs: list[dict]) -> float:
    """Length of the union of the jobs' [submission, completion] spans."""
    spans = sorted(
        (_rest_ts(j["submissionTime"]), _rest_ts(j["completionTime"]))
        for j in jobs if j.get("submissionTime") and j.get("completionTime")
    )
    total, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class Unit:
    """One measured unit: a pass, a changed cycle or an idle poll."""

    index: int
    kind: str
    phase: str                      # cold | warmup | timed
    wall_s: float = 0.0
    steps: dict[str, float] = field(default_factory=dict)
    cpu_s: float = 0.0
    cpu_steps: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    groups: list[str] = field(default_factory=list)   # job group per step
    counts: dict[str, float] = field(default_factory=dict)
    spark: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
