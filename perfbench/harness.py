"""Measurement plumbing shared by the workloads.

Everything here observes the program from outside: it times calls into the
package's public functions, diffs Spark's AppStatusStore, reads
``QueryPlanningTracker`` phases and samples ``/proc``. Nothing in the
package is patched.
"""

from __future__ import annotations

import math
import os
import re
import sys
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return quantile(values, 0.5)


def geomean(values) -> float:
    xs = [v for v in values if v > 0]
    return math.exp(sum(math.log(v) for v in xs) / len(xs)) if xs else float("nan")


# ---------------------------------------------------------------------------
# box stamps
# ---------------------------------------------------------------------------


def _steal_jiffies() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def _burn(stop_t: float) -> None:
    while time.perf_counter() < stop_t:
        pass


def steal_precheck(window_s: float = 0.25) -> dict:
    """Steal jiffies/s on an idle window, then with every core spinning —
    the method of ``bench.py``'s pre-check, on a shorter window."""
    import multiprocessing as mp

    s0 = _steal_jiffies()
    time.sleep(window_s)
    idle = _steal_jiffies() - s0
    stop_t = time.perf_counter() + window_s
    s0 = _steal_jiffies()
    procs = [mp.Process(target=_burn, args=(stop_t,)) for _ in range(os.cpu_count() or 1)]
    for p in procs:
        p.start()
    for p in procs:
        p.join()
    loaded = _steal_jiffies() - s0
    return {
        "window_s": window_s,
        "idle_jps": round(idle / window_s, 1),
        "loaded_jps": round(loaded / window_s, 1),
    }


def cpu_probe_ms(n: int = 2_000_000) -> float:
    """Wall time of a fixed pure-Python loop: host throttling that the steal
    counter does not show still shows here."""
    t = time.perf_counter()
    x = 0
    for i in range(n):
        x += i
    return 1000 * (time.perf_counter() - t)


def box_stamp() -> dict:
    return {
        "nproc": os.cpu_count(),
        "loadavg": list(os.getloadavg()),
        "cpu_probe_ms": cpu_probe_ms(),
        "steal_precheck": steal_precheck(),
        "steal_jiffies": _steal_jiffies(),
    }


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------


def descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid``, from the ppid field of /proc."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    todo, out = list(kids.get(pid, [])), []
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def memory_mb(spark) -> tuple[dict[str, float], dict[str, float]]:
    """Peak memory of the run, as per-layer metrics, and the JVM's pools.

    Resident peaks (VmHWM from ``/proc``) are summed over this process and
    every live descendant: the driver JVM, the Python workers and any
    generator still running. The JVM's own accounting comes over py4j: each
    memory pool's peak used bytes."""
    rss = python = 0.0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        mb = _hwm_kb(pid) / 1024.0
        rss += mb
        try:
            with open(f"/proc/{pid}/comm") as f:
                python += mb if f.read().strip() != "java" else 0.0
        except OSError:
            pass
    mf = spark._jvm.java.lang.management.ManagementFactory
    pools, heap = {}, 0.0
    for pool in mf.getMemoryPoolMXBeans():
        peak = pool.getPeakUsage().getUsed() / 2**20
        pools[pool.getName()] = peak
        heap += peak if pool.getType().toString() == "Heap memory" else 0.0
    return {
        "mem.peak_rss_mb": rss,
        "mem.python_peak_rss_mb": python,
        "mem.jvm_heap_peak_mb": heap,
        "mem.jvm_old_gen_peak_mb": sum(v for k, v in pools.items() if "Old Gen" in k),
    }, pools


# ---------------------------------------------------------------------------
# Spark session
# ---------------------------------------------------------------------------


def start_spark(work: str, cores: int, java_opts: str = ""):
    """Start the program's own session factory with every scratch location
    under ``work``, and the package importable from Python workers.
    ``java_opts`` are added to the driver JVM's options."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    import tempfile

    tempfile.tempdir = tmp
    from streamroom_bigdata_spark.session import get_spark

    return get_spark(
        "perfbench",
        cpus=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {java_opts}",
        },
    )


class StatusStore:
    """Deltas of Spark's AppStatusStore over ranges of job ids.

    Job ids are dense and increasing, so the jobs an operation ran are the
    ids between two reads of the job count (single-threaded callers) or the
    ids of its job group (concurrent callers)."""

    FIELDS = ("executorCpuTime", "shuffleReadBytes", "shuffleWriteBytes",
              "memoryBytesSpilled", "diskBytesSpilled", "jvmGcTime", "inputRecords")

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext._jsc.sc()
        self.store = self.sc.statusStore()

    def settle(self) -> None:
        self.sc.listenerBus().waitUntilEmpty()

    def job_count(self) -> int:
        """Jobs the store knows of; callers settle the bus first."""
        return self.store.jobsList(None).size()

    def group_jobs(self, group: str) -> list[int]:
        self.settle()
        return list(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))

    def jobs_delta(self, job_ids) -> dict:
        out = {"jobs": 0, "tasks": 0, "stages": 0, **{k: 0 for k in self.FIELDS}}
        seen = set()
        for jid in job_ids:
            job = self.store.job(int(jid))
            out["jobs"] += 1
            for sid in re.findall(r"\d+", job.stageIds().toString()):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self.store.lastStageAttempt(int(sid))
                except Exception:  # stage never submitted
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                for k in self.FIELDS:
                    out[k] += getattr(st, k)()
        return out


_PHASE = re.compile(r"(\w+) -> PhaseSummary\((\d+), (\d+)\)")


def tracker_phases_ms(df) -> dict[str, float]:
    """``QueryPlanningTracker`` phase durations of ``df``'s query execution
    (analysis, optimization, planning), read through ``toString`` because
    the accessors are not exposed over py4j."""
    text = df._jdf.queryExecution().tracker().phases().toString()
    return {name: float(int(end) - int(start)) for name, start, end in _PHASE.findall(text)}


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, trace id), written out
    with the run's artifact. Disabled tracers record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0

    @contextmanager
    def span(self, name: str, trace_id: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            self._next += 1
            sid = self._next
        parent = stack[-1] if stack else None
        rec = {"id": sid, "name": name, "parent": parent["id"] if parent else None,
               "trace": trace_id or (parent["trace"] if parent else str(sid)),
               "start": time.time(), **attrs}
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()
            with self._lock:
                self.spans.append(rec)


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)
