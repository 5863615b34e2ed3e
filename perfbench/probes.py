"""Measurements taken from outside the engine: the process tree's
memory and CPU, the host, the JVM's GC and JIT counters, Spark's
status store, and the span recorder used by traced runs."""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def calib_ms() -> float:
    """A fixed pure-Python loop; its time tracks how fast the host runs
    single-threaded code right now."""
    t = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i % 7
    return (time.perf_counter() - t) * 1000.0


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    """This process and every descendant (JVM, Python workers)."""
    root = os.getpid() if root is None else root
    kids, out, todo = _children(), [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes mapping it. Summed over a tree it counts a page
    once, where RSS would count a forked child's copy-on-write pages (a
    JVM spawning a Python worker, the worker daemon forking workers)
    again for every process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_mem_bytes() -> int:
    """Resident memory of the process tree (sum of PSS)."""
    return sum(_pss_bytes(pid) for pid in tree_pids())


def tree_cpu_s() -> float:
    """User+system CPU seconds of the live process tree."""
    total = 0
    for pid in tree_pids():
        f = _stat_fields(pid)
        if f:
            total += int(f[11]) + int(f[12])
    return total / _TICK


def process_start_epoch() -> float:
    """Wall-clock time this process was started by the kernel."""
    with open("/proc/stat") as fh:
        btime = next(int(ln.split()[1]) for ln in fh if ln.startswith("btime"))
    return btime + int(_stat_fields(os.getpid())[19]) / _TICK


class MemSampler:
    """Samples the process tree's resident memory on a background
    thread; `peak_mb` is the largest sampled sum."""

    def __init__(self, period_s: float = 0.5):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_mem_bytes())
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_mem_bytes())

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024 * 1024)


def jvm_gc_jit_ms(spark) -> tuple[float, float]:
    """Cumulative JVM GC time and JIT compile time, from the MXBeans."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return float(gc), float(mf.getCompilationMXBean().getTotalCompilationTime())


def _opt_ms(opt) -> float | None:
    return float(opt.get().getTime()) if opt.isDefined() else None


class JobProbe:
    """Per-group job, stage and task counters from Spark's status store
    (works with the UI disabled). Reading them waits for the listener
    bus, so only traced runs use it."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()

    def drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty(10_000)

    def jobs(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def description(self, job_id: int) -> str:
        desc = self.jsc.statusStore().job(job_id).description()
        return desc.get() if desc.isDefined() else ""

    def stats(self, job_ids) -> dict:
        store = self.jsc.statusStore()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "input_records": 0,
               "shuffle_write_bytes": 0, "shuffle_write_records": 0,
               "spill_bytes": 0, "task_ms": 0.0, "job_spans": []}
        for jid in job_ids:
            jd = store.job(jid)
            out["jobs"] += 1
            start, end = _opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())
            if start is not None and end is not None:
                out["job_spans"].append((start, end))
            it = jd.stageIds().iterator()
            while it.hasNext():
                try:
                    sd = store.lastStageAttempt(it.next())
                except Exception:  # noqa: BLE001  (stage evicted or never submitted)
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["input_records"] += sd.inputRecords()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["shuffle_write_records"] += sd.shuffleWriteRecords()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["task_ms"] += sd.executorRunTime()
        return out


class Tracer:
    """Spans kept in memory and written out once at the end. Each span
    has a name, start and end (ms since the run started), its parent
    span's id and the id of the op it belongs to."""

    def __init__(self, enabled: bool, t0: float):
        self.enabled = enabled
        self.t0 = t0
        self.spans: list[dict] = []

    def now(self) -> float:
        return (time.perf_counter() - self.t0) * 1000.0

    def add(self, name: str, op: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int | None:
        if not self.enabled:
            return None
        sid = len(self.spans)
        self.spans.append({"id": sid, "op": op, "name": name, "start": start,
                           "end": end, "parent": parent, **attrs})
        return sid


def environment(spark, cpus: int) -> dict:
    """What a result depends on besides the code: core budget, heap,
    versions and the commit (None outside a git checkout)."""
    import duckdb  # noqa: PLC0415
    import pyspark  # noqa: PLC0415

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    commit = None
    if os.path.isdir(os.path.join(root, ".git")):  # not a parent's repo
        try:
            commit = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                text=True, timeout=10).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    conf = spark.sparkContext.getConf()
    jvm = spark.sparkContext._jvm
    return {
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "cpus_used": cpus,
        "nproc": len(os.sched_getaffinity(0)),
        "os_cpu_count": os.cpu_count(),
        "driver_heap": conf.get("spark.driver.memory"),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark": pyspark.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "duckdb": duckdb.__version__,
        "commit": commit,
    }
