"""Measurement plumbing shared by the workloads.

- the Spark session, fitted to the host through ``session.get_spark``;
- process CPU and peak memory read from ``/proc``, JVM GC time from
  the GC MXBeans;
- the tracer: spans kept in memory, written out at exit;
- the per-unit harvest of Spark's status store under a job group that
  is unique to the unit (a shared group would count a unit's jobs into
  every later unit).
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import tempfile
import time

#: Everything a run writes lives under this directory of the checkout.
WORK_ROOT = ".perfbench"

_CLK_TCK = os.sysconf("SC_CLK_TCK")


# -- host -------------------------------------------------------------

def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_mb() -> int:
    """An eighth of host memory, between 1 and 4 GiB: room for every
    workload's inputs while leaving the host to the Python side and to
    other tenants."""
    return max(1024, min(4096, host_mem_bytes() // 8 // (1 << 20)))


# -- session ------------------------------------------------------------

def start_session(work_dir: str, trace: bool):
    """Start Spark the way users get it (``get_spark`` defaults) at
    ``local[nproc]`` with a host-sized heap and the UI off. Scratch
    files go under ``work_dir``. Returns (spark, seconds until the
    first action finished)."""
    from twitter_analysis_spark.session import get_spark

    # Measure the engine's own defaults, not an ambient override.
    os.environ.pop("SPARK_GRAFT_EXTRA_CONF", None)
    os.environ.pop("SPARK_GRAFT_ATTACH_EXISTING", None)
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # the launcher JVM that spark-submit starts first: no hsperfdata
    # file in /tmp either
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    conf = {
        "spark.driver.memory": f"{driver_heap_mb()}m",
        # no hsperfdata file in /tmp: a run writes only inside its checkout
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # Harvest happens after every unit; the largest unit (one
        # dedup_clusters_star row) runs ~120 stages. Retention is
        # checked per harvest (``missing_stages``), not assumed.
        conf["spark.ui.retainedStages"] = "1000"
        conf["spark.ui.retainedJobs"] = "1000"
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{host_cpus()}]",
                      extra_conf=conf)
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark, end the JVM and wait for every child process."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=timeout)
    # the next ``get_spark`` launches a fresh JVM
    from pyspark import SparkContext
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while _descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


# -- /proc ----------------------------------------------------------------

def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, user+sys CPU seconds incl. reaped children)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks = sum(int(x) for x in fields[11:15])
        out[int(name)] = (int(fields[1]), ticks / _CLK_TCK)
    return out


def _descendants(root: int, table=None) -> list[int]:
    table = table or _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_seconds() -> float:
    """CPU of this process and every descendant (the driver JVM, which
    in local mode also runs the executors, and its Python workers)."""
    table = _proc_table()
    me = os.getpid()
    return sum(table[p][1] for p in [me, *_descendants(me, table)]
               if p in table)


def peak_rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def jvm_memory_mb(spark) -> dict[str, float]:
    """Heap committed now, and heap in use after a full collection."""
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    committed = bean.getHeapMemoryUsage().getCommitted()
    jvm.java.lang.System.gc()
    live = bean.getHeapMemoryUsage().getUsed()
    return {"jvm_heap_committed_mb": committed / (1 << 20),
            "jvm_live_heap_mb": live / (1 << 20)}


def jvm_jit_ms(spark) -> int:
    """Time the JIT compiler threads have spent compiling."""
    return int(spark._jvm.java.lang.management.ManagementFactory
               .getCompilationMXBean().getTotalCompilationTime())


def jvm_gc_ms(spark) -> int:
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(int(b.getCollectionTime()) for b in beans)


# -- tracing ---------------------------------------------------------------

_NULL = contextlib.nullcontext()


class Tracer:
    """Spans (name, start, end, parent index, unit id) kept in memory.

    Disabled, ``span`` returns a shared no-op context, so an untraced
    run pays one attribute test per call site."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []
        self.unit: str | None = None
        self._stack: list[int] = []

    def span(self, name: str):
        return self._span(name) if self.enabled else _NULL

    @contextlib.contextmanager
    def _span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, time.perf_counter(), None, parent,
                           self.unit])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def durations_ms(self, name: str) -> list[float]:
        return [(s[2] - s[1]) * 1e3 for s in self.spans if s[0] == name]

    def self_times_ms(self) -> dict[str, float]:
        """Per span name: total duration minus the part its direct
        children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s[3] is not None:
                child[s[3]] += s[2] - s[1]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s[0]] = out.get(s[0], 0.0) + (s[2] - s[1] - child[i]) * 1e3
        return out

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": [
                {"name": n, "start": a, "end": b, "parent": p, "unit": u}
                for n, a, b, p, u in self.spans],
                "self_ms": self.self_times_ms(), **extra}, f)


# -- Spark status store -------------------------------------------------

#: Counter name -> StageData accessors summed over a unit's stages.
STAGE_COUNTERS = {
    "executor_run_ms": ("executorRunTime",),
    "executor_cpu_ms": ("executorCpuTime",),          # ns, scaled below
    "input_bytes": ("inputBytes",),
    "output_bytes": ("outputBytes",),
    "shuffle_write_bytes": ("shuffleWriteBytes",),
    "shuffle_read_bytes": ("shuffleLocalBytesRead", "shuffleRemoteBytesRead"),
    "spill_bytes": ("memoryBytesSpilled", "diskBytesSpilled"),
}
SPARK_COUNTERS = ("jobs", "stages", "tasks", *STAGE_COUNTERS)


class StageHarvest:
    """Reads the status store for the jobs of one job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.store = self._jsc.statusStore()
        self.missing_stages = 0
        self._n = 0

    def begin(self, label: str) -> str:
        self._n += 1
        group = f"perfbench-{self._n}-{label}"
        self.sc.setJobGroup(group, label)
        return group

    def collect(self, group: str) -> dict[str, float]:
        from py4j.protocol import Py4JJavaError

        self._jsc.listenerBus().waitUntilEmpty(30_000)
        out = dict.fromkeys(SPARK_COUNTERS, 0)
        tracker = self.sc.statusTracker()
        for job in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(job)
            for sid in (info.stageIds if info else []):
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Py4JJavaError:   # evicted from the store
                    self.missing_stages += 1
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                for name, getters in STAGE_COUNTERS.items():
                    out[name] += sum(getattr(sd, g)() for g in getters)
        out["executor_cpu_ms"] /= 1e6
        return out


class Probe:
    """What a workload reports through: the tracer, and in a traced
    run the job groups of the current unit, harvested once the unit's
    timer has stopped."""

    def __init__(self, spark, tracer: Tracer, trace: bool):
        self.tracer = tracer
        self.harvest = StageHarvest(spark) if trace else None
        self._pending: list[tuple[str, str]] = []

    @contextlib.contextmanager
    def jobs(self, label: str):
        """Spark work of one part of a unit, under its own job group."""
        if self.tracer.enabled:
            self._pending.append((label, self.harvest.begin(label)))
        yield

    def collect(self) -> dict[str, dict]:
        """label -> counters for the groups of the unit just run."""
        out = {label: self.harvest.collect(g) for label, g in self._pending}
        self._pending.clear()
        self.harvest.sc.setJobGroup("perfbench-untraced", "untraced")
        return out


# -- statistics ----------------------------------------------------------

def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> dict:
    """The highest percentile with ten samples beyond it (nearest
    rank), when that percentile lies above the median."""
    if len(xs) < 20:
        return {}
    return {"tail_pct": 100 * (len(xs) - 10) / len(xs),
            "tail_ms": sorted(xs)[len(xs) - 11], "samples": len(xs)}


def mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0
