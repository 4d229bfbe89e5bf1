"""Measurement plumbing for the benchmark: the Spark session, the drain that
runs after every job, process-tree CPU and memory readings, and the span
tracer that turns Spark's status store into per-layer numbers.

Nothing here imports pyspark at module load, so the workload generators and
the self-tests can use this module without a JVM.
"""

from __future__ import annotations

import gc
import os
import signal
import sys
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")
DRIVER_MEMORY = "2g"
# How long the drain may take to free every persisted RDD before it fails
# the run.
DRAIN_TIMEOUT_S = 10.0


# ---------------------------------------------------------------------------
# process tree: CPU seconds and peak resident memory, read from /proc


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may contain spaces: fields start after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(pids: list[int] | None = None) -> float:
    """User+system CPU seconds of the process tree, including reaped
    children (their time lands in the parent's cutime/cstime)."""
    total = 0
    for pid in pids if pids is not None else tree_pids():
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat(5)
            total += sum(int(v) for v in fields[11:15])
    return total / _CLK_TCK


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def tree_cpu_split(pids: list[int] | None = None) -> dict[str, float]:
    """CPU seconds of the tree split into this process (``client``), the
    JVM (``jvm``) and every other process, which are the engine's Python
    workers (``python_workers``)."""
    me = os.getpid()
    out = {"client": 0.0, "jvm": 0.0, "python_workers": 0.0}
    for pid in pids if pids is not None else tree_pids():
        part = "client" if pid == me else "jvm" if _comm(pid) == "java" else "python_workers"
        out[part] += tree_cpu_s([pid])
    return out


def python_pids(pids: list[int]) -> list[int]:
    """The tree's processes that are not the JVM."""
    return [p for p in pids if _comm(p) != "java"]


def reset_hwm(pids: list[int]) -> None:
    """Reset the peak resident size (VmHWM) of ``pids`` to their current
    resident size (proc(5), ``clear_refs``)."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass  # the process has exited


def tree_hwm_mb(pids: list[int] | None = None) -> float:
    """Sum of the peak resident set size (VmHWM) over ``pids``."""
    total_kb = 0
    for pid in pids if pids is not None else tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def heap_max_mb(spark) -> float:
    return spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory() / (1024.0 * 1024.0)


class HeapPeak:
    """Peak JVM heap a job kept beyond the young generation, from the heap
    memory pools' MXBeans.

    The heap is pinned, so the JVM's resident size is the configured heap
    whatever a job needs, and eden's peak is the young-generation size the
    collector chose whenever a collection ran. The other heap pools
    (survivor, old generation) hold what outlived a young collection and
    the large arrays allocated there directly. :meth:`read_mb` sums their
    peaks since the last :meth:`reset`. G1 starts reclaiming the old
    generation once it holds 70% of the heap (see :func:`start_session`),
    so for jobs that allocate more, this figure levels off near that
    share."""

    def __init__(self, spark):
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self.pools = [
            p
            for p in mf.getMemoryPoolMXBeans()
            if p.getType().toString() == "Heap memory" and "Eden" not in p.getName()
        ]

    def reset(self) -> None:
        for p in self.pools:
            p.resetPeakUsage()

    def read_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed() for p in self.pools) / (1024.0 * 1024.0)


def jvm_busy_s(spark) -> dict[str, float]:
    """Cumulative JIT compilation and garbage collection time of the JVM,
    to show whether warm-up ended (JIT) and what the drains cost (GC)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(max(0, b.getCollectionTime()) for b in mf.getGarbageCollectorMXBeans())
    return {"jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1e3, "gc_s": gc_ms / 1e3}


def load_average() -> list[float]:
    return [round(v, 2) for v in os.getloadavg()]


def host_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine from /proc/stat:
    steal is time the hypervisor gave this machine's CPUs to others."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    return fields[7], sum(fields)


# ---------------------------------------------------------------------------
# session


def work_env(workdir: str) -> None:
    """Point every scratch file Python, the JVM and Spark write at
    ``workdir``; must run before pyspark starts the JVM."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    # the launcher JVM spark-submit starts first would write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def start_session(workdir: str, cores: int):
    """A session pinned to ``local[cores]`` with ``cores`` shuffle
    partitions, built through the engine's own session factory."""
    from uda_spark.session import get_spark

    os.environ["PYSPARK_PYTHON"] = sys.executable
    tmp = os.path.join(workdir, "tmp")
    # A fixed-size heap: the drain's full GC after every job must not
    # shrink the heap and leave the next job to grow it again. A fixed
    # old-generation threshold for G1's concurrent cycle: with the adaptive
    # one, which the drain's full GCs skew, some runs lowered it and ran
    # terasort with 50% more CPU for the whole run.
    java_opts = (
        f"-Xms{DRIVER_MEMORY} -XX:-G1UseAdaptiveIHOP -XX:InitiatingHeapOccupancyPercent=70"
        f" -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    )
    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": java_opts,
            "spark.local.dir": os.path.join(workdir, "local"),
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _alive(pid: int) -> bool:
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"


def stop_session(spark, timeout_s: float = 30.0) -> None:
    """Stop Spark, shut the JVM down and wait until every process this
    process started has exited, the Python workers too, which outlive the
    JVM for a moment (SIGKILL after ``timeout_s``)."""
    from pyspark import SparkContext

    started = [p for p in tree_pids() if p != os.getpid()]
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None and proc.stdin is not None:
        proc.stdin.close()  # the gateway server exits when its stdin ends
    deadline = time.monotonic() + timeout_s
    while True:
        if proc is not None:
            proc.poll()  # reaps the JVM once it has exited
        alive = [p for p in started if _alive(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + timeout_s
        time.sleep(0.05)


def drain(spark, tracer) -> int:
    """Free everything a finished job left behind, so that its cleanup
    cannot land inside the next job.

    The drain releases the engine's tracked persists and clears the SQL
    cache. It then drops dead Python-side JVM handles and requests a JVM
    GC, which lets the ContextCleaner free untracked ``localCheckpoint``
    blocks. Spark keeps the last few checkpoints of a job reachable until
    a similar job replaces them, so the drain then unpersists, blocking,
    every RDD that is still persisted. It returns how many RDDs needed
    that, and raises if blocks remain after ``DRAIN_TIMEOUT_S``."""
    from uda_spark.cache import release_persisted

    with tracer.span("cache.release_persisted"):
        release_persisted()
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    jsc = spark.sparkContext._jsc
    forced = 0
    deadline = time.monotonic() + DRAIN_TIMEOUT_S
    while True:
        left = jsc.getPersistentRDDs()
        if left.isEmpty():
            return forced
        if time.monotonic() > deadline:
            raise RuntimeError(f"drain: {left.size()} RDDs still persisted")
        for rdd in list(left.values()):
            rdd.unpersist(True)
            forced += 1
        del left


# ---------------------------------------------------------------------------
# tracing

SPAN_FIELDS = (
    ("self_s", "s"),
    ("jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("shuffle_write_mb", "MB"),
    ("shuffle_read_mb", "MB"),
    ("exec_cpu_s", "s"),
)
# Recorded per span and in the trace file, not declared as metrics: spill
# and executor GC time stay 0 while a job fits the pinned heap's young
# generation (the drain collects after every job); the stage times show how
# much of a span the engine's stages fill.
_MB = 1024.0 * 1024.0
EXTRA_FIELDS = (  # (field, counter, divisor)
    ("spill_mb", "spill", _MB),
    ("gc_s", "gc_ms", 1e3),
    ("stage_s", "stage_ms", 1e3),
    ("shuffle_stage_s", "shuffle_stage_ms", 1e3),
)


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    """Total length of the union of [start, end) intervals."""
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


class Tracer:
    """In-memory spans around the benchmark's calls into each layer.

    Disabled, :meth:`span` is an empty context manager.  Enabled, each span
    gets its own Spark job group, so :meth:`collect` can read the jobs and
    stages it ran from the status store once the benchmark job is over,
    outside its timer.  Spans are kept in memory and written once at exit.
    """

    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self.job = None  # index of the benchmark job in progress
        self._stack: list[dict] = []
        self._plans: list = []
        self._pending: list[dict] = []
        self.exchanges = 0  # shuffle exchanges in the last job's noted plans

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "job": self.job,
            "group": f"perfbench-{len(self.spans)}",
        }
        self.spans.append(rec)
        self._pending.append(rec)
        self._stack.append(rec)
        sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                sc.setJobGroup(parent["group"], parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def note_plan(self, df) -> None:
        """Remember a DataFrame whose action the job ran, so its executed
        plan's exchanges can be counted after the job."""
        if self.enabled:
            self._plans.append(df)

    def collect(self) -> None:
        """Attach Spark counters to the spans of the finished job and count
        the exchanges of its noted plans.  Runs outside every timer."""
        if not self.enabled:
            return
        from uda_spark.plans.explain import count_exchanges

        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        for rec in self._pending:
            ids = sorted(tracker.getJobIdsForGroup(rec["group"]))
            rec["spark_jobs"] = ids
            stats = dict.fromkeys(
                ("stages", "tasks", "shuffle_write", "shuffle_read", "spill", "cpu_ns", "gc_ms"),
                0,
            )
            # wall-clock intervals of the span's stages, all and those that
            # write or read shuffle data, to tell engine work from overhead
            intervals: dict[str, list] = {"stage": [], "shuffle_stage": []}
            for jid in ids:
                sids = store.job(jid).stageIds()
                for i in range(sids.size()):
                    attempts = store.stageData(sids.apply(i), False, None, False, None)
                    for a in range(attempts.size()):
                        st = attempts.apply(a)
                        if st.status().toString() != "COMPLETE":
                            continue  # skipped stages reuse earlier shuffle output
                        stats["stages"] += 1
                        stats["tasks"] += st.numCompleteTasks()
                        stats["shuffle_write"] += st.shuffleWriteBytes()
                        stats["shuffle_read"] += st.shuffleReadBytes()
                        stats["spill"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                        stats["cpu_ns"] += st.executorCpuTime()
                        stats["gc_ms"] += st.jvmGcTime()
                        if st.submissionTime().isDefined() and st.completionTime().isDefined():
                            iv = (
                                st.submissionTime().get().getTime(),
                                st.completionTime().get().getTime(),
                            )
                            intervals["stage"].append(iv)
                            if st.shuffleWriteBytes() or st.shuffleReadBytes():
                                intervals["shuffle_stage"].append(iv)
            stats["stage_ms"] = _union_ms(intervals["stage"])
            stats["shuffle_stage_ms"] = _union_ms(intervals["shuffle_stage"])
            rec["counters"] = stats
        self._pending = []
        self.exchanges = sum(count_exchanges(df) for df in self._plans)
        self._plans = []

    def layer_totals(self, by_job: bool = False) -> dict:
        """Per span name, or per (job, span name) with ``by_job``, the
        SPAN_FIELDS and EXTRA_FIELDS totals over all spans.  Self time is
        the span's duration minus its children's."""
        child_s: dict[int, float] = {}
        for rec in self.spans:
            if rec["parent"] is not None:
                child_s[rec["parent"]] = child_s.get(rec["parent"], 0.0) + (
                    rec["end"] - rec["start"]
                )
        out: dict[str, dict[str, float]] = {}
        for rec in self.spans:
            c = rec.get("counters", {})
            key = (rec["job"], rec["name"]) if by_job else rec["name"]
            t = out.setdefault(key, dict.fromkeys((f for f, _ in SPAN_FIELDS), 0.0))
            t["self_s"] += rec["end"] - rec["start"] - child_s.get(rec["id"], 0.0)
            t["jobs"] += len(rec.get("spark_jobs", ()))
            t["stages"] += c.get("stages", 0)
            t["tasks"] += c.get("tasks", 0)
            t["shuffle_write_mb"] += c.get("shuffle_write", 0) / _MB
            t["shuffle_read_mb"] += c.get("shuffle_read", 0) / _MB
            t["exec_cpu_s"] += c.get("cpu_ns", 0) / 1e9
            for field, key, div in EXTRA_FIELDS:
                t[field] = t.get(field, 0.0) + c.get(key, 0) / div
        return out
