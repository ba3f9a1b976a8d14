"""Measurement helpers shared by the workloads.

Everything here times or counts from outside the program: wall-clock
spans around calls into the package's public functions, the machine's
busy CPU time read from /proc/stat, Spark job groups the
benchmark sets itself, and the Spark status store (stage and task
metrics the driver keeps whether or not the UI is on). The run also
starts and stops its processes through here, so that none outlives it.
"""

from __future__ import annotations

import contextlib
import ctypes
import os
import signal
import statistics
import time
from collections import defaultdict
from collections.abc import Callable, Iterator


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives
    them; a single value is its own quartiles."""
    if len(values) == 1:
        v = float(values[0])
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def relative_spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2


class Ops:
    """Failure accounting: one record per operation (a chunk, a cycle,
    a registry entry). An operation whose output check fails counts as
    failed exactly like one that raised."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


@contextlib.contextmanager
def stopwatch() -> Iterator[list[float]]:
    """The one timing helper: ``with stopwatch() as t: ...`` leaves the
    elapsed wall-clock seconds in ``t[0]`` and the busy CPU seconds of
    the machine meanwhile (``busy_cpu_s``) in ``t[1]``, also when the
    body raises."""
    box = [0.0, 0.0]
    c0 = busy_cpu_s()
    t0 = time.perf_counter()
    try:
        yield box
    finally:
        box[0] = time.perf_counter() - t0
        box[1] = busy_cpu_s() - c0


class Tracer:
    """Nested wall-clock spans keyed by layer name.

    ``total[name]`` is the time inside spans of that name and
    ``self_time[name]`` the part of it not covered by child spans, so
    the self times of all layers add up to the time of the outermost
    spans. A disabled tracer records nothing and adds one attribute
    check per call."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.total: dict[str, float] = defaultdict(float)
        self.self_time: dict[str, float] = defaultdict(float)
        self.overhead_s = 0.0  # bookkeeping time, measured
        self._stack: list[list[float]] = []

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        frame = [0.0]  # time covered by child spans
        self._stack.append(frame)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            dur = t1 - t0
            self._stack.pop()
            self.total[name] += dur
            self.self_time[name] += dur - frame[0]
            if self._stack:
                self._stack[-1][0] += dur
            self.overhead_s += time.perf_counter() - t1

    def wrap(self, name: str, fn: Callable) -> Callable:
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced


@contextlib.contextmanager
def patched(owner: object, attr: str, value: object) -> Iterator[None]:
    """Temporarily replace ``owner.attr`` (a module global looked up at
    call time, or an instance method)."""
    old = getattr(owner, attr)
    setattr(owner, attr, value)
    try:
        yield
    finally:
        setattr(owner, attr, old)


# -- Spark-side accounting ---------------------------------------------


class JobGroups:
    """Tags Spark jobs with a job group per phase so they can be
    counted afterwards. Disabled, it sets no group at all."""

    def __init__(self, sc, enabled: bool, prefix: str) -> None:
        self.sc = sc
        self.enabled = enabled
        self.prefix = prefix
        self.overhead_s = 0.0  # time spent tagging, measured

    @contextlib.contextmanager
    def group(self, name: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        gid = f"{self.prefix}:{name}"
        t0 = time.perf_counter()
        self.sc.setJobGroup(gid, gid)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield
        finally:
            t0 = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.overhead_s += time.perf_counter() - t0

    def jobs(self, name: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(f"{self.prefix}:{name}"))


def stage_metrics(sc, group_prefix: str) -> dict[str, float]:
    """Stage/task totals of every job whose group starts with
    ``group_prefix``, read from the driver's status store (retention is
    raised at session start so nothing is evicted). Skipped stages did
    no work and are not counted."""
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    jobs = store.jobsList(None)
    stage_ids: set[int] = set()
    for i in range(jobs.size()):
        job = jobs.apply(i)
        group = job.jobGroup()
        if group.isDefined() and str(group.get()).startswith(group_prefix):
            ids = job.stageIds()
            stage_ids.update(int(ids.apply(k)) for k in range(ids.size()))
    empty = gw.jvm.java.util.ArrayList()
    stages = store.stageList(empty, False, False, gw.new_array(gw.jvm.double, 0), empty)
    out = {"spark.stages": 0, "spark.tasks": 0, "spark.executor_run_s": 0.0, "spark.shuffle_write_bytes": 0, "spark.spill_bytes": 0}
    for i in range(stages.size()):
        s = stages.apply(i)
        if int(s.stageId()) not in stage_ids or str(s.status()) != "COMPLETE":
            continue
        out["spark.stages"] += 1
        out["spark.tasks"] += int(s.numCompleteTasks())
        out["spark.executor_run_s"] += int(s.executorRunTime()) / 1000.0
        out["spark.shuffle_write_bytes"] += int(s.shuffleWriteBytes())
        out["spark.spill_bytes"] += int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled())
    return out


def persistent_rdd_ids(sc) -> set[int]:
    return {int(k) for k in sc._jsc.getPersistentRDDs().keySet()}


def drop_new_rdds(sc, before: set[int]) -> None:
    """Blocking unpersist of the RDDs persisted since ``before`` was
    taken -- and only those, so nothing a caller cached earlier is
    dropped."""
    rdds = sc._jsc.getPersistentRDDs()
    for rid in persistent_rdd_ids(sc) - before:
        rdds.get(rid).unpersist(True)


def dir_stats(path: str) -> tuple[int, int]:
    """(parquet data files, bytes of all files) under ``path``, leaving
    out checksum side files."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if not n.endswith(".crc"):
                files += n.endswith(".parquet")
                size += os.path.getsize(os.path.join(root, n))
    return files, size


# -- processes the run starts ------------------------------------------


def become_subreaper() -> bool:
    """Make this process the parent of every orphaned descendant (the
    Python workers of a Spark JVM that has exited), so that
    ``stop_children`` can wait for each of them. Linux only; returns
    False where the call is not available."""
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        return libc.prctl(36, 1, 0, 0, 0) == 0  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        return False


def _proc_stats() -> dict[int, list[str]]:
    """The fields of /proc/<pid>/stat after the command name, per
    process (field 3 of proc(5) is index 0); empty where there is no
    /proc."""
    out: dict[int, list[str]] = {}
    for entry in os.listdir("/proc") if os.path.isdir("/proc") else []:
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    out[int(entry)] = f.read().rsplit(")", 1)[1].split()
            except (OSError, IndexError):
                pass  # ended while we looked
    return out


def _descendants(stats: dict[int, list[str]], pid: int) -> list[int]:
    children: dict[int, list[int]] = defaultdict(list)
    for child, fields in stats.items():
        children[int(fields[1])].append(child)
    out: list[int] = []
    todo = [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            todo.append(child)
            out.append(child)
    return out


def live_descendants(pid: int) -> list[int]:
    """Every process below ``pid`` in the process tree that has not
    ended (zombies have ended)."""
    stats = _proc_stats()
    return [p for p in _descendants(stats, pid) if stats[p][0] != "Z"]


def busy_cpu_s() -> float:
    """CPU seconds this machine's CPUs have been busy since boot: user,
    nice, system, irq and softirq time from /proc/stat (0 where there
    is no /proc). Time the hypervisor stole is counted apart there and
    is not in it; per-process CPU times are not used because the
    kernel scales them to a run time that does include stolen time."""
    try:
        with open("/proc/stat") as f:
            fields = [int(v) for v in f.readline().split()[1:8]]
    except OSError:
        return 0.0
    user, nice, system, _idle, _iowait, irq, softirq = fields
    return (user + nice + system + irq + softirq) / os.sysconf("SC_CLK_TCK")


def stop_children(grace_s: float = 30.0) -> None:
    """Return only when every process this one started, and every
    process those started, has ended and no child is left unreaped.
    Whatever still runs after ``grace_s`` is sent SIGKILL."""
    deadline = time.monotonic() + grace_s
    while True:
        live = live_descendants(os.getpid())
        with contextlib.suppress(ChildProcessError):
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        if not live:
            return
        if time.monotonic() > deadline:
            for pid in live:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
        time.sleep(0.05)


def stop_spark_jvm(spark) -> None:
    """Stop the session and end its JVM: the py4j gateway server exits
    when its standard input closes. ``stop_children`` then waits for
    it and its Python workers. Never raises: a stop that fails (say on
    a gateway connection a signal broke mid-call) still ends the JVM."""
    from pyspark import SparkContext

    if spark is not None:
        with contextlib.suppress(Exception):
            spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None and proc.stdin is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()


def head_commit(root: str) -> str:
    """The checked-out commit, read from ``.git`` without running git;
    "unknown" outside a git work tree."""
    git = os.path.join(root, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        ref_file = os.path.join(git, ref)
        if os.path.exists(ref_file):
            with open(ref_file) as f:
                return f.read().strip()
        with open(os.path.join(git, "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"
