"""Host and session probes: process-tree memory, the Spark job floor, and
counters for state a repetition leaves behind in the session."""

from __future__ import annotations

import ctypes
import gc
import os
import re
import shutil
import signal
import statistics
import threading
import time


def descendants(root_pid: int) -> set[int]:
    """``root_pid`` and every process below it (for the benchmark: the
    Python driver, the Spark JVM it launched, and the JVM's Python
    workers), read from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        children.setdefault(int(stat.rsplit(")", 1)[1].split()[1]), []).append(int(entry))
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        for c in children.get(frontier.pop(), ()):
            if c not in tree:
                tree.add(c)
                frontier.append(c)
    return tree


def start_time(pid: int) -> int | None:
    """Start time of ``pid`` in clock ticks since boot, or None once it
    has exited; a (pid, start time) pair survives pid reuse."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    # a zombie has exited; only its parent's wait is outstanding
    return None if fields[0] == "Z" else int(fields[19])


def tree_rss_bytes(root_pid: int) -> int:
    """Resident memory of ``root_pid`` and all its descendants, summed.
    Read from /proc/<pid>/statm, which costs no page-table walk: reading
    smaps for PSS holds the JVM's memory-map lock while it walks a
    multi-GB heap, and at 10 samples a second that slowed the timed work
    itself. A page shared by forked workers counts once per process."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in descendants(root_pid):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:  # the process exited meanwhile
            continue
    return total


def become_subreaper() -> None:
    """Have processes below this one that lose their parent (the Spark
    JVM's Python workers, once the JVM exits) re-parented here rather
    than to init, so ``descendants`` still finds them and they can be
    waited for."""
    PR_SET_CHILD_SUBREAPER = 36
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap_children() -> None:
    """Collect the exit status of every child that has exited."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def wait_gone(procs: dict[int, int | None], timeout_s: float) -> dict[int, int | None]:
    """Poll until every (pid, start time) in ``procs`` has exited or
    ``timeout_s`` passes; return those still running."""
    deadline = time.monotonic() + timeout_s
    while True:
        alive = {p: t for p, t in procs.items() if t is not None and start_time(p) == t}
        if not alive or time.monotonic() >= deadline:
            return alive
        time.sleep(0.05)


def end_processes(procs: dict[int, int | None], timeout_s: float) -> dict[int, int | None]:
    """Wait for ``procs`` to exit; SIGTERM, then SIGKILL, those that
    outlive ``timeout_s``. Return any that survive even that."""
    alive = wait_gone(procs, timeout_s)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in alive:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        alive = wait_gone(alive, 5.0)
    return alive


class MemorySampler:
    """Background thread sampling the process tree's memory with
    ``time.perf_counter`` timestamps; ``peak_mb`` reads the maximum over
    a window, so work after the window (oracle checks) is excluded."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self._samples: list[tuple[float, int]] = []
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.wait(self.interval_s):
            sample = (time.perf_counter(), tree_rss_bytes(pid))
            with self._lock:
                self._samples.append(sample)

    def peak_mb(self, start: float, end: float) -> float:
        with self._lock:
            inside = [rss for t, rss in self._samples if start <= t <= end]
            self._samples = [s for s in self._samples if s[0] > end]
        return max(inside, default=0) / 2**20


def job_floor_s(sc, n_tasks: int, probes: int) -> float:
    """Median wall time of an empty ``parallelize(range(n), n).count()``:
    the fixed cost every Spark job pays, whatever its work."""
    times = []
    for _ in range(probes):
        t0 = time.perf_counter()
        sc.parallelize(range(n_tasks), n_tasks).count()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


_BROADCAST_BLOCK = re.compile(r"^broadcast_\d+$")


def _broadcast_blocks(sc) -> int:
    """Broadcast variables held by the driver's block manager (local mode
    keeps every executor's blocks there). Spark exposes no public count,
    so this reads the memory store's entry map by reflection."""
    store = sc._jvm.org.apache.spark.SparkEnv.get().blockManager().memoryStore()
    field = store.getClass().getDeclaredField("entries")
    field.setAccessible(True)
    # read between repetitions only: no task is adding blocks meanwhile
    ids = field.get(store).keySet().toArray()
    return sum(1 for b in ids if _BROADCAST_BLOCK.match(b.toString()))


class SessionState:
    """What a repetition may leave behind: persistent RDDs, broadcasts,
    ``gemini_*`` temp dirs and changed SQL confs. Construction records the
    baseline, ``leaks`` counts the differences from it, and ``restore``
    puts the session back so repetitions stay independent."""

    def __init__(self, spark, tmp_dir: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tmp_dir = tmp_dir
        self._settle()
        self.rdds = set(self._rdd_ids())
        self.broadcasts = _broadcast_blocks(self.sc)
        self.dirs = set(self._gemini_dirs())
        self.confs = dict(spark.conf.getAll)

    def _settle(self) -> None:
        # an unreferenced frame is released in steps: Python GC drops the
        # py4j handle, py4j tells the JVM on its next call, a JVM GC
        # collects the object, and Spark's ContextCleaner then unpersists
        # it; two rounds let that chain finish
        for _ in range(2):
            gc.collect()
            self.sc._jvm.System.gc()
            time.sleep(0.3)

    def _rdd_ids(self) -> list[int]:
        return [int(k) for k in self.sc._jsc.getPersistentRDDs().keySet().toArray()]

    def _gemini_dirs(self) -> list[str]:
        return [d for d in os.listdir(self.tmp_dir) if d.startswith("gemini_")]

    def _changed_confs(self) -> list[str]:
        now = dict(self.spark.conf.getAll)
        keys = set(now) | set(self.confs)
        return sorted(k for k in keys if now.get(k) != self.confs.get(k))

    def leaks(self) -> dict[str, int]:
        self._settle()
        return {
            "leak.persistent_rdds": len(set(self._rdd_ids()) - self.rdds),
            "leak.broadcasts": max(0, _broadcast_blocks(self.sc) - self.broadcasts),
            "leak.temp_dirs": len(set(self._gemini_dirs()) - self.dirs),
            "leak.sql_confs": len(self._changed_confs()),
        }

    def restore(self) -> None:
        rdds = self.sc._jsc.getPersistentRDDs()
        for rid in set(self._rdd_ids()) - self.rdds:
            rdds.get(rid).unpersist(False)
        self.spark.catalog.clearCache()
        for d in set(self._gemini_dirs()) - self.dirs:
            shutil.rmtree(os.path.join(self.tmp_dir, d), ignore_errors=True)
        for k in self._changed_confs():
            if k in self.confs:
                self.spark.conf.set(k, self.confs[k])
            else:
                self.spark.conf.unset(k)
