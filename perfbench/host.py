"""Host facts and a resident-memory sampler over the driver's process tree."""

from __future__ import annotations

import os
import signal
import threading
import time


def cpu_count() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def loadavg_1m() -> float:
    return os.getloadavg()[0]


def cpu_ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks since boot; stolen ticks went to other guests."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return sum(fields), fields[7] if len(fields) > 7 else 0


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time, in percent, the host gave to other guests
    between two :func:`cpu_ticks` readings."""
    total = after[0] - before[0]
    return 100.0 * (after[1] - before[1]) / total if total else 0.0


def mem_total_mb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def git_commit(root: str) -> str | None:
    """The checked-out commit, read from ``.git`` without running git."""
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if not ref.startswith("ref: "):
            return ref
        with open(os.path.join(root, ".git", ref[5:])) as fh:
            return fh.read().strip()
    except OSError:
        return None


def hwm_mb(pid: int) -> float:
    """Peak resident memory of one process so far (its VmHWM), in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024
_TICKS_PER_S = os.sysconf("SC_CLK_TCK")


def _processes() -> dict[int, tuple[int, int, int, str, int]]:
    """pid -> (parent pid, resident kB, CPU ticks incl. reaped children,
    command name, start time in ticks since boot) for every process in /proc."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                head, _, tail = fh.read().rpartition(")")
        except OSError:
            continue
        fields = tail.split()
        ticks = sum(int(x) for x in fields[11:15])
        comm = head.partition("(")[2]
        out[int(name)] = (int(fields[1]), int(fields[21]) * _PAGE_KB, ticks, comm, int(fields[19]))
    return out


def tree(root: int, procs: dict[int, tuple[int, int, int, str, int]]) -> list[int]:
    """``root`` and all its live descendants (Spark's Python daemon and workers)."""
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_cpu_seconds(root: int) -> float:
    """CPU seconds used so far by ``root`` and its descendants, counting
    children they have already reaped."""
    procs = _processes()
    return sum(procs[p][2] for p in tree(root, procs) if p in procs) / _TICKS_PER_S


class CpuMeter:
    """CPU seconds of one measured stretch: the driver process (less the
    RSS sampler's thread) plus the JVM and its descendants. A reading's own
    /proc scan stays outside the driver figure: :meth:`start` reads the
    driver last and :meth:`since` reads it first."""

    def __init__(self, jvm_pid: int, sampler: RssSampler):
        self.jvm_pid = jvm_pid
        self.sampler = sampler

    def _driver(self) -> float:
        return time.process_time() - self.sampler.cpu_s

    def start(self) -> tuple[float, float]:
        return tree_cpu_seconds(self.jvm_pid), self._driver()

    def since(self, start: tuple[float, float]) -> float:
        driver = self._driver()
        return tree_cpu_seconds(self.jvm_pid) - start[0] + driver - start[1]


class RssSampler:
    """Samples the summed RSS of this process, the JVM and the JVM's Python
    descendants (Spark's daemon and workers) every ``interval`` seconds;
    ``peak_mb`` is the largest sum seen. Other descendants are helpers the
    JVM spawns for a moment (a ``vfork``ed child briefly reports the JVM's
    whole resident set), so they are not counted. Every process ever seen
    is kept (pid -> start time) so the caller can wait for them. ``cpu_s`` is the CPU time the
    sampling thread has used, as of its last sample."""

    def __init__(self, jvm_pid: int, interval: float = 0.2):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak_kb = 0
        self.seen: dict[int, int] = {}
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        procs = _processes()
        pids = tree(self.jvm_pid, procs)
        self.seen.update((p, procs[p][4]) for p in pids if p in procs)
        counted = [os.getpid(), self.jvm_pid, *(p for p in pids if procs[p][3].startswith("python"))]
        self.peak_kb = max(self.peak_kb, sum(procs[p][1] for p in counted if p in procs))

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()
            self.cpu_s = time.thread_time()

    def start(self) -> RssSampler:
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def _alive(pid: int, start: int) -> bool:
    """Whether the process ``pid`` that started at ``start`` still runs."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return False
    return fields[0] != "Z" and int(fields[19]) == start


def wait_gone(seen: dict[int, int], timeout: float = 60.0) -> list[int]:
    """Wait until none of the processes in ``seen`` (pid -> start time) is
    alive; kill the ones still alive after ``timeout`` and return them."""
    deadline = time.monotonic() + timeout
    alive = [p for p in seen if _alive(p, seen[p])]
    while alive and time.monotonic() < deadline:
        time.sleep(0.05)
        alive = [p for p in alive if _alive(p, seen[p])]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    deadline = time.monotonic() + 10.0
    while any(_alive(p, seen[p]) for p in alive) and time.monotonic() < deadline:
        time.sleep(0.05)
    return alive
