"""CPU and memory of the benchmark's process tree, read from /proc.

The tree is this interpreter (the Spark driver), the JVM it launches and
the Python worker daemon and workers the JVM forks. CPU is summed over
every live process, including the time of children each one has already
reaped, so a worker that exits between two readings still counts.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read_stat(pid: int) -> tuple[int, str, float, int] | None:
    """(ppid, comm, cpu seconds incl. reaped children, rss bytes)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    close = raw.rindex(")")
    comm = raw[raw.index("(") + 1:close]
    rest = raw[close + 2:].split()
    ticks = sum(int(x) for x in rest[11:15])   # utime stime cutime cstime
    return int(rest[1]), comm, ticks / _TICK, int(rest[21]) * _PAGE


def tree(root: int | None = None) -> dict[int, tuple[int, str, float, int]]:
    """Every process descended from ``root`` (default: this one)."""
    root = root or os.getpid()
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(st[0], []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def cpu_seconds() -> float:
    return sum(st[2] for st in tree().values())


def host_cpu() -> tuple[float, float]:
    """(all, stolen) CPU seconds of the whole machine since boot; stolen
    is time the hypervisor ran other guests while this machine's CPUs had
    work, which slows a run without showing in its own CPU time."""
    with open("/proc/stat", encoding="ascii") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return sum(ticks) / _TICK, ticks[7] / _TICK


def _kind(pid: int, comm: str, root: int) -> str:
    if pid == root:
        return "driver"
    if comm == "java":
        return "jvm"
    return "pyworker" if comm.startswith("python") else "other"


class PeakSampler:
    """Polls the tree's RSS in a thread while a ``with`` block runs and
    keeps the peaks: driver + JVM + Python workers summed, the JVM alone,
    all Python workers together, and the largest number of Python workers
    seen at once. Other processes are left out: they are short-lived
    forks of the JVM (Hadoop's ``chmod`` calls) whose RSS, until they
    exec, is the JVM's own pages counted a second time."""

    def __init__(self, period_s: float = 0.05):
        self.period_s = period_s
        self.peak = {"tree": 0, "jvm": 0, "pyworker": 0, "pyworkers": 0}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        root = os.getpid()
        sums = {"tree": 0, "jvm": 0, "pyworker": 0, "pyworkers": 0}
        for pid, (_, comm, _, rss) in tree(root).items():
            kind = _kind(pid, comm, root)
            if kind == "other":
                continue
            sums["tree"] += rss
            if kind != "driver":
                sums[kind] += rss
            if kind == "pyworker":
                sums["pyworkers"] += 1
        for k, v in sums.items():
            self.peak[k] = max(self.peak[k], v)

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def __enter__(self) -> "PeakSampler":
        self.sample()
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            state = f.read().rsplit(b")", 1)[1].split()[0]
    except OSError:
        return False
    return state not in (b"Z", b"X")


def wait_ended(pids, timeout_s: float = 20.0) -> list[int]:
    """Wait until every pid in ``pids`` has ended. Descendants outlive
    the JVM by being re-parented, so the caller lists them while the
    tree is still whole. Whatever is left after ``timeout_s`` is killed;
    returns those pids."""
    pids = [p for p in pids if p != os.getpid()]
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline and any(map(_alive, pids)):
        time.sleep(0.1)
    left = [p for p in pids if _alive(p)]
    for pid in left:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    end = time.monotonic() + 5
    while time.monotonic() < end and any(map(_alive, left)):
        time.sleep(0.05)
    return left
