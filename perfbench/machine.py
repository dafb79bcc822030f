"""Machine state, and the memory and CPU time of process trees, from ``/proc``.

Every result records the state the run saw: core count, load average
and a fixed CPU-bound sentinel timed at start, after set-up and at the
end, so a loaded run is visible in its own record instead of being
inferred later. The end-to-end CPU metrics are scaled by the sentinel
(``host_speed``): the same work then reads the same on a host whose
cores run faster or slower for a while.
"""

from __future__ import annotations

import hashlib
import os
import signal
import statistics
import threading
import time
from pathlib import Path

#: md5-chain length of the CPU sentinel
SENTINEL_ROUNDS = 1_000_000
#: sentinel seconds of the reference host the scaled metrics refer to
SENTINEL_REF_S = 0.5


def cpu_sentinel() -> float:
    """Wall seconds for a fixed chain of md5 digests: a single-core
    probe whose time grows when other processes take the CPU."""
    t0 = time.perf_counter()
    h = b"perfbench"
    for _ in range(SENTINEL_ROUNDS):
        h = hashlib.md5(h).digest()
    return time.perf_counter() - t0


def host_speed(sentinels: list[float]) -> float:
    """How much faster this host ran than the reference: the reference
    sentinel over the median of the run's sentinel samples."""
    return SENTINEL_REF_S / statistics.median(sentinels)


def load_1m() -> float:
    return os.getloadavg()[0]


def _status_kb(pid: int, field: str) -> int:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith(field + ":"):
                return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def hwm_mb(pid: int) -> float:
    """Peak resident set (``VmHWM``) of one live process, in MiB."""
    return _status_kb(pid, "VmHWM") / 1024.0


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_s(pid: int) -> float:
    """User plus system CPU seconds of one live process (0 once gone)."""
    try:
        stat = Path(f"/proc/{pid}/stat").read_text()
    except (FileNotFoundError, ProcessLookupError):
        return 0.0
    fields = stat[stat.rindex(")") + 2:].split()  # after "pid (comm) "
    return (int(fields[11]) + int(fields[12])) / _TICK  # utime, stime


def tree_cpu_s(pid: int) -> float:
    """CPU seconds of a process and its live descendants."""
    return sum(cpu_s(p) for p in [pid, *descendants(pid)])


def descendants(pid: int) -> list[int]:
    """All live descendants of ``pid`` (children, grandchildren, ...)."""
    out: list[int] = []
    todo = [pid]
    while todo:
        p = todo.pop()
        try:
            tasks = list(Path(f"/proc/{p}/task").iterdir())
        except (FileNotFoundError, ProcessLookupError):
            continue  # exited meanwhile
        for task in tasks:
            try:
                kids = (task / "children").read_text().split()
            except (FileNotFoundError, ProcessLookupError):
                continue
            for k in kids:
                out.append(int(k))
                todo.append(int(k))
    return out


def wait_ended(pids, timeout_s: float = 60.0) -> None:
    """Wait until every pid has exited (or is a zombie awaiting its
    reaper); kill those still running at the timeout."""
    def running(p: int) -> bool:
        try:
            stat = Path(f"/proc/{p}/stat").read_text()
        except (FileNotFoundError, ProcessLookupError):
            return False
        return stat[stat.rindex(")") + 2] != "Z"

    deadline = time.monotonic() + timeout_s
    left = [p for p in pids if running(p)]
    while left and time.monotonic() < deadline:
        time.sleep(0.05)
        left = [p for p in left if running(p)]
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass  # exited after the last check


class ProcTree:
    """Samples the ``VmHWM`` and CPU time of a process tree until stopped
    and keeps each process's last reading: both only grow, so the last
    read before a process exits is its peak memory and (to within one
    sampling interval) its CPU time."""

    def __init__(self, pid: int, interval_s: float = 0.1) -> None:
        self.pid = pid
        self.interval_s = interval_s
        self.peaks: dict[int, float] = {}
        self.cpu: dict[int, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        for p in [self.pid, *descendants(self.pid)]:
            mb = hwm_mb(p)
            if mb:
                self.peaks[p] = max(self.peaks.get(p, 0.0), mb)
                self.cpu[p] = max(self.cpu.get(p, 0.0), cpu_s(p))

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "ProcTree":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def total_mb(self) -> float:
        """The Python process plus its largest descendant, the Spark JVM
        (the short-lived launcher JVM that ``spark-submit`` runs first
        is smaller and never overlaps it)."""
        own = self.peaks.get(self.pid, 0.0)
        kids = [mb for p, mb in self.peaks.items() if p != self.pid]
        return own + max(kids, default=0.0)

    @property
    def total_cpu_s(self) -> float:
        return sum(self.cpu.values())
