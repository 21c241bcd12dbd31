"""/proc probes for the driver, the JVM and the pyspark.daemon tree.

CPU seconds come from /proc/<pid>/stat through tools/cpu_bench.py's
readers (utime+stime), plus the reaped children's cutime+cstime for the
daemon, whose forked workers may have exited. I/O bytes come from
/proc/<pid>/io (rchar/wchar: bytes moved through read/write calls,
page-cache hits included), RSS from /proc/<pid>/status.
"""

from __future__ import annotations

import os
import sys
import threading
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
# the repository's /proc readers: utime+stime, child pids, process name
from cpu_bench import _TICK, _children as children, _comm as comm, _stat_cpu  # noqa: E402


def _read(path: str) -> str:
    try:
        with open(path) as fh:
            return fh.read()
    except OSError:  # the process exited between listing and reading
        return ""


def reaped_children_cpu_s(pid: int) -> float:
    """cutime+cstime: CPU seconds of the children `pid` has reaped (the
    forked Python workers that already exited), which cpu_bench's
    utime+stime reader does not count."""
    raw = _read(f"/proc/{pid}/stat")
    if not raw:
        return 0.0
    f = raw.rsplit(") ", 1)[1].split()
    return (int(f[13]) + int(f[14])) / _TICK


def rss_bytes(pid: int) -> int:
    for line in _read(f"/proc/{pid}/status").splitlines():
        if line.startswith("VmRSS:"):
            return int(line.split()[1]) * 1024
    return 0


def io_bytes(pid: int) -> tuple[int, int]:
    """(rchar, wchar) of one process."""
    vals = dict(line.split(": ") for line in _read(f"/proc/{pid}/io").splitlines() if ": " in line)
    return int(vals.get("rchar", 0)), int(vals.get("wchar", 0))


def cpu_times_s() -> tuple[float, float]:
    """(all vCPU time, stolen time) since boot from /proc/stat: the share
    of vCPU time the host gave to other guests."""
    f = [int(x) for x in _read("/proc/stat").split("\n", 1)[0].split()[1:]]
    return sum(f[:8]) / _TICK, f[7] / _TICK


def descendants(pid: int) -> list[int]:
    out, stack = [], children(pid)
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children(p))
    return out


def cmdline(pid: int) -> str:
    return _read(f"/proc/{pid}/cmdline").replace("\0", " ")


class Processes:
    """The three process groups the benchmark measures."""

    def __init__(self, driver_pid: int, jvm_pid: int):
        self.driver = driver_pid
        self.jvm = jvm_pid
        self._daemon: int | None = None
        self._scanned = float("-inf")

    def daemon(self) -> int | None:
        """The pyspark.daemon child of the JVM, once it exists. Listing the
        JVM's children reads a file per JVM thread, so a miss is retried
        at most once a second."""
        if self._daemon is not None and os.path.exists(f"/proc/{self._daemon}"):
            return self._daemon
        now = time.monotonic()
        if now - self._scanned >= 1.0:
            self._scanned = now
            self._daemon = next((p for p in children(self.jvm) if "pyspark.daemon" in cmdline(p)), None)
        return self._daemon

    def pyworkers(self) -> list[int]:
        """The pyspark.daemon process and every worker it forked."""
        d = self.daemon()
        return [d, *descendants(d)] if d else []

    def cpu(self) -> dict[str, float]:
        """CPU seconds so far; the daemon's include its reaped workers."""
        workers = self.pyworkers()
        py = sum(map(_stat_cpu, workers)) + (reaped_children_cpu_s(workers[0]) if workers else 0.0)
        return {"driver": _stat_cpu(self.driver), "jvm": _stat_cpu(self.jvm), "pyworker": py}

    def io(self) -> tuple[int, int]:
        return io_bytes(self.jvm)

    def rss(self) -> int:
        return sum(rss_bytes(p) for p in [self.driver, self.jvm, *self.pyworkers()])


class PeakRss:
    """Background sampler of the summed RSS; `peak` is the maximum seen
    between start() and stop()."""

    def __init__(self, procs: Processes, interval_s: float = 0.05):
        self.procs, self.interval = procs, interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self):
        while True:
            self.peak = max(self.peak, self.procs.rss())
            if self._stop.wait(self.interval):
                return

    def start(self):
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)
        self._thread.start()

    def stop(self) -> int:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.peak = max(self.peak, self.procs.rss())
        return self.peak
