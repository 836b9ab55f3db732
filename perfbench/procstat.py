"""Process-tree CPU and memory, and host labels, read from /proc.

The engine runs as this Python process plus a JVM child (spark-submit) and
the JVM's Python UDF workers.  "The program" for CPU purposes is every
descendant of this process: the JVM and its workers.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may contain spaces; fields after it start at index 2
    return raw[raw.rfind(")") + 2 :].split()


def descendants(root: int | None = None) -> list[int]:
    """Pids of every live descendant of ``root`` (default: this process)."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    f = _stat_fields(pid)
    return f is not None and f[0] != "Z"


def wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    """Wait until every pid has exited; SIGKILL what is left after
    ``timeout`` and wait for that too.  Raises if any still runs."""
    for kill in (False, True):
        t_end = time.monotonic() + timeout
        while time.monotonic() < t_end:
            left = [p for p in pids if _alive(p)]
            if not left:
                return
            if kill:
                for p in left:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
            time.sleep(0.1)
    raise RuntimeError(f"processes still running: {[p for p in pids if _alive(p)]}")


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user+sys, including reaped children) of all descendants.

    A worker that exits moves its time into its parent's cutime/cstime, so
    the sum stays monotonic across worker churn."""
    ticks = 0
    for pid in descendants(root):
        f = _stat_fields(pid)
        if f is not None:
            # utime, stime, cutime, cstime are fields 14-17 (1-based)
            ticks += sum(int(v) for v in f[11:15])
    return ticks / _TICK


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def workers_pss_mb(root: int | None = None) -> float:
    """Summed proportional set size of the Python processes below ``root``
    (the JVM's UDF daemon and the workers it forks): a page shared by n
    processes counts 1/n in each, so forked workers do not count the
    daemon's memory again.  The JVM itself is left out: its resident size
    follows the collector's heap sizing, not what the engine holds."""
    pids = [p for p in descendants(root) if _comm(p).startswith("python")]
    return sum(_pss_kb(p) for p in pids) / 2**10


class PeakSampler:
    """Background sampler of ``probe()``; ``peak`` is the largest value
    seen between start() and stop()."""

    def __init__(self, probe, interval: float = 0.2):
        self.probe = probe
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self.probe())
            self._stop.wait(self.interval)

    def start(self) -> "PeakSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        """Stop sampling (idempotent) and wait for the sampler thread."""
        self._stop.set()
        self._thread.join(timeout=5)


def steal_s() -> float:
    """Cumulative hypervisor steal seconds (first line of /proc/stat)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(v) for v in fh.read().split()[:3]]
