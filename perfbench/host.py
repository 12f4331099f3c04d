"""Host record and memory sampling, read from /proc.

The host record (nproc, loadavg, CPU steal) is written beside each run's
metrics so a reader can tell a noisy neighbour from a regression. It is
recorded only: no run is skipped, repeated or weighted by it.
"""

from __future__ import annotations

import os
import threading
import time
from pathlib import Path

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICKS = os.sysconf("SC_CLK_TCK")


def _cpu_times() -> tuple[int, int]:
    """(steal ticks, total ticks) from the aggregate cpu line of /proc/stat."""
    fields = [int(v) for v in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields[:8])


def process_age_s() -> float:
    """Seconds since this process started (field 22 of /proc/self/stat)."""
    start_ticks = int(Path("/proc/self/stat").read_text().rsplit(")", 1)[1].split()[19])
    uptime = float(Path("/proc/uptime").read_text().split()[0])
    return uptime - start_ticks / _TICKS


class HostRecord:
    """Snapshot at run start; :meth:`finish` adds the end snapshot and the
    steal share of all CPU time in between."""

    def __init__(self, master: str, driver_mem: str):
        self.steal0, self.total0 = _cpu_times()
        self.data = {
            "nproc": os.cpu_count(),
            "master": master,
            "driver_mem": driver_mem,
            "loadavg_start": os.getloadavg()[0],
            "steal_ticks_start": self.steal0,
        }

    def finish(self) -> dict:
        steal1, total1 = _cpu_times()
        dt = max(1, total1 - self.total0)
        self.data["loadavg_end"] = os.getloadavg()[0]
        self.data["steal_ticks_end"] = steal1
        self.data["steal_share"] = round((steal1 - self.steal0) / dt, 5)
        return self.data


def _descendants(root: int) -> list[int]:
    parent: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            ppid = int(Path(f"/proc/{d}/stat").read_text().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
        parent.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in parent.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        return int(Path(f"/proc/{pid}/statm").read_text().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


class PeakRss:
    """Samples the summed RSS of every descendant of this process — the
    Spark JVM and its Python workers — on a background thread."""

    def __init__(self, period_s: float = 0.5):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in _descendants(me)))
            self._stop.wait(self.period_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024 * 1024)



def wait_children(timeout_s: float = 60.0) -> list[int]:
    """Wait until every descendant process has ended; returns those still
    alive at the timeout."""
    deadline = time.monotonic() + timeout_s
    while (alive := _descendants(os.getpid())) and time.monotonic() < deadline:
        time.sleep(0.2)
    return alive
