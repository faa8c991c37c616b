"""CPU and resident-memory readings for the Python driver and its JVM.

In Spark local mode the driver and every executor thread live in one
JVM, so that JVM plus this Python process is the whole engine. Readings
come from ``/proc``.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _proc_cpu_s(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _TICK  # utime + stime


def _rss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmRSS:"):
                return int(line.split()[1])
    return 0


class Engine:
    """CPU seconds and peak RSS of {this process, the JVM}.

    ``peak_rss_mb`` is the largest summed RSS seen by a 20 ms sampler
    since the last :meth:`reset_peak`."""

    def __init__(self, jvm_pid: int, interval_s: float = 0.02):
        self.pids = (os.getpid(), jvm_pid)
        self.interval_s = interval_s
        self._peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)

    def __enter__(self) -> "Engine":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def cpu_s(self) -> float:
        return sum(_proc_cpu_s(p) for p in self.pids)

    def rss_kb(self) -> int:
        return sum(_rss_kb(p) for p in self.pids)

    def reset_peak(self) -> None:
        self._peak_kb = self.rss_kb()

    @property
    def peak_rss_mb(self) -> float:
        return max(self._peak_kb, self.rss_kb()) / 1024.0

    def _sample(self) -> None:
        while not self._stop.wait(self.interval_s):
            try:
                rss = self.rss_kb()
            except OSError:
                return
            if rss > self._peak_kb:
                self._peak_kb = rss


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(base, name))
            except OSError:
                pass
    return total


def data_files(path: str) -> list[str]:
    """Parquet data files under ``path`` (Spark's ``_``/``.`` sidecars
    excluded)."""
    out = []
    for base, _dirs, files in os.walk(path):
        out.extend(
            os.path.join(base, f) for f in files
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
    return sorted(out)


def now() -> float:
    return time.perf_counter()
