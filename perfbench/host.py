"""Host fit and host-noise telemetry: cores, heap, steal%, calibration, RSS."""

from __future__ import annotations

import os
import threading
import time

import numpy as np


def cores() -> int:
    """CPUs this process may run on (what ``nproc`` reports)."""
    return len(os.sched_getaffinity(0))


def heap_gb() -> int:
    """Driver heap: a quarter of physical memory, 1-8 GB.

    Sized from ``MemTotal`` (not ``MemAvailable``) so the heap is the same
    on every run on one host; the JVM hosts every executor thread in local
    mode, and the rest of memory is left to the Python workers and the OS.
    """
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return max(1, min(8, round(total_kb / (4 * 1024 * 1024))))


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already counted in user/nice
    return fields[7], sum(fields[:8])


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    return 100.0 * (after[0] - before[0]) / max(after[1] - before[1], 1)


def calibrate() -> float:
    """Seconds for a fixed, seeded, single-threaded numpy loop.

    The same work on every run: if it slows, the host did, not the program.
    """
    rng = np.random.default_rng(12345)
    data = rng.random(400_000)
    t0 = time.perf_counter()
    acc = 0.0
    for _ in range(12):
        acc += float(np.sort(data)[::997].sum())
        data = np.roll(data, 7)
    elapsed = time.perf_counter() - t0
    if not np.isfinite(acc):  # keeps the loop's result live
        raise RuntimeError("calibration loop produced a non-finite sum")
    return elapsed


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:  # the process ended between listing and reading
        pass
    return 0


def _tree(root: int) -> list[int]:
    """``root`` and all its descendants (the JVM and its Python workers)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


class RssSampler:
    """Samples the summed RSS of a process tree in a background thread."""

    def __init__(self, root_pid: int, interval_s: float = 0.25):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def sample(self) -> None:
        total = sum(_rss_kb(p) for p in _tree(self.root_pid))
        self.peak_kb = max(self.peak_kb, total)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
