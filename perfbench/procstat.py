"""CPU and resident memory of a process tree, read from ``/proc``.

The driver process is the root: the JVM Spark launches and the Python
workers the JVM forks are its descendants, so one tree covers every
process the benchmark's load runs in.
"""

from __future__ import annotations

import os
import time
from pathlib import Path

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None
    # comm (field 2) may hold spaces and parentheses: split after its last ')'
    return raw[raw.rindex(")") + 2 :].split()


def is_running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat_fields(int(entry))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the tree, including reaped children."""
    total = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime stime cutime cstime are stat fields 14-17 (1-based)
            total += sum(int(x) for x in fields[11:15])
    return total / _CLK_TCK


def peak_rss_bytes(pid: int) -> int:
    """The kernel's peak-RSS counter of ``pid`` (``VmHWM``); 0 once it is gone."""
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def reset_peak_rss(pid: int) -> None:
    """Reset ``pid``'s peak-RSS counter to its current RSS."""
    try:
        Path(f"/proc/{pid}/clear_refs").write_text("5")
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass


class TreeSampler:
    """CPU delta and peak RSS of a process tree over a ``with`` block.

    On entry every process's peak-RSS counter is reset; on exit the peak is
    the sum of the counters of the processes alive then. The kernel keeps
    each counter, so no spike falls between samples. A process that exits
    inside the block is not counted: the short-lived helpers the JVM
    spawns share its memory until they exec, and would count it twice.
    CPU is read once on entry and once on exit."""

    def __init__(self, root: int | None = None):
        self.root = os.getpid() if root is None else root
        self.cpu_s = 0.0
        self.peak_rss_bytes = 0

    def __enter__(self) -> TreeSampler:
        self._cpu0 = tree_cpu_s(self.root)
        for pid in tree_pids(self.root):
            reset_peak_rss(pid)
        return self

    def __exit__(self, *exc) -> None:
        self.peak_rss_bytes = sum(map(peak_rss_bytes, tree_pids(self.root)))
        self.cpu_s = tree_cpu_s(self.root) - self._cpu0


def calibration_s(rounds: int = 3, n: int = 300_000) -> float:
    """Median wall time of a fixed single-thread integer loop — a host
    speed reading that does not depend on the program under test."""
    times = []
    for _ in range(rounds):
        t0 = time.perf_counter()
        acc = 0
        for i in range(n):
            acc = (acc * 31 + i) & 0xFFFFFFFF
        times.append(time.perf_counter() - t0)
    times.sort()
    return times[len(times) // 2]


def steal_counters() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine since boot: the share
    of CPU time the hypervisor gave to other guests."""
    fields = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:9]]
    return fields[7], sum(fields)


def loadavg_1m() -> float:
    return float(Path("/proc/loadavg").read_text().split()[0])
