"""Arithmetic and process helpers shared by the benchmark runner.

Nothing here imports pyspark, so the unit tests run without a JVM.
"""

from __future__ import annotations

import os
import statistics
import time


def median(values: list[float]) -> float:
    """Median of a non-empty sample (mean of the middle pair when even)."""
    if not values:
        raise ValueError("median of an empty sample")
    return float(statistics.median(values))


def summarize(values: list[float]) -> dict:
    """Median plus the sample count it rests on."""
    return {"p50": median(values), "n": len(values)}


def failed_frac(failed: int, attempted: int) -> float:
    """Operations that raised or failed an output check, over operations
    attempted."""
    if attempted < 1:
        raise ValueError("no operation was attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


# ---------------------------------------------------------------- /proc RSS

_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended between listdir and open
            continue
        # the command name (field 2) may hold spaces; fields after ')' are fixed
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid`` (the Spark driver JVM and the Python
    worker daemons it forks, for the benchmark process)."""
    kids = _children_map()
    out: list[int] = []
    stack = list(kids.get(pid, []))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, []))
    return out


def rss_kb(pid: int) -> int:
    """Resident set size of one process from /proc/<pid>/statm (0 if gone)."""
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE_KB
    except (OSError, IndexError, ValueError):
        return 0


class PeakRss:
    """Peak of the summed RSS of this process and all its descendants,
    sampled every ``interval`` seconds by a separate watcher process (a
    sampling thread here would contend for the interpreter lock with the
    driver's Py4J calls and slow the operations it measures).  Used as a
    context manager so the watcher always ends."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = 0
        self._proc = None

    def __enter__(self) -> "PeakRss":
        import subprocess
        import sys

        self._proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "watch",
             str(os.getpid()), str(self.interval)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        return self

    def __exit__(self, *exc) -> None:
        out, _ = self._proc.communicate(timeout=30)  # closing stdin stops it
        self.peak_kb = int(out.split()[-1])

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def _watch(pid: int, interval: float) -> None:
    """Watcher loop: sample until standard input closes, then print the
    peak in KiB.  The watcher leaves itself out of the sum."""
    import select
    import sys

    me, peak = os.getpid(), 0
    while True:
        pids = [pid] + [p for p in descendants(pid) if p != me]
        peak = max(peak, sum(rss_kb(p) for p in pids))
        ready, _, _ = select.select([sys.stdin], [], [], interval)
        if ready and not sys.stdin.read(1):
            break
    print(peak, flush=True)


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Poll until none of ``pids`` is alive; return the ones still alive."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")
                 and not _is_zombie(p)]
    return alive


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


if __name__ == "__main__":
    import sys

    if sys.argv[1:2] == ["watch"]:
        _watch(int(sys.argv[2]), float(sys.argv[3]))
