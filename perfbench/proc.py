"""Process-tree and host readings from /proc (Linux only).

The benchmark measures the program from outside: CPU seconds and resident
memory of the driver's process tree (driver Python, the Spark JVM and its
Python workers), and host context (busy share, steal, load average) from
/proc/stat and /proc/loadavg. Nothing here adjusts a measured number.
"""

from __future__ import annotations

import os
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")
RSS_INTERVAL_S = 0.05
RSS_RELIST_EVERY = 20  # samples between two listings of the tree's pids
WAIT_GONE_S = 30.0


def _read_stat(pid: str) -> tuple[int, int, int]:
    """(ppid, cpu ticks incl. reaped children, resident pages) of one pid."""
    with open(f"/proc/{pid}/stat") as fh:
        raw = fh.read()
    # the command name may hold spaces; fields resume after its ')'
    rest = raw[raw.rindex(")") + 2:].split()
    ppid = int(rest[1])
    ticks = int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14])
    return ppid, ticks, int(rest[21])


def process_table() -> dict[int, tuple[int, int, int]]:
    table = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                table[int(name)] = _read_stat(name)
            except (OSError, ValueError, IndexError):
                continue  # exited while listing
    return table


def subtree(table: dict, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            out.append(pid)
            todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants.

    Children that exited and were reaped count through their parent's
    cutime/cstime, so a difference of two readings covers short-lived
    workers too."""
    table = process_table()
    return sum(table[p][1] for p in subtree(table, os.getpid())) / CLK_TCK


def tree_rss_bytes(root: int) -> int:
    table = process_table()
    return sum(table[p][2] for p in subtree(table, root)) * PAGE


class RssSampler:
    """Peak resident bytes of one process tree, sampled on a thread.

    The tree's pids are listed once a second; in between only their
    statm files are read, so sampling costs little CPU."""

    def __init__(self, root: int):
        self.root = root
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pids: list[int] = []
        tick = 0
        while not self._stop.is_set():
            if tick % RSS_RELIST_EVERY == 0:
                pids = subtree(process_table(), self.root)
            tick += 1
            self.peak = max(self.peak, sum(_rss_pages(p) for p in pids) * PAGE)
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(self.root))


def _rss_pages(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1])
    except (OSError, IndexError, ValueError):
        return 0  # exited since the last listing


def cpu_jiffies() -> list[int]:
    """Aggregate /proc/stat cpu line: user nice system idle iowait irq
    softirq steal (guest time is already inside user/nice)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def host_context(before: list[int], after: list[int]) -> dict:
    """Busy share, steal % and 1-minute load average over an interval."""
    delta = [b - a for a, b in zip(before, after)]
    total = max(sum(delta), 1)
    idle = delta[3] + delta[4]
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    return {
        "host.cpu_busy_share": (total - idle - delta[7]) / total,
        "host.steal_pct": 100.0 * delta[7] / total,
        "host.load_avg": load1,
    }


def wait_gone(pids: list[int]) -> list[int]:
    """Wait up to WAIT_GONE_S until every pid has exited; return those
    still running."""
    deadline = time.monotonic() + WAIT_GONE_S
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _running(p)]
        if alive:
            time.sleep(0.1)
    return alive


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            state = fh.read().rsplit(")", 1)[1].split()[0]
    except (OSError, IndexError):
        return False
    return state != "Z"
