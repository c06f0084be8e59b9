"""Process-tree and host probes read from ``/proc``.

``ProcessTree`` walks this process and every descendant (the py4j-launched
JVM and the Python workers it forks) and sums their CPU time and resident
memory.  CPU of children that already exited and were reaped is counted
through the parent's ``cutime``/``cstime``, so short-lived Python workers
are not lost between samples.

``host_ticks``/``host_stamp`` read the aggregate line of ``/proc/stat`` so
each timed unit can be stamped with the share of host CPU stolen by the
hypervisor and the share spent running guests.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
MIN_RSS_AGE_S = 1.0


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name, or None
    when the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name is parenthesised and may itself contain spaces
    return raw[raw.rindex(")") + 2 :].split()


class ProcessTree:
    """CPU and memory of ``root`` and all of its descendants."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def sample(self) -> tuple[float, float]:
        """(CPU seconds, resident MiB) summed over the live tree.  CPU is
        user + system of each live process plus the reaped children each
        one waited for.  Memory skips processes younger than
        ``MIN_RSS_AGE_S``: a helper the JVM spawns (``chmod`` for a file
        write) shares the JVM's memory until it execs, and would count
        the whole heap a second time."""
        with open("/proc/uptime") as f:
            now_ticks = float(f.read().split()[0]) * _TICK
        cpu_ticks = 0
        rss_pages = 0
        for pid in self.pids():
            f = _stat_fields(pid)
            if f is None:
                continue
            # stat fields 14-17 (utime stime cutime cstime), 22
            # (starttime) and 24 (rss), indexed here from field 3
            cpu_ticks += sum(int(x) for x in f[11:15])
            if now_ticks - int(f[19]) >= MIN_RSS_AGE_S * _TICK:
                rss_pages += int(f[21])
        return cpu_ticks / _TICK, rss_pages * _PAGE / 2**20


class RssSampler:
    """Background sampler of the tree's resident memory; ``peak_mb``
    is the largest sum seen since the last ``reset``."""

    def __init__(self, tree: ProcessTree, period_s: float = 0.2):
        self.tree = tree
        self.period_s = period_s
        self.peak_mb = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.poll()

    def poll(self) -> float:
        _cpu, rss = self.tree.sample()
        with self._lock:
            self.peak_mb = max(self.peak_mb, rss)
        return rss

    def reset(self) -> None:
        with self._lock:
            self.peak_mb = 0.0
        self.poll()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def host_ticks() -> list[int]:
    """Jiffies of the aggregate ``cpu`` line of ``/proc/stat``: user,
    nice, system, idle, iowait, irq, softirq, steal, guest, guest_nice."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals + [0] * 10)[:10]


def host_stamp(t0: list[int], t1: list[int]) -> dict:
    """Host steal and guest shares (percent) between two ``host_ticks``.

    The kernel already folds guest time into user and guest_nice into
    nice, so the total is the first eight fields: guest jiffies are
    counted in it once, not twice."""
    d = [b - a for a, b in zip(t0, t1)]
    total = sum(d[:8])
    if total <= 0:
        return {"steal_pct": 0.0, "guest_pct": 0.0}
    return {
        "steal_pct": 100.0 * d[7] / total,
        "guest_pct": 100.0 * (d[8] + d[9]) / total,
    }
