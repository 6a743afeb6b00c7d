"""CPU time and resident memory of this process and all its descendants
(the Spark driver, the JVM it launched and the Python workers), read from
/proc. Linux only."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids() -> list[int]:
    """This process and all its descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def ended(pid: int) -> bool:
    """The process is gone or a zombie its parent has not reaped."""
    st = _stat(pid)
    return st is None or st[0] == "Z"


def tree_cpu_s() -> float:
    """User + system CPU seconds of the live tree, including the reaped
    children each live process has waited for."""
    total = 0
    for pid in tree_pids():
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime (fields 14-17 of proc(5))
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def tree_rss_mb() -> float:
    total = 0
    for pid in tree_pids():
        st = _stat(pid)
        if st is not None:
            total += int(st[21])  # rss in pages (field 24 of proc(5))
    return total * _PAGE / 2**20


def box_steal_s() -> float:
    """CPU seconds the hypervisor gave to others while this machine's
    vCPUs wanted to run (all vCPUs summed, since boot)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK  # cpu user nice system idle iowait irq softirq steal


class PeakRss:
    """Samples the tree's summed RSS every `interval` seconds on a
    background thread and keeps the maximum."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.wait(self.interval):
            self.peak_mb = max(self.peak_mb, tree_rss_mb())

    def __enter__(self):
        self.peak_mb = tree_rss_mb()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())
