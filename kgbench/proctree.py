"""CPU time and resident memory of this process's tree, read from /proc.

The tree is the benchmark process, the Spark JVM it launches and every
Python worker the JVM forks. CPU time of a process includes the time of
the children it has reaped (``cutime``/``cstime``), so the sum over the
live tree at two instants differs by exactly the CPU the tree spent in
between, even when workers exit and are reaped in the meantime.
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


@dataclass(frozen=True)
class Proc:
    pid: int
    ppid: int
    kind: str  # "driver" (the root), "jvm", "python" or "other"
    cpu_s: float  # own + reaped children's user and system time
    rss_bytes: int


def parse_stat(text: str) -> tuple[int, str, float, int]:
    """(ppid, comm, cpu seconds, rss bytes) from a /proc/<pid>/stat line.

    comm may hold spaces and parentheses, so fields are counted from the
    LAST closing parenthesis."""
    lp, rp = text.index("("), text.rindex(")")
    comm = text[lp + 1:rp]
    f = text[rp + 2:].split()
    # f[0] is field 3 (state): utime..cstime are fields 14-17, rss is 24
    ticks = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return int(f[1]), comm, ticks / _TICK, int(f[21]) * _PAGE


def _kind(comm: str, pid: int, root: int) -> str:
    if pid == root:
        return "driver"
    if comm == "java":
        return "jvm"
    if comm.startswith("python"):
        return "python"
    return "other"


def snapshot(root: int | None = None) -> dict[int, Proc]:
    """Every live process in the tree rooted at ``root`` (default: self)."""
    root = os.getpid() if root is None else root
    stats: dict[int, tuple[int, str, float, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stats[int(name)] = parse_stat(f.read())
        except (OSError, ValueError, IndexError):
            continue  # exited while listing
    children: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out: dict[int, Proc] = {}
    todo = [root] if root in stats else []
    while todo:
        pid = todo.pop()
        ppid, comm, cpu, rss = stats[pid]
        out[pid] = Proc(pid, ppid, _kind(comm, pid, root), cpu, rss)
        todo.extend(children.get(pid, ()))
    return out


def cpu_by_kind(snap: dict[int, Proc]) -> dict[str, float]:
    tot: dict[str, float] = {}
    for p in snap.values():
        tot[p.kind] = tot.get(p.kind, 0.0) + p.cpu_s
    return tot


def rss_total(snap: dict[int, Proc]) -> int:
    """Summed RSS of the driver, the JVM and the Python workers. Helper
    processes the JVM spawns ("other") are left out: they live for
    milliseconds and, while they run, report the JVM's own pages."""
    return sum(p.rss_bytes for p in snap.values() if p.kind != "other")


@dataclass
class Interval:
    """What the tree spent between ``Sampler.begin`` and ``Sampler.end``."""

    cpu_s: float = 0.0
    cpu_by_kind: dict[str, float] = field(default_factory=dict)
    peak_rss_bytes: int = 0


class Sampler:
    """Samples the tree's summed RSS on a background thread between
    ``begin()`` and ``end()``; CPU comes from the two end-point snapshots.
    Every pid ever seen is remembered, so ``wait_gone`` can confirm the
    tree has exited."""

    # one /proc scan costs ~2 ms of the driver's GIL: sampling sparsely
    # keeps it out of the driver-side work being timed
    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.seen: set[int] = set()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._start: dict[int, Proc] = {}
        self._peak = 0

    def _sample(self) -> dict[int, Proc]:
        snap = snapshot()
        self.seen.update(snap)
        self._peak = max(self._peak, rss_total(snap))
        return snap

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self._sample()

    def begin(self) -> None:
        self._peak = 0
        self._start = self._sample()
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def end(self) -> Interval:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
            self._thread = None
        end = self._sample()
        a, b = cpu_by_kind(self._start), cpu_by_kind(end)
        kinds = {k: b.get(k, 0.0) - a.get(k, 0.0) for k in set(a) | set(b)}
        return Interval(sum(kinds.values()), kinds, self._peak)

    def wait_gone(self, timeout_s: float = 30.0) -> list[int]:
        """Wait until every process seen (other than self) has exited;
        returns those still alive after ``timeout_s``."""
        import time

        me = os.getpid()
        deadline = time.monotonic() + timeout_s
        while True:
            alive = [p for p in self.seen
                     if p != me and os.path.exists(f"/proc/{p}")
                     and not _is_zombie(p)]
            if not alive or time.monotonic() > deadline:
                return alive
            time.sleep(0.1)


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            text = f.read()
    except OSError:
        return True
    return text[text.rindex(")") + 2] == "Z"
