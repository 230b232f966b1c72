"""Peak resident memory of a whole process tree, sampled from /proc, and
a clock that takes the host's CPU steal out of wall time.

The benchmark process starts the Spark JVM, which starts one Python worker
per task slot; their memory is the tree's, not the driver's alone. psutil
is not installed, so the tree is walked through /proc/<pid>/stat parent ids
and each member's resident pages are read from /proc/<pid>/statm.
"""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def parent_map(proc: str = "/proc") -> dict[int, int]:
    """pid -> parent pid for every process visible in `proc`."""
    out: dict[int, int] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            with open(f"{proc}/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # exited between listdir and open
            continue
        # the command name is parenthesised and may hold spaces or ')'
        fields = stat[stat.rindex(")") + 2 :].split()
        out[int(name)] = int(fields[1])
    return out


def tree_pids(root: int, parents: dict[int, int]) -> set[int]:
    """`root` and all of its descendants."""
    children: dict[int, list[int]] = {}
    for pid, ppid in parents.items():
        children.setdefault(ppid, []).append(pid)
    seen, stack = set(), [root]
    while stack:
        pid = stack.pop()
        if pid in seen:
            continue
        seen.add(pid)
        stack.extend(children.get(pid, ()))
    return seen


def rss_bytes(pid: int, proc: str = "/proc") -> int:
    """Resident set size of one process; 0 once it has exited."""
    try:
        with open(f"{proc}/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def tree_rss_bytes(root: int, proc: str = "/proc") -> int:
    return sum(rss_bytes(p, proc) for p in tree_pids(root, parent_map(proc)))


def cpu_ticks(proc: str = "/proc") -> tuple[int, int]:
    """(busy, steal) clock ticks of all CPUs since boot, from /proc/stat.

    Busy is user + nice + system + irq + softirq (guest time is already in
    user). Steal is time a virtual CPU wanted to run while the hypervisor
    ran something else."""
    with open(f"{proc}/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = ticks + [0] * (8 - len(ticks))
    return user + nice + system + irq + softirq, steal


class StealClock:
    """Wall time with the host's CPU steal taken out.

    On a virtual machine whose host is shared, the hypervisor withholds a
    varying share of the CPU time the guest asks for, and every busy phase
    of a run is slowed by that share. `read` returns the wall time since
    the clock started and that wall time scaled by busy / (busy + steal):
    the time the same work takes when none of it is withheld. Without
    steal (bare metal, a quiet host) both are the same."""

    def __init__(self, proc: str = "/proc"):
        self.proc = proc
        self.t0 = time.perf_counter()
        self.ticks0 = cpu_ticks(proc)

    def read(self) -> tuple[float, float]:
        """(wall seconds, steal-free seconds) since the clock started."""
        wall = time.perf_counter() - self.t0
        busy, steal = (a - b for a, b in zip(cpu_ticks(self.proc), self.ticks0))
        wanted = busy + steal
        return wall, (wall * busy / wanted if busy > 0 else wall)


class TreeRssSampler:
    """Background thread that keeps the peak resident memory of `root`'s
    process tree.

    A process counts only from the second sample that finds it. The JVM
    spawns short-lived helper processes (shell commands of Hadoop's local
    file system), and each shares all of the JVM's pages until it runs its
    program: counted, one would report the JVM twice.

    Use as a context manager; `peak_bytes` is final after exit."""

    def __init__(self, root: int, interval_s: float = 0.1, proc: str = "/proc"):
        self.root = root
        self.interval_s = interval_s
        self.proc = proc
        self.peak_bytes = 0
        self.samples = 0
        self._last_pids: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def sample(self) -> int:
        pids = tree_pids(self.root, parent_map(self.proc))
        rss = sum(rss_bytes(p, self.proc) for p in pids & (self._last_pids | {self.root}))
        self._last_pids = pids
        self.peak_bytes = max(self.peak_bytes, rss)
        self.samples += 1
        return rss

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> TreeRssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()
