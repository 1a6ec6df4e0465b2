"""CPU time and peak resident memory of a process tree, read from /proc.

The tree is the benchmark process, its JVM and the Python workers the JVM
starts. ``tree_cpu_s`` sums user and system time over the tree, including
children that have ended and been waited for. ``PeakRss`` runs a daemon
thread that sums the proportional set size (Pss) over the tree every
0.5 s: resident pages that forked Python workers share with their parent
are counted once, not once per worker.
"""

from __future__ import annotations

import os
import threading


def descendants(root: int) -> list[int]:
    """root and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces and parentheses: split after it
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


# the JVM's JIT compiler threads: their work is warm-up, which a long job
# pays once, and it still runs, unevenly, after the benchmark's warm-up
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")
# threads of the benchmark itself (the memory sampler); not the program's
UNCOUNTED_TIDS: set[int] = set()


def _cpu_ticks(stat: str, children: bool) -> int:
    # after the command name: utime, stime, cutime, cstime are fields 14-17
    f = stat[stat.rindex(")") + 2 :].split()
    return sum(int(x) for x in f[11 : 15 if children else 13])


def tree_cpu_s(root: int) -> float:
    """User plus system CPU seconds of root and every process below it,
    with the children each has waited for, less the JIT compiler threads
    and ``UNCOUNTED_TIDS``. Time the host gave to other guests (steal) is
    not in it."""
    ticks = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                ticks += _cpu_ticks(f.read(), children=True)
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue  # the process ended between listing and reading
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            name = stat[stat.index("(") + 1 : stat.rindex(")")]
            if int(tid) in UNCOUNTED_TIDS or name.startswith(JIT_THREADS):
                ticks -= _cpu_ticks(stat, children=False)
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_pss_kb(root: int) -> int:
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total += next(int(ln.split()[1]) for ln in f if ln.startswith("Pss:"))
        except (OSError, StopIteration):
            continue  # the process ended between listing and reading
    return total


class PeakRss:
    """Context manager: ``peak_mb`` holds the largest sampled tree Pss."""

    INTERVAL = 0.5

    def __init__(self):
        self.root = os.getpid()
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        self.peak_mb = max(self.peak_mb, tree_pss_kb(self.root) / 1024)

    def _loop(self) -> None:
        UNCOUNTED_TIDS.add(threading.get_native_id())
        while not self._stop.wait(self.INTERVAL):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()
