"""CPU time and resident memory of a process tree, read from /proc.

The benchmark's process tree is the Python driver, the Spark JVM it
launched, and the Python workers the JVM forked. CPU time of a process is
`utime + stime + cutime + cstime` from /proc/<pid>/stat: the last two hold
the time of children that already exited and were reaped, so a worker that
ends between two readings is still counted, by its parent.
"""

from __future__ import annotations

import os
import threading

_TICKS = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def parse_stat(line: str) -> tuple[int, int, float]:
    """One /proc/<pid>/stat line -> (pid, ppid, cpu seconds incl. reaped
    children). The command name may hold spaces and parentheses, so the
    fields are split after its last ')'."""
    pid = int(line[: line.index(" ")])
    fields = line[line.rindex(")") + 2 :].split()
    # fields[0] is field 3 (state): ppid is field 4, utime..cstime 14..17
    ppid = int(fields[1])
    ticks = sum(int(f) for f in fields[11:15])
    return pid, ppid, ticks / _TICKS


def _read(path: str) -> str | None:
    try:
        with open(path) as fh:
            return fh.read()
    except OSError:  # the process exited while we looked
        return None


def snapshot(proc: str = "/proc") -> dict[int, tuple[int, float]]:
    """pid -> (ppid, cpu seconds) for every process visible in `proc`."""
    out = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        line = _read(f"{proc}/{name}/stat")
        if line:
            pid, ppid, cpu = parse_stat(line)
            out[pid] = (ppid, cpu)
    return out


def descendants(root: int, procs: dict[int, tuple[int, float]]) -> list[int]:
    """`root` and every process below it in the parent links of `procs`."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _cpu) in procs.items():
        children.setdefault(ppid, []).append(pid)
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def tree_cpu_s(root: int | None = None, proc: str = "/proc") -> float:
    """CPU seconds used so far by `root` (default: this process) and all
    its live descendants, including their reaped children."""
    procs = snapshot(proc)
    root = os.getpid() if root is None else root
    return sum(procs[p][1] for p in descendants(root, procs) if p in procs)


def tree_rss_mb(root: int | None = None, proc: str = "/proc") -> float:
    """Resident memory of `root` and its live descendants, in MB."""
    procs = snapshot(proc)
    root = os.getpid() if root is None else root
    pages = 0
    for pid in descendants(root, procs):
        statm = _read(f"{proc}/{pid}/statm")
        if statm:
            pages += int(statm.split()[1])
    return pages * _PAGE / 1e6


class RssSampler:
    """Samples the tree's resident memory on a thread while in a `with`
    block and keeps the peak; a single reading at the end would miss the
    peak of a stage that has already released its memory."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            if self._stop.wait(self.period_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb())
