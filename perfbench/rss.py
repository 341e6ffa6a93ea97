"""Peak resident memory of a process tree, sampled from ``/proc``.

The benchmark's driver process starts the Spark JVM, which forks the
Python worker daemon and its workers; the sampler sums the resident
memory of the root and every descendant and keeps the peak.  Each
process counts its proportional set size (``Pss`` of
``/proc/<pid>/smaps_rollup``): pages shared between processes -- the
libraries every forked Python worker inherits from the daemon -- are
split among their sharers instead of counted once per worker, so the sum
does not jump with the number of idle workers.
"""

import os
import threading

_PAGE = os.sysconf('SC_PAGE_SIZE')


def _ppids() -> dict:
    out = {}
    for name in os.listdir('/proc'):
        if not name.isdigit():
            continue
        try:
            with open(f'/proc/{name}/stat') as f:
                stat = f.read()
        except OSError:             # the process ended while we looked
            continue
        # comm may hold spaces or parens: fields resume after the last ')'
        out[int(name)] = int(stat[stat.rindex(')') + 2:].split()[1])
    return out


def tree_pids(root: int) -> list:
    """``root`` and all of its descendants."""
    children = {}
    for pid, ppid in _ppids().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _pss_bytes(pid: int) -> int:
    try:
        with open(f'/proc/{pid}/smaps_rollup') as f:
            for line in f:
                if line.startswith('Pss:'):
                    return int(line.split()[1]) * 1024
    except OSError:                 # ended, or no smaps_rollup: use RSS
        pass
    try:
        with open(f'/proc/{pid}/statm') as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def tree_rss_bytes(root: int) -> int:
    """Summed proportional resident memory of ``root``'s process tree."""
    return sum(_pss_bytes(pid) for pid in tree_pids(root))


class RssSampler:
    """Background thread keeping the peak summed resident memory of a
    process tree.

    One sample of the benchmark's tree (the JVM and about 15 Python
    processes) takes about 60 ms of CPU on a 4-core host, the JVM's
    ``smaps_rollup`` alone about 25 ms; an interval of 1 s keeps that
    near a twentieth of one core.
    """

    def __init__(self, root: int, interval_s: float = 1.0):
        self.root = root
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True,
                                        name='perfbench-rss')

    def _run(self):
        while True:
            self.peak_bytes = max(self.peak_bytes,
                                  tree_rss_bytes(self.root))
            if self._stop.wait(self.interval_s):
                return

    def start(self) -> 'RssSampler':
        self._thread.start()
        return self

    def stop(self) -> int:
        """Stop sampling; returns the peak."""
        self._stop.set()
        self._thread.join()
        return self.peak_bytes
