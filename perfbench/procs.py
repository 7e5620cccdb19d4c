"""Process-tree bookkeeping from /proc: resident memory of this process and
everything it started (JVM, Python workers), and waiting for them to end.

Memory is summed as PSS (proportional set size): Spark's Python workers
are forked from one daemon and share its pages copy-on-write, so summing
their RSS would count those pages once per worker."""

from __future__ import annotations

import os
import signal
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")


def _pss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


CLK_TCK = os.sysconf("SC_CLK_TCK")


def _table() -> dict[int, tuple[int, int, float]]:
    """pid → (ppid, rss bytes, CPU seconds incl. reaped children) for every
    readable process."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                data = f.read()
        except OSError:
            continue
        # the command name may hold spaces or parens: split after the last ')'
        fields = data.rsplit(")", 1)[1].split()
        cpu = sum(int(x) for x in fields[11:15]) / CLK_TCK
        out[int(entry)] = (int(fields[1]), int(fields[21]) * PAGE, cpu)
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and everything it started."""
    table = _table()
    me = os.getpid()
    return sum(table[p][2] for p in [me, *descendants(me, table)] if p in table)


def steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs, from /proc/stat: the share of
    time the hypervisor ran someone else while this VM wanted the CPU."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def descendants(root: int, table=None) -> list[int]:
    table = table if table is not None else _table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class RssSampler:
    """Samples the resident memory of this process tree a few times a
    second on a daemon thread; ``peak_mb`` is the largest sum seen."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self):
        table = _table()
        me = os.getpid()
        total = sum(_pss(p) for p in [me, *descendants(me, table)])
        self.peak = max(self.peak, total)

    def _loop(self):
        while not self._stop.wait(self.interval_s):
            self._sample()

    def start(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def stop(self):
        if self._thread.is_alive():
            self._stop.set()
            self._thread.join(timeout=5)
            self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / (1 << 20)


def wait_children(timeout_s: float = 30.0) -> list[int]:
    """Wait until every process this one started has exited; kill what is
    left after ``timeout_s``. Returns the pids that had to be killed."""
    deadline = time.monotonic() + timeout_s
    me = os.getpid()
    while time.monotonic() < deadline:
        left = descendants(me)
        if not left:
            return []
        for pid in left:
            try:  # reap direct children that already exited
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.2)
    left = descendants(me)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in left:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass
    return left
