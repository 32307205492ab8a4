"""CPU and memory of this process and all its descendants, from /proc.

The tree is the benchmark's driver process, the Spark JVM it launches
and the Python workers the JVM forks. CPU counts user plus system time
of every live process in the tree plus the time of children they have
already reaped, so workers that exit between two readings still count.
Memory sums each process's proportional set size (resident pages, a
page shared by k processes counting 1/k to each): forked Python workers
share most of their pages with the daemon they were forked from, and
summed RSS would count those pages once per worker.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # Field 4 (ppid) follows the parenthesised command name.
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants() -> list[int]:
    """Pids of every descendant of this process."""
    kids = _children_map()
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        for c in kids.get(pid, ()):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s() -> float:
    """CPU seconds of the whole tree (self included)."""
    ticks = 0
    for pid in [os.getpid()] + descendants():
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        # utime, stime, cutime, cstime are fields 14-17 of stat.
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def tree_pss_bytes() -> int:
    total = 0
    for pid in [os.getpid()] + descendants():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class MemSampler:
    """Samples the tree's memory on a thread between ``start`` and
    ``stop``; ``peak`` is the largest sample. Sampling holds the GIL
    while it reads /proc, so run it only around the work it measures."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.peak = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes())
            self.samples += 1
            self._stop.wait(self.interval_s)

    def start(self) -> "MemSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak


def reap(pids, timeout_s: float = 20.0) -> None:
    """Wait until every pid has exited; SIGTERM, then SIGKILL, stragglers."""
    deadline = time.monotonic() + timeout_s
    pending = set(pids)
    sent_kill = False
    while pending:
        for pid in list(pending):
            try:
                os.kill(pid, 0)
                with open(f"/proc/{pid}/stat") as f:
                    state = f.read().rsplit(")", 1)[1].split()[0]
                if state == "Z":
                    # Zombie: ours to reap, or its parent's.
                    try:
                        os.waitpid(pid, os.WNOHANG)
                    except ChildProcessError:
                        pass
            except (ProcessLookupError, FileNotFoundError):
                pending.discard(pid)
        if not pending:
            return
        if time.monotonic() > deadline:
            if sent_kill:
                return
            for pid in pending:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            sent_kill = True
            deadline = time.monotonic() + 5
        elif time.monotonic() > deadline - timeout_s / 2:
            for pid in pending:
                try:
                    os.kill(pid, signal.SIGTERM)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)
