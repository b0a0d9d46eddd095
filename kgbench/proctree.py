"""Process-tree memory from ``/proc``: the benchmark's own process, the
Spark JVM it launches and the JVM's Python workers.

One sampling thread reads ``/proc`` every ``interval`` seconds; nothing
runs inside the measured program.
"""

from __future__ import annotations

import os
import threading
import time

def _ppids() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii",
                      errors="replace") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed /proc
            continue
        # the command name may hold spaces: fields start after the last ')'
        out[int(name)] = int(stat[stat.rindex(")") + 2:].split()[1])
    return out


def descendants(root: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for pid, ppid in _ppids().items():
        children.setdefault(ppid, []).append(pid)
    seen, todo = set(), [root]
    while todo:
        for c in children.get(todo.pop(), []):
            if c not in seen:
                seen.add(c)
                todo.append(c)
    return seen


def pss_bytes(pid: int) -> int:
    """Proportional set size: each page shared by n processes counts 1/n.
    The Python workers are forked from one daemon and share most of their
    pages, so summed RSS would count those pages once per live worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii",
                  errors="replace") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


class TreeSampler:
    """Peak summed PSS of this process and all its descendants, plus the
    set of every descendant pid seen (so they can be awaited at exit)."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self.seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        kids = descendants(me)
        self.seen |= kids
        self.peak = max(self.peak, sum(pss_bytes(p) for p in (me, *kids)))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "TreeSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def peak_mb(self) -> float:
        return self.peak / 2**20

    def wait_all_ended(self, timeout: float) -> list[int]:
        """Wait until every descendant ever seen has exited; returns the
        pids still alive at ``timeout``."""
        deadline = time.monotonic() + timeout
        pending = self.seen | descendants(os.getpid())
        while True:
            pending = {p for p in pending if alive(p)}
            if not pending or time.monotonic() >= deadline:
                return sorted(pending)
            time.sleep(0.1)
