"""Peak memory of this process and every process it started (the Spark JVM
and its Python workers), sampled from ``/proc`` by a thread.

Memory is the proportional set size (PSS): a page shared by several
processes, such as the interpreter and libraries a forked Python worker
shares with its parent, counts once across them rather than once per
process, so the sum does not swing with the number of idle workers."""

from __future__ import annotations

import os
import threading


def _parents() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command field may hold spaces: the parent pid is the second
        # field after the closing parenthesis
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_pss_bytes(root: int) -> int:
    parents = _parents()
    children: dict[int, list[int]] = {}
    for pid, ppid in parents.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            total += _pss_bytes(pid)
        except OSError:
            pass
    return total


class PeakMemory:
    """Samples the process tree every ``interval`` seconds until stopped."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / (1 << 20)
