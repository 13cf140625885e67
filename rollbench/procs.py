"""Process-tree helpers over ``/proc``: peak resident memory and shutdown.

The Spark driver JVM is a child of this Python process and the Python
workers are children of the JVM, so "the engine" is every descendant of
this process. The benchmark's own interpreter (which also runs the DuckDB
oracles) is left out of the sum.
"""

from __future__ import annotations

import os
import signal
import sys
import threading
import time


def _ppids() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed /proc
            continue
        # the command name may hold spaces or parens: split after the last ')'
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, ppid in _ppids().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: shared pages (the Python workers are forked
    from one daemon) are split between the processes that map them, so the
    sum over the tree counts each page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # the process ended while we read it
        pass
    return 0


class PeakRss:
    """Background sampler of the summed resident memory (PSS) of this
    process's descendants."""

    def __init__(self, interval_s: float = 0.2):
        self._root = os.getpid()
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self.peak_bytes = 0

    def _run(self) -> None:
        while not self._stop.is_set():
            total = sum(_pss_bytes(p) for p in descendants(self._root))
            self.peak_bytes = max(self.peak_bytes, total)
            self._stop.wait(self._interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state != "Z"


def wait_for_exit(pids: list[int], timeout_s: float = 30.0) -> None:
    """Wait until every listed process has ended; SIGKILL what outlives the
    timeout. Takes the pids up front because a worker whose parent JVM has
    exited is re-parented and no longer shows as a descendant."""
    deadline = time.monotonic() + timeout_s
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in pids:
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    deadline = time.monotonic() + 10
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)


def kill_descendants_after(seconds: float) -> None:
    """Watchdog: if the process is still running after ``seconds``, kill
    every descendant and exit with status 3 (no result is printed)."""

    def fire():
        print(f"rollbench: still running after {seconds} s; aborting", file=sys.stderr)
        for pid in descendants(os.getpid()):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        os._exit(3)

    timer = threading.Timer(seconds, fire)
    timer.daemon = True
    timer.start()
