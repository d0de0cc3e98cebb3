"""Process-tree memory sampling and clean-up, read from /proc (no psutil)."""

from __future__ import annotations

import os
import signal
import threading
import time


def _parents() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed /proc
            continue
        # the command name is parenthesised and may contain spaces
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), ()):
            out.append(child)
            todo.append(child)
    return out


def _pss(pid: int) -> int:
    """Proportional set size: resident bytes, with pages shared between
    processes (forked Python workers) split among them instead of counted
    once per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_memory(root: int) -> dict[int, int]:
    """Resident bytes (PSS) of ``root`` and every process below it."""
    return {p: _pss(p) for p in [root, *descendants(root)]}


def _is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip() == "java"
    except OSError:
        return False


class PeakRss:
    """Samples the process tree's resident memory (PSS) on a thread until
    :meth:`stop`, keeping the peak of the whole tree and of its processes
    other than the JVM (this Python driver and Spark's Python workers)."""

    def __init__(self, root: int, interval: float = 0.5):
        # smaps_rollup walks each process's page tables under its mmap lock,
        # which can hold up the program being measured: sample sparingly.
        self._root, self._interval = root, interval
        self._done = threading.Event()
        self.peak = self.peak_python = 0
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._done.is_set():
            sizes = tree_memory(self._root)
            self.peak = max(self.peak, sum(sizes.values()))
            python = sum(v for pid, v in sizes.items() if not _is_jvm(pid))
            self.peak_python = max(self.peak_python, python)
            self._done.wait(self._interval)

    def stop(self) -> int:
        self._done.set()
        self._thread.join()
        return self.peak


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state not in ("Z", "X")


def stop_all(pids: list[int], grace: float = 10.0) -> None:
    """SIGTERM ``pids``, SIGKILL what is left after ``grace`` s, wait for all."""
    for sig, wait in ((signal.SIGTERM, grace), (signal.SIGKILL, 10.0)):
        live = [p for p in pids if _alive(p)]
        for pid in live:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait
        while any(_alive(p) for p in live) and time.monotonic() < deadline:
            for pid in live:  # reap our own children
                try:
                    os.waitpid(pid, os.WNOHANG)
                except ChildProcessError:
                    pass
            time.sleep(0.05)
