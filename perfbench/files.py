"""Files a query writes, seen by polling the run's scratch directory.

Queries may delete what they wrote before they return (a transaction-log
table, a stream checkpoint), so the tree is polled while the query runs.
A file that lives shorter than one poll interval is missed.
"""

from __future__ import annotations

import os
import threading


class WrittenFiles:
    """Polls ``root`` on a thread and keeps every file modified since the
    last :meth:`start`, with the largest size seen for it."""

    def __init__(self, root: str, skip: tuple[str, ...] = (), interval: float = 0.01):
        self._root, self._skip, self._interval = root, skip, interval
        self._lock = threading.Lock()
        self._since_ns = 0
        self._seen: dict[str, int] = {}
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _scan(self) -> None:
        found = {}
        todo = [
            os.path.join(self._root, e) for e in os.listdir(self._root) if e not in self._skip
        ]
        while todo:
            try:
                entries = list(os.scandir(todo.pop()))
            except OSError:  # removed while we walked it
                continue
            for e in entries:
                try:
                    if e.is_dir(follow_symlinks=False):
                        if e.name != "_temporary":  # committed files are renamed out of it
                            todo.append(e.path)
                        continue
                    st = e.stat(follow_symlinks=False)
                except OSError:
                    continue
                found[e.path] = st
        with self._lock:
            for path, st in found.items():
                if st.st_mtime_ns >= self._since_ns:
                    self._seen[path] = max(self._seen.get(path, 0), st.st_size)

    def _run(self) -> None:
        while not self._done.wait(self._interval):
            self._scan()

    def start(self, since_ns: int) -> None:
        with self._lock:
            self._since_ns, self._seen = since_ns, {}

    def take(self) -> tuple[int, int]:
        """(files, bytes) written since :meth:`start`."""
        self._scan()
        with self._lock:
            return len(self._seen), sum(self._seen.values())

    def stop(self) -> None:
        self._done.set()
        self._thread.join()
