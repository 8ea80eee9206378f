"""Process-tree bookkeeping for the benchmark: peak resident memory of
the program's processes (the Spark JVM plus Python workers), and reaping
every process the benchmark started."""

from __future__ import annotations

import ctypes
import multiprocessing
import os
import statistics
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Make orphaned descendants (a CLI's JVM, Spark's Python workers)
    re-parent to this process, so :func:`reap_all` can wait for them."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def reap_all(timeout: float = 60.0) -> None:
    """Wait until every child of this process has exited."""
    deadline = time.monotonic() + timeout
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            if time.monotonic() > deadline:
                raise TimeoutError("child processes did not exit")
            time.sleep(0.05)


def in_child(fn, *args):
    """``fn(*args)`` computed in a forked child process, so the memory it
    uses is never part of this process (whose tree is measured)."""
    ctx = multiprocessing.get_context("fork")
    receive, send = ctx.Pipe(duplex=False)

    def target():
        try:
            send.send((True, fn(*args)))
        except BaseException as exc:  # noqa: BLE001  (re-raised in the parent)
            send.send((False, exc))

    proc = ctx.Process(target=target)
    proc.start()
    ok, value = receive.recv()
    proc.join()
    if not ok:
        raise value
    return value


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root: int, exclude=()) -> int:
    """Summed resident memory of ``root`` and all its descendants, except
    the subtrees of the pids in ``exclude``."""
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except (OSError, ValueError, IndexError):
            pass
    return total


class RssSampler:
    """Samples the tree RSS of ``root`` every ``interval`` seconds on a
    daemon thread; :meth:`peak` returns the maximum since :meth:`reset`.
    The subtrees of the pids in ``exclude`` are not counted."""

    def __init__(self, root: int | None = None, interval: float = 0.1,
                 exclude=()) -> None:
        self.root = root if root is not None else os.getpid()
        self.exclude = frozenset(exclude)
        self.interval = interval
        self._peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._peak = max(self._peak, tree_rss_bytes(self.root, self.exclude))

    def reset(self, root: int | None = None) -> None:
        if root is not None:
            self.root = root
        self._peak = tree_rss_bytes(self.root, self.exclude)

    def peak_mb(self) -> float:
        self._peak = max(self._peak, tree_rss_bytes(self.root, self.exclude))
        return self._peak / 2**20

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


def dir_stats(path: str, suffix: str = ".parquet") -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                size += os.path.getsize(os.path.join(d, n))
                files += 1
    return size, files


def median(values) -> float:
    return float(statistics.median(values))
