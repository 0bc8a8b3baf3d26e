"""Process-tree memory and on-disk size, read from /proc and the file
system — nothing inside the program under test is touched."""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _tree(root: int, skip_forks: bool = False) -> list[int]:
    """``root`` and its descendants.  With ``skip_forks``, a child of a
    ``java`` process that still has its parent's command line is left out:
    the JVM forks to run shell commands (Hadoop's ``chmod``), and until the
    child execs it maps every page of the JVM, so counting its RSS would
    count the JVM twice."""
    children: dict[int, list[int]] = {}
    comm: dict[int, str] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        head, tail = stat.rsplit(")", 1)
        comm[int(name)] = head.split("(", 1)[1]
        ppid = int(tail.split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        for kid in children.get(pid, []):
            if not (skip_forks and comm.get(pid) == "java"
                    and _cmdline(kid) == _cmdline(pid)):
                todo.append(kid)
    return out


def _cmdline(pid: int) -> bytes | None:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read()
    except OSError:
        return None


def tree_rss_bytes(root: int | None = None) -> int:
    """Summed resident set of ``root`` and all its descendants: the Python
    driver, the JVM it launched and the JVM's Python workers."""
    total = 0
    for pid in _tree(root or os.getpid(), skip_forks=True):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


def descendants(root: int | None = None) -> list[int]:
    return [p for p in _tree(root or os.getpid()) if p != (root or os.getpid())]


class RssPeak:
    """Samples the process tree every ``interval`` seconds between
    ``start()`` and ``stop()``; ``peak`` is the largest sum seen."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(self.interval)

    def start(self) -> None:
        self.peak = tree_rss_bytes()
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> int:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes())
        return self.peak


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) of every regular file under ``path``."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(root, n))
                files += 1
            except OSError:
                continue
    return size, files


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait until none of ``pids`` is alive; return the ones still left."""
    deadline = time.monotonic() + timeout
    left = list(pids)
    while left and time.monotonic() < deadline:
        left = [p for p in left if os.path.exists(f"/proc/{p}")
                and not _zombie(p)]
        if left:
            time.sleep(0.1)
    return left


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return False
