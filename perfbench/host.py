"""Host facts and process-tree accounting read from ``/proc``.

The benchmark sizes Spark from what the host has (``nproc`` and
``/proc/meminfo``), and charges CPU time and resident memory to the whole
process tree it starts: the Spark driver's Python process, the JVM, and
the Python workers the JVM forks.
"""

from __future__ import annotations

import contextlib
import ctypes
import os
import signal
import threading
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
_PR_SET_CHILD_SUBREAPER = 36


def cores() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("/proc/meminfo has no MemTotal line")


def driver_memory_mb(total_mb: int) -> int:
    """Driver heap for local mode: a quarter of RAM, between 1 and 8 GiB.
    The rest stays free for the Python workers and the page cache."""
    return max(1024, min(total_mb // 4, 8192))


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name may hold spaces and parentheses; fields follow the
    # last ')'
    return raw[raw.rindex(")") + 2:].split()


def _tree(root: int) -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` fields of ``root`` and each of its descendants."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(name)
            if fields is not None:
                stats[int(name)] = fields
    children: dict[int, list[int]] = {}
    for pid, fields in stats.items():
        children.setdefault(int(fields[1]), []).append(pid)
    tree = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            tree[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return tree


def tree_usage(root: int) -> tuple[float, int]:
    """(CPU seconds, RSS bytes) summed over ``root`` and its descendants.

    CPU counts user and system time of every live process plus the time of
    children each one has already reaped, so a worker that exits inside a
    measured interval is still charged once."""
    cpu_ticks = 0
    rss_pages = 0
    for fields in _tree(root).values():
        cpu_ticks += sum(int(fields[i]) for i in (11, 12, 13, 14))
        rss_pages += int(fields[21])
    return cpu_ticks / _CLK_TCK, rss_pages * _PAGE


def become_subreaper() -> None:
    """Make this process the parent of every orphan in its tree (the Python
    workers the JVM forks outlive the JVM by a moment), so
    ``end_descendants`` can wait for each of them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def end_descendants(grace_s: float = 10.0) -> None:
    """Stop every process this one started and reap it: SIGTERM whatever is
    still running, SIGKILL what outlives ``grace_s``, and return once this
    process has no child left.  With ``become_subreaper`` that means no
    descendant is left either."""
    me = os.getpid()
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in _tree(me):
            if pid != me:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, sig)
        time.sleep(0.05)


class TreeSampler:
    """Samples the process tree's RSS in a background thread so a measured
    interval can report its peak; CPU is read at the interval's edges."""

    def __init__(self, root: int | None = None, period_s: float = 0.05):
        self._root = root if root is not None else os.getpid()
        self._period = period_s
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "TreeSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.wait(self._period):
            self._observe(tree_usage(self._root)[1])

    def _observe(self, rss: int) -> None:
        with self._lock:
            self._peak = max(self._peak, rss)

    def begin(self) -> float:
        """Start an interval: reset the peak, return the tree's CPU seconds."""
        cpu, rss = tree_usage(self._root)
        with self._lock:
            self._peak = rss
        return cpu

    def end(self, cpu_begin: float) -> tuple[float, int]:
        """End an interval: (CPU seconds spent in it, peak RSS bytes)."""
        cpu, rss = tree_usage(self._root)
        self._observe(rss)
        with self._lock:
            return cpu - cpu_begin, self._peak


def wall() -> float:
    return time.perf_counter()
