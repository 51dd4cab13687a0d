"""Processes of this benchmark, read from /proc (psutil is not installed).

The process tree is benchmark -> JVM -> ``pyspark.daemon`` -> forked
workers; a worker is any process whose parent is a daemon.  The daemon
outlives its JVM for a moment, so the benchmark makes itself the child
subreaper of its tree (``adopt_orphans``) and, on every way out, stops and
waits for whatever is left (``stop_all``).
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

_CLK = os.sysconf("SC_CLK_TCK")
_PR_SET_CHILD_SUBREAPER = 36


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, user+system CPU seconds) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    fields = s[s.rindex(")") + 2:].split()
    return int(fields[1]), (int(fields[11]) + int(fields[12])) / _CLK


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                kids.setdefault(st[0], []).append(int(d))
    return kids


def _is_daemon(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


def python_workers() -> list[int]:
    kids = _children()
    out = []
    for jvm in kids.get(os.getpid(), []):
        for daemon in kids.get(jvm, []):
            if _is_daemon(daemon):
                out.extend(kids.get(daemon, []))
    return out


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of one process, in MB; 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def cpu_s(pid: int) -> float:
    st = _stat(pid)
    return st[1] if st else 0.0


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine, all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _CLK


def adopt_orphans() -> None:
    """Re-parent to this process every descendant whose parent exits, so
    ``stop_all`` can find it and wait for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def descendants() -> list[int]:
    kids = _children()
    out, todo = [], [os.getpid()]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def _reap() -> None:
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


def stop_all(grace_s: float = 10.0) -> None:
    """Stop every process this one started, directly or not, and wait until
    each has ended: SIGTERM first, SIGKILL for any still there after
    ``grace_s``."""
    deadline = time.monotonic() + grace_s
    termed: set[int] = set()
    while True:
        _reap()
        pids = descendants()
        if not pids:
            return
        late = time.monotonic() > deadline
        for p in pids:
            if late or p not in termed:
                try:
                    os.kill(p, signal.SIGKILL if late else signal.SIGTERM)
                except ProcessLookupError:
                    pass
                termed.add(p)
        time.sleep(0.05)
