"""CPU time and peak memory of a process tree, read from /proc, and the
wait for that tree to end."""

from __future__ import annotations

import ctypes
import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as fh:
        data = fh.read()
    # the command name may hold spaces; fields resume after its last ')'
    return data[data.rindex(")") + 2:].split()


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                ppid = int(_stat_fields(int(entry))[1])
            except (FileNotFoundError, ProcessLookupError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = children.get(p, [])
        out.extend(kids)
        todo.extend(kids)
    return out


def tree_cpu_seconds(pid: int) -> float:
    """User+system CPU of ``pid`` and its live descendants, including the
    children each of them has already reaped (Python workers that exited)."""
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            f = _stat_fields(p)
        except (FileNotFoundError, ProcessLookupError):
            continue
        # utime, stime, cutime, cstime (fields 14-17 of stat)
        total += sum(int(x) for x in f[11:15])
    return total / _TICK


def peak_rss_mb(pid: int) -> float:
    """``VmHWM``: the highest resident set size the process has had."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise ValueError(f"no VmHWM for pid {pid}")


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs
    since boot (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK


_PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Adopt every orphaned descendant, so that a process whose parent
    exits first (a Spark JVM after its Python parent, a Python worker
    after its JVM) can still be waited for here."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap_descendants(timeout: float) -> None:
    """Wait until every descendant of this process has exited and been
    reaped; after ``timeout`` seconds, kill the ones still running, and
    give up ten seconds after that."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline + 10:
        while True:  # reap what has exited
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pid = 0
            if pid == 0:
                break
        left = descendants(os.getpid())
        if not left:
            return
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)
