"""Process hygiene: a run ends with no process of its own left behind.

The run makes itself a child subreaper (Linux prctl), so descendants
orphaned along the way are re-parented to it rather than to init:
spark-class's helper shell under the JVM, pyspark's Python worker
daemon and its forks. ``reap_children`` then terminates and waits for
every child the run still has, on every path out of it.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> bool:
    """Adopt this process's orphaned descendants; False if the kernel
    refused (then only direct children are reaped)."""
    try:
        prctl = ctypes.CDLL(None, use_errno=True).prctl
    except (OSError, AttributeError):
        return False
    prctl.restype = ctypes.c_int
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    return prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) == 0


def children(pid: int | None = None) -> list[int]:
    """Live and zombie children of ``pid`` (default: this process), by
    the parent pid field of /proc/<pid>/stat."""
    pid = os.getpid() if pid is None else pid
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == pid:
            out.append(int(name))
    return out


def _reap_exited() -> bool:
    """Collect every exited child; False once none is left."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return False
        if pid == 0:
            return True


def reap_children(grace_s: float = 10.0) -> list[int]:
    """SIGTERM every child, SIGKILL those still alive after ``grace_s``,
    and wait until none is left (orphans adopted meanwhile included).
    Returns the pids that had to be signalled."""
    signalled: dict[int, int] = {}
    deadline = time.monotonic() + grace_s
    while _reap_exited():
        sig = signal.SIGKILL if time.monotonic() > deadline else signal.SIGTERM
        for pid in children():
            if signalled.get(pid) == sig:
                continue
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                continue
            signalled[pid] = sig
        time.sleep(0.02)
    return sorted(signalled)
