"""Every process the benchmark starts has ended before it exits.

Spark's JVM starts a Python worker daemon that forks the workers; when the
JVM stops they are orphaned and can outlive the benchmark, and
multiprocessing's resource tracker only exits once its parent has.
``adopt_orphans`` makes this process the subreaper of everything it starts,
so orphaned descendants become its children, and ``reap_all`` waits for
every child, stopping the stragglers.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time
from multiprocessing import resource_tracker

PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def children() -> list[int]:
    """Pids whose parent is this process, zombies included."""
    me, kids = os.getpid(), []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces and parentheses; the fields after
        # its closing parenthesis are state, then the parent pid
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            kids.append(int(entry))
    return kids


def _wait_any(until: float) -> bool:
    """Reap children until none is left (True) or ``until`` passes."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return True
        if pid:
            continue
        if time.monotonic() >= until:
            return False
        time.sleep(0.05)


def _signal_all(sig: int) -> None:
    for pid in children():
        try:
            os.kill(pid, sig)
        except ProcessLookupError:
            pass


def reap_all(grace_s: float = 5.0) -> None:
    """Wait for every child and adopted orphan: ``grace_s`` to end on their
    own, ``grace_s`` more after SIGTERM, then SIGKILL."""
    resource_tracker._resource_tracker._stop()  # closes its pipe, waits for it
    if _wait_any(time.monotonic() + grace_s):
        return
    _signal_all(signal.SIGTERM)
    if _wait_any(time.monotonic() + grace_s):
        return
    # a killed child's own children are adopted in turn: kill until none is left
    while True:
        _signal_all(signal.SIGKILL)
        if _wait_any(time.monotonic() + 0.5):
            return
