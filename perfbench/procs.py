"""Process bookkeeping: every process a run starts ends before the run does.

``run.py`` makes itself a child subreaper, so processes whose parent exits
first (the Python daemon the JVM forks, the reference's worker pool and its
resource tracker) are re-parented to it rather than to init; when the run
ends it stops and reaps every process still under it. The run's process
and the reference's workers die with their parent, and the JVM exits when
the pipe from its Python driver closes, so a killed run leaves none behind.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

PR_SET_PDEATHSIG = 1
PR_SET_CHILD_SUBREAPER = 36


def _prctl(option: int, arg: int) -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(option, arg, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), f"prctl({option}, {arg})")


def become_subreaper() -> None:
    _prctl(PR_SET_CHILD_SUBREAPER, 1)


def die_with_parent() -> None:
    """SIGKILL this process when its parent exits."""
    _prctl(PR_SET_PDEATHSIG, signal.SIGKILL)


def descendants(pid: int) -> list[int]:
    """Every process under ``pid``, zombies included: a process whose main
    thread has exited shows as a zombie, yet its other threads and its
    children may still run."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _reap() -> None:
    """Collect every exited child of this process."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_all(grace_s: float = 8.0) -> None:
    """SIGTERM, then SIGKILL, every process under this one; return when
    none is left and each has been reaped."""
    me = os.getpid()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        sent: set[int] = set()
        t_end = time.monotonic() + grace_s
        while True:
            _reap()
            left = descendants(me)
            if not left:
                return
            if time.monotonic() > t_end:
                break
            for pid in set(left) - sent:  # those forked meanwhile too
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
                sent.add(pid)
            time.sleep(0.05)

