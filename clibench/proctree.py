"""Run a command and account for its whole process tree.

pyspark starts the JVM through spark-submit and never waits for it, so
when the Python driver exits the JVM (and the Python workers it forked)
are orphaned.  A plain ``RUSAGE_CHILDREN`` read then misses nearly all
of the tree's CPU.  This module makes the calling process a child
subreaper (Linux ``PR_SET_CHILD_SUBREAPER``): orphaned descendants are
re-parented to it, and ``run_tree`` reaps every one of them with
``wait4`` before it reports CPU seconds and peak RSS.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import time
from dataclasses import dataclass

_PR_SET_CHILD_SUBREAPER = 36
# How long descendants may outlive the command before they are killed.
LINGER_S = 30.0


def become_subreaper() -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


@dataclass
class TreeUsage:
    returncode: int
    wall_s: float
    cpu_s: float  # user + system seconds over every reaped process
    peak_rss_mb: float  # largest single-process peak RSS in the tree


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(x) for x in f.read().split())
        except OSError:
            pass
    return out


def _kill_descendants() -> None:
    todo = _children(os.getpid())
    while todo:
        pid = todo.pop()
        todo.extend(_children(pid))
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def run_tree(
    argv: list[str],
    env: dict[str, str],
    cwd: str,
    timeout_s: float,
    log_path: str,
) -> TreeUsage:
    """Run ``argv`` to completion, then reap all of its descendants.

    Descendants still alive ``LINGER_S`` seconds after the command
    exits (or anything alive at ``timeout_s``) are killed, so the call
    never returns while a process it started is running.  The caller
    must have called :func:`become_subreaper` and must have no other
    children, because every child is reaped here.
    """
    t0 = time.perf_counter()
    with open(log_path, "ab") as log:
        proc = subprocess.Popen(
            argv, env=env, cwd=cwd, stdin=subprocess.DEVNULL,
            stdout=log, stderr=subprocess.STDOUT,
        )
    cpu = 0.0
    peak_kb = 0
    returncode = -1
    exited_at: float | None = None
    while True:
        try:
            pid, status, ru = os.wait4(-1, os.WNOHANG)
        except ChildProcessError:
            break
        if pid == 0:
            now = time.perf_counter()
            if now - t0 > timeout_s or (
                exited_at is not None and now - exited_at > LINGER_S
            ):
                _kill_descendants()
            time.sleep(0.02)
            continue
        cpu += ru.ru_utime + ru.ru_stime
        peak_kb = max(peak_kb, ru.ru_maxrss)
        if pid == proc.pid:
            returncode = os.waitstatus_to_exitcode(status)
            exited_at = time.perf_counter()
            # Popen must not wait on a pid that is already reaped.
            proc.returncode = returncode
    # The loop ends only once every child, ``proc`` included, is reaped.
    assert exited_at is not None
    return TreeUsage(
        returncode=returncode,
        wall_s=exited_at - t0,
        cpu_s=cpu,
        peak_rss_mb=peak_kb / 1024.0,
    )
