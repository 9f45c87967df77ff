"""Process-tree bookkeeping for one benchmark run, read from ``/proc``.

The run becomes a child subreaper, so processes that lose their parent
(the Python daemon Spark's JVM forks, its workers) are re-parented to the
run instead of to init. Every process the run starts therefore stays in
its ``/proc`` subtree until it has exited and been reaped, which lets
:func:`stop_tree` wait for all of them and lets the self-test see any
survivor.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

PR_SET_CHILD_SUBREAPER = 36
#: teardown: how long descendants may take to exit on their own, and how
#: long after each SIGTERM / SIGKILL round
GRACE_S, KILL_AFTER_S = 20.0, 5.0


def become_subreaper() -> bool:
    """Make orphaned descendants re-parent to this process (Linux only)."""
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong,
                               ctypes.c_ulong, ctypes.c_ulong]
        libc.prctl.restype = ctypes.c_int
        return libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) == 0
    except (OSError, AttributeError):
        return False


def _stat(pid: int) -> tuple[int, str] | None:
    """(parent pid, state letter) of ``pid``, or None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    # the command name is parenthesised and may hold spaces or ')'
    fields = raw[raw.rindex(")") + 2:].split()
    return int(fields[1]), fields[0]


def descendants(root: int | None = None) -> list[int]:
    """Pids of every live (non-zombie) process below ``root``."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None and st[1] != "Z":
            children.setdefault(st[0], []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def vm_hwm_kb(pid: int) -> int:
    """Peak resident set size (VmHWM) of one process in KiB, 0 if gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum of VmHWM over ``root`` and its live descendants, in MiB."""
    root = os.getpid() if root is None else root
    return sum(vm_hwm_kb(p) for p in [root, *descendants(root)]) / 1024.0


def reap() -> None:
    """Collect the exit status of every child that has already ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _signal_all(pids: list[int], sig: int) -> None:
    for p in pids:
        try:
            os.kill(p, sig)
        except ProcessLookupError:
            pass


def stop_tree() -> list[int]:
    """Wait until no descendant of this process is left, reaping as they end.

    Descendants get ``GRACE_S`` to exit on their own (the JVM and the
    Python daemon exit once their parent's pipes close), then SIGTERM, then
    SIGKILL after a further ``KILL_AFTER_S``. Returns the pids still alive
    at the end, which is empty unless a process ignores SIGKILL.
    """
    deadline = time.monotonic() + GRACE_S
    stage = 0
    while True:
        reap()
        left = descendants()
        if not left:
            return []
        now = time.monotonic()
        if now >= deadline:
            if stage == 0:
                _signal_all(left, signal.SIGTERM)
            elif stage == 1:
                _signal_all(left, signal.SIGKILL)
            else:
                return left
            stage += 1
            deadline = now + KILL_AFTER_S
        time.sleep(0.05)
