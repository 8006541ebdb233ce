"""Every process a run starts ends with the run.

The run makes itself a child subreaper (Linux ``PR_SET_CHILD_SUBREAPER``):
a process that outlives its parent, such as a Spark Python worker whose JVM
has exited, is re-parented to the run instead of to init. ``reap_all`` then
ends and waits for every child still there."""

from __future__ import annotations

import ctypes
import os
import signal
import time

_PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    try:
        ctypes.CDLL(None, use_errno=True).prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass  # not Linux: orphans go to init, reap_all still ends direct children


def children(pid: int | None = None) -> list[int]:
    """Pids whose parent is ``pid`` (default: this process), zombies included."""
    me = os.getpid() if pid is None else pid
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # "pid (comm) state ppid ...": comm may hold spaces and parentheses
        fields = stat[stat.rindex(")") + 2:].split()
        if int(fields[1]) == me:
            out.append(int(name))
    return out


def _signal(pids, sig) -> None:
    for pid in pids:
        try:
            os.kill(pid, sig)
        except ProcessLookupError:
            pass


def reap_all(grace_s: float = 10.0) -> int:
    """SIGTERM every child left (and every orphan re-parented here while
    they end), SIGKILL those still running after ``grace_s``, and wait for
    each. Returns how many there were."""
    seen: set[int] = set()
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return len(seen)
        if pid:
            seen.add(pid)
            continue
        now = children()
        if time.monotonic() > deadline:
            _signal(now, signal.SIGKILL)
        else:
            _signal([p for p in now if p not in seen], signal.SIGTERM)
        seen.update(now)
        time.sleep(0.05)
