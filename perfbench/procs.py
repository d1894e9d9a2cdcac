"""Process bookkeeping of a benchmark run: every process a run starts
has ended before the run exits.

The run makes itself a child subreaper, so a descendant orphaned when
its parent exits (Spark's Python daemon when the JVM goes, the
multiprocessing resource tracker's children) is re-parented to the run
rather than to init. ``reap_all`` then stops whatever is left and waits
for each process.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

PR_SET_CHILD_SUBREAPER = 36
POLL_S = 0.05
TERM_GRACE_S = 5.0


def become_subreaper() -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue  # exited while listing
        children.setdefault(ppid, []).append(int(name))
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def _reap_exited() -> None:
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _signal_all(pids, sig) -> None:
    for pid in pids:
        try:
            os.kill(pid, sig)
        except ProcessLookupError:
            pass


def _stop_resource_tracker() -> None:
    """The tracker a spawn pool starts lives until its parent exits;
    closing its pipe ends it now (it ignores SIGTERM)."""
    from multiprocessing import resource_tracker

    stop = getattr(resource_tracker._resource_tracker, "_stop", None)
    if stop is not None:
        stop()


def reap_all(grace_s: float = 5.0) -> None:
    """Wait until this process has no descendant left: ``grace_s`` for
    them to exit on their own, then SIGTERM, then SIGKILL."""
    _stop_resource_tracker()
    me = os.getpid()
    term_at = time.monotonic() + grace_s
    kill_at = term_at + TERM_GRACE_S
    sent = None
    while True:
        _reap_exited()
        left = [p for p in process_tree(me) if p != me]
        if not left:
            return
        now = time.monotonic()
        if now >= kill_at:
            _signal_all(left, signal.SIGKILL)
            sent = signal.SIGKILL
        elif now >= term_at and sent is None:
            _signal_all(left, signal.SIGTERM)
            sent = signal.SIGTERM
        time.sleep(POLL_S)
