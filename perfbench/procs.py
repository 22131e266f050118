"""The processes a run starts, and stopping all of them before it exits.

A Spark session starts a JVM, and the JVM starts a Python worker daemon
that forks workers. Left alone, the JVM exits some time after this
interpreter (when its stdin closes), so a run could end with its
processes still running. Instead the run makes itself the subreaper of
everything it starts, so that orphaned workers become its own children,
and before exiting stops the JVM and waits for every descendant to end.
"""

from __future__ import annotations

import ctypes
import os
import signal
import sys
import time

PR_SET_CHILD_SUBREAPER = 36


def children() -> dict[int, list[int]]:
    """Parent pid → pids of its children, from /proc."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    kids = children()
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def become_subreaper() -> None:
    """Orphaned descendants are re-parented to this process, not to init,
    so that it can wait for them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def stop_jvm() -> None:
    """Stop the active Spark session, if any, and then its JVM: the JVM
    exits when its stdin closes."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    sc, gw = SparkContext._active_spark_context, SparkContext._gateway
    if sc is not None:
        sc.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None and proc.stdin is not None:
        proc.stdin.close()


def _reap() -> None:
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


def stop_descendants(grace_s: float = 30.0) -> None:
    """Wait until every descendant of this process has ended, reaping
    each; after ``grace_s`` send SIGTERM to those still running, and
    SIGKILL five seconds later. Gives up ten seconds after that."""
    t0 = time.monotonic()
    sent = None
    while True:
        _reap()
        left = descendants(os.getpid())
        if not left:
            return
        waited = time.monotonic() - t0
        if waited > grace_s + 15:
            return
        sig = (signal.SIGKILL if waited > grace_s + 5 else
               signal.SIGTERM if waited > grace_s else None)
        if sig is not None and sig != sent:
            for pid in left:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            sent = sig
        time.sleep(0.05)
