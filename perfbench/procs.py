"""Every process a run starts ends before the run does.

A run starts the Spark JVM (a child of the driver process), the Python
workers the JVM forks, and the oracle worker. ``SparkSession.stop()``
leaves the JVM running until the driver's exit closes its stdin, and the
JVM's Python workers may outlive it by a moment. So the run makes itself
a child subreaper, which turns every orphaned descendant into its own
child, closes the JVM's stdin, and waits for all of them.
"""

from __future__ import annotations

import ctypes
import os
import signal
import sys
import time

PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Make orphaned descendants children of this process, so it can
    wait for each of them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, f"prctl(PR_SET_CHILD_SUBREAPER): {os.strerror(err)}")


def descendants(pid: int) -> list[int]:
    """Pids of every live process below ``pid`` in the process tree."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rpartition(")")[2].split()
        except OSError:
            continue  # ended meanwhile
        if fields[0] != "Z":
            children.setdefault(int(fields[1]), []).append(int(entry))
    found, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), ()):
            found.append(child)
            todo.append(child)
    return found


def close_jvm_stdin() -> None:
    """Let the Spark JVM exit: its gateway server ends on EOF of stdin."""
    pyspark_context = sys.modules.get("pyspark.core.context")
    gateway = getattr(getattr(pyspark_context, "SparkContext", None),
                      "_gateway", None)
    proc = getattr(gateway, "proc", None)
    if proc is not None and proc.stdin is not None and not proc.stdin.closed:
        try:
            proc.stdin.close()
        except OSError:
            pass


def _reap() -> bool:
    """Collect every ended child; True when no child is left."""
    try:
        while os.waitpid(-1, os.WNOHANG)[0] > 0:
            pass
    except ChildProcessError:
        return True
    return False


def wait_all(grace_s: float = 60.0, kill_after_s: float = 10.0) -> list[int]:
    """Wait until no descendant of this process runs. Descendants still
    running after ``grace_s`` get SIGTERM, and SIGKILL ``kill_after_s``
    later. Returns the pids that had to be signalled."""
    close_jvm_stdin()
    me = os.getpid()
    start = time.monotonic()
    sent: set[tuple[int, int]] = set()
    while True:
        no_children = _reap()
        left = descendants(me)
        if no_children and not left:
            return sorted({pid for pid, _ in sent})
        waited = time.monotonic() - start
        sig = (signal.SIGKILL if waited > grace_s + kill_after_s
               else signal.SIGTERM if waited > grace_s else None)
        for pid in left if sig is not None else ():
            if (pid, sig) not in sent:
                sent.add((pid, sig))
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.02)
