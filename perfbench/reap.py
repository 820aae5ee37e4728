"""End every process the benchmark started before the benchmark exits.

A run starts the JVM, which forks the Python daemon and its workers, and
on a fresh checkout the page-pool render starts multiprocessing workers
and multiprocessing's resource tracker. Some of them can outlive their
parent: the daemon's workers when the daemon exits first, the resource
tracker until the interpreter has exited. ``subreaper()`` makes this
process adopt every orphaned descendant, so ``reap()`` can end all of
them and wait for each.
"""

from __future__ import annotations

import ctypes
import os
import signal
import sys
import time

_PR_SET_CHILD_SUBREAPER = 36
GRACE_S = 10.0  # time the children get to exit by themselves
TERM_S = 5.0  # time between SIGTERM and SIGKILL
POLL_S = 0.05


def subreaper() -> None:
    """Adopt every descendant whose parent exits (Linux prctl)."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, f"prctl(PR_SET_CHILD_SUBREAPER): {os.strerror(err)}")


def _children() -> list[int]:
    """Pids whose parent is this process, zombies included."""
    me, out = os.getpid(), []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                raw = f.read()
        except OSError:  # exited while listing
            continue
        if int(raw[raw.rfind(b")") + 2:].split()[1]) == me:
            out.append(int(name))
    return out


def _collect_exited() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _stop_resource_tracker() -> None:
    """The tracker ignores SIGTERM and exits when its pipe closes."""
    tracker = sys.modules.get("multiprocessing.resource_tracker")
    stop = getattr(getattr(tracker, "_resource_tracker", None), "_stop", None)
    if stop is not None:
        stop()


def reap() -> None:
    """Wait for every child (adopted ones too) to exit: GRACE_S to exit by
    itself, then SIGTERM, then SIGKILL after TERM_S more; returns once none
    is left."""
    _stop_resource_tracker()
    start = time.monotonic()
    while True:
        _collect_exited()
        children = _children()
        if not children:
            return
        waited = time.monotonic() - start
        sig = (signal.SIGKILL if waited >= GRACE_S + TERM_S
               else signal.SIGTERM if waited >= GRACE_S else None)
        for pid in children if sig else ():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(POLL_S)


def _exit_on_signal(signum, frame) -> None:
    raise SystemExit(128 + signum)


def guarded(main) -> int:
    """Run main() as a subreaper and reap on every way out of it, a
    SIGTERM included."""
    subreaper()
    signal.signal(signal.SIGTERM, _exit_on_signal)
    try:
        return main()
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        reap()
