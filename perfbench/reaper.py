"""Run the benchmark in a child process and leave no process behind.

The benchmark starts processes it does not own the lifetime of: the
generator pool's ``spawn`` resource tracker, the Spark JVM, the PySpark
daemon and its forked workers. Each of these exits on its own once its
parent is gone, but only some time later, and an orphan is reparented away
from the benchmark. :func:`supervise` makes this process a child subreaper
(``PR_SET_CHILD_SUBREAPER``), so every orphan of the run is reparented here,
runs the benchmark as its child, and on exit waits for every remaining
descendant, killing the ones still alive after a grace period. It returns
only when this process has no child left. Standard library only, so it
works before the program can be imported.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import time

from .trace import descendants

PR_SET_CHILD_SUBREAPER = 36
#: the benchmark child sees this set and runs the benchmark itself
CHILD_ENV = "PERFBENCH_SUPERVISED"


def _become_subreaper() -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, os.strerror(err))


def reap_all(grace_s: float) -> None:
    """Reap every child (orphans included) until none is left; SIGKILL the
    descendants still alive ``grace_s`` seconds from now."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() >= deadline:
            for p in descendants(os.getpid()):
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def supervise(argv: list[str], grace_s: float = 10.0) -> int:
    """Run ``argv`` as the benchmark child; return its exit code once it and
    every process it left behind have ended."""
    _become_subreaper()
    child = subprocess.Popen(argv, env={**os.environ, CHILD_ENV: "1"})

    def forward(signum, _frame):
        try:
            child.send_signal(signum)
        except ProcessLookupError:
            pass

    old = {s: signal.signal(s, forward) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        rc = child.wait()
    finally:
        for s, h in old.items():
            signal.signal(s, h)
        reap_all(grace_s)
    return rc if rc >= 0 else 128 - rc
