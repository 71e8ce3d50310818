"""The benchmark's own checks: seeded inputs reproduce, a tiny pass of
every workload completes with no failed op, and the supervisor leaves no
process behind.

    python3 -m pytest perfbench/ -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import re
import subprocess
import sys
from pathlib import Path

from perfbench import inputs as I
from perfbench.workloads import TINY, WORKLOADS, shape_of

ROOT = Path(__file__).resolve().parent.parent


def test_seed_reproduces_inputs(tmp_path):
    for name in WORKLOADS:
        shape = shape_of(name, TINY)
        a = I.materialize(tmp_path / "a", shape, seed=7, procs=2)
        b = I.materialize(tmp_path / "b", shape, seed=7, procs=1)
        c = I.materialize(tmp_path / "c", shape, seed=8, procs=2)
        assert a.digest == b.digest, name
        assert a.expect == b.expect, name
        assert a.digest != c.digest, name


def test_cache_hit_returns_same_entry(tmp_path):
    shape = shape_of("logfile", TINY)
    a = I.materialize(tmp_path, shape, seed=3, procs=2)
    b = I.materialize(tmp_path, shape, seed=3, procs=2)
    assert a.root == b.root and a.digest == b.digest


def test_tiny_pass_of_every_workload():
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "all", "--tiny",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stdout[-4000:] + proc.stderr[-4000:]
    last = json.loads(proc.stdout.strip().splitlines()[-1])
    assert last["correct"] is True
    assert last["failed"] == 0 and last["attempted"] >= 2 * len(WORKLOADS)
    for name in WORKLOADS:
        assert last["metrics"][f"{name}.records_per_s"]["value"] > 0
        assert re.search(rf"^\[{name}\] failed_ratio +0\.0000 ", proc.stdout,
                         re.MULTILINE), proc.stdout


def test_supervisor_reaps_what_the_run_leaves_behind():
    # the child exits at once and leaves a grandchild that would sleep for a
    # minute; the supervisor must return the child's code with nothing left
    orphaning = ("import subprocess, sys; subprocess.Popen([sys.executable, "
                 "'-c', 'import time; time.sleep(60)']); sys.exit(3)")
    script = (
        "import json, os, sys, time\n"
        "from perfbench.reaper import supervise\n"
        "from perfbench.trace import descendants\n"
        "t = time.monotonic()\n"
        f"rc = supervise([sys.executable, '-c', {orphaning!r}], grace_s=0.5)\n"
        "print(json.dumps([rc, descendants(os.getpid()), time.monotonic() - t]))\n")
    proc = subprocess.run([sys.executable, "-c", script], cwd=ROOT,
                          capture_output=True, text=True, timeout=60)
    assert proc.returncode == 0, proc.stderr
    rc, left, took = json.loads(proc.stdout)
    assert rc == 3 and left == [] and took < 30, proc.stdout
