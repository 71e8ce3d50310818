"""Sink-inclusive, layer-traced benchmark of the access-log pipeline.

    python3 perfbench/run.py --workload {bulk,incremental,logfile,all}
        --seed N --seconds S --trace {0,1} [--tiny]

Run from the repository root. Inputs are generated from ``--seed`` before
anything is timed and cached by (seed, shape) in ``.perfbench_cache/``. One
Spark session (``local[nproc]``, heap and scan split size derived from the
host) then runs the workload closed-loop with one caller: setup, then ops
back to back until ``--seconds`` have passed and at least ``MIN_OPS`` ops
have run. Every op's output is checked against the Python oracle between
ops (untimed). The run happens in a child process; this one waits until
every process the run started has ended (``perfbench/reaper.py``).

``--trace 0`` prints the end-to-end metrics (setup_s, records_per_s,
op_s_p50, peak_rss_mb); records_per_s is the median over ops of an op's
records per second. ``--trace 1`` adds spans around every call into the
pipeline's layers, a noop-sink layer ladder and Spark's event log, and prints
the per-layer metrics instead; spans go to ``.perfbench_out/``.

The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. A failed op or output check makes
``correct`` false and the exit code 1.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.reaper import CHILD_ENV, supervise  # noqa: E402  (stdlib only)

if __name__ == "__main__" and not os.environ.get(CHILD_ENV):
    # the benchmark runs in a child; this process reaps all it leaves behind
    sys.exit(supervise([sys.executable, __file__, *sys.argv[1:]]))

import access_log_aggregator_spark  # noqa: E402,F401  (fail fast outside a checkout)

from perfbench import inputs as I  # noqa: E402
from perfbench import layers  # noqa: E402
from perfbench.trace import (  # noqa: E402
    JobTree,
    Tracer,
    descendants,
    find_jvm,
    gc_seconds,
    task_totals,
)
from perfbench.workloads import (  # noqa: E402
    SIZES,
    TINY,
    WORKLOADS,
    Bench,
    shape_of,
)

CACHE = ROOT / ".perfbench_cache"
OUT = ROOT / ".perfbench_out"
#: timed ops per run at least, even past ``--seconds``, so that an op
#: median is never the mean of two
MIN_OPS = 3
END_TO_END = [("setup_s", "s"), ("records_per_s", "1/s"), ("op_s_p50", "s"),
              ("peak_rss_mb", "MB")]


def ram_mb() -> int:
    with open("/proc/meminfo") as f:
        total = next(int(line.split()[1]) for line in f
                     if line.startswith("MemTotal:")) // 1024
    try:  # a cgroup limit below physical RAM is what this process really has
        limit = Path("/sys/fs/cgroup/memory.max").read_text().strip()
        if limit.isdigit():
            total = min(total, int(limit) // (1 << 20))
    except OSError:
        pass
    return total


def host_plan() -> dict:
    """Everything derived from the host: cores (local[N], shuffle partitions,
    generator pool), heap."""
    affinity = sorted(os.sched_getaffinity(0))
    cores = len(affinity)
    ram = ram_mb()
    return {
        "nproc": cores,
        "affinity": affinity,
        "ram_mb": ram,
        # a fifth of RAM, at least 1 GiB, at most 3 GiB: the largest op
        # holds well under 1 GiB of live data, and the host may be shared
        "heap_mb": max(1024, min(3072, ram // 5)),
        "cpu_model": next((line.split(":", 1)[1].strip()
                           for line in open("/proc/cpuinfo")
                           if line.startswith("model name")), "unknown"),
        "kernel": platform.release(),
        "python": platform.python_version(),
    }


def confine(work: Path) -> None:
    """Keep every scratch file of this process, the JVMs and the Python
    workers inside the checkout (the environment wins over spark.local.dir
    in local mode; -XX:-UsePerfData stops each JVM writing /tmp/hsperfdata)."""
    tmp = work / "tmp"
    local = work / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = str(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])


def start_session(plan: dict, work: Path, trace: bool):
    """The benchmark's own session setup on top of the program's factory."""
    from access_log_aggregator_spark.session import get_spark

    conf = {
        "spark.driver.memory": f"{plan['heap_mb']}m",
        # a heap of fixed size, so that the JVM's resident memory does not
        # depend on when its collector chose to grow the heap
        "spark.driver.extraJavaOptions": f"-Xms{plan['heap_mb']}m",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if trace:
        (work / "eventlog").mkdir(exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": str(work / "eventlog"),
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    cores = plan["nproc"]
    return get_spark(app_name="perfbench", master=f"local[{cores}]",
                     shuffle_partitions=cores, extra_conf=conf)


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark, then end the JVM and its Python workers and wait for them."""
    jvm = find_jvm(spark)
    pids = [jvm, *descendants(jvm)]
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + timeout
    for pid in pids:
        while Path(f"/proc/{pid}").exists() and time.monotonic() < deadline:
            time.sleep(0.05)
        if Path(f"/proc/{pid}").exists():
            os.kill(pid, signal.SIGKILL)


def fingerprint(plan: dict, spark) -> dict:
    import pandas
    import pyarrow

    jvm = spark.sparkContext._jvm
    return {**plan,
            "java": str(jvm.java.lang.System.getProperty("java.version")),
            "jvm_max_heap_mb": int(jvm.java.lang.Runtime.getRuntime().maxMemory()) >> 20,
            "spark": spark.version,
            "pyarrow": pyarrow.__version__,
            "pandas": pandas.__version__}


def run_workload(name, bench, tree, inp, sizes, seconds, trace_on, t_start):
    """Setup, then ops until ``seconds`` pass, then (traced) the ladder. The job
    tree's CPU and GC over the whole timed window land in ``window``."""
    w = WORKLOADS[name](bench, inp, sizes[name])
    res = {"workload": name, "problems": [], "op_s": [], "op_records": [],
           "op_info": [], "attempted": 0, "failed": 0}
    try:
        problems = w.setup()
    except Exception:  # noqa: BLE001 - a failed setup is a failed op
        problems = ["setup raised:\n" + traceback.format_exc()]
    res["attempted"] += 1
    res["failed"] += bool(problems)
    res["problems"] += problems
    res["setup_s"] = time.perf_counter() - t_start
    if problems:
        return res
    (jvm0, py0), gc0 = tree.cpu(), gc_seconds(bench.spark)
    deadline = time.perf_counter() + seconds
    i = 0
    while True:
        res["attempted"] += 1
        try:
            w.before(i)
            with bench.span("op", timed=True, index=i, workload=name):
                t = time.perf_counter()
                n = w.op(i)
                dt = time.perf_counter() - t
            problems = w.check(i)
            w.after(i)
        except Exception:  # noqa: BLE001 - count it, keep measuring
            problems = [f"op {i} raised:\n" + traceback.format_exc()]
        if problems:
            res["failed"] += 1
            res["problems"] += problems
        else:
            res["op_s"].append(dt)
            res["op_records"].append(n)
            res["op_info"].append(dict(w.op_info))
        i += 1
        if time.perf_counter() >= deadline and i >= MIN_OPS:
            break
    (jvm1, py1), gc1 = tree.cpu(), gc_seconds(bench.spark)
    res["window"] = {"jvm_cpu_s": jvm1 - jvm0, "py_cpu_s": py1 - py0,
                     "jvm_gc_s": gc1 - gc0}
    if trace_on:  # after the ops, so traced ops follow the same warm-up
        res["ladder"] = layers.run_ladder(bench, w)
    return res


def end_to_end(res: dict) -> dict:
    ops = res["op_s"]
    return {
        "setup_s": res["setup_s"],
        "records_per_s": statistics.median(
            n / t for n, t in zip(res["op_records"], ops)) if ops else 0.0,
        "op_s_p50": statistics.median(ops) if ops else 0.0,
        "peak_rss_mb": res["peak_rss_mb"],
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="tiny inputs (the benchmark's own smoke test)")
    args = ap.parse_args(argv)
    # a SIGTERM (forwarded by the supervisor) unwinds through the finally
    # blocks below, so the session is stopped and the work dir removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    plan = host_plan()
    sizes = TINY if args.tiny else SIZES
    names = sorted(WORKLOADS) if args.workload == "all" else [args.workload]

    work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    confine(work)

    # untimed: seeded inputs + oracle expectations, cached by (seed, shape)
    t = time.perf_counter()
    inputs = {n: I.materialize(CACHE, shape_of(n, sizes), args.seed,
                               plan["nproc"]) for n in names}
    prep_s = time.perf_counter() - t

    trace_on = bool(args.trace)
    results, tree, spark, tracer = [], None, None, None
    try:
        t_start = time.perf_counter()
        spark = start_session(plan, work, trace_on)
        session_s = time.perf_counter() - t_start
        tree = JobTree(find_jvm(spark))
        tracer = Tracer(spark, tree) if trace_on else None
        if tracer:
            tracer.spans.append({"id": f"{tracer.run_id}-session",
                                 "name": "session.get_spark", "parent": None,
                                 "run_id": tracer.run_id, "start": t_start,
                                 "end": t_start + session_s})
        bench = Bench(spark, work, plan["nproc"], tracer)
        host = fingerprint(plan, spark)
        for n in names:
            res = run_workload(n, bench, tree, inputs[n], sizes,
                               args.seconds, trace_on, t_start)
            res["peak_rss_parts_mb"] = tree.peak_rss_parts_mb()
            res["peak_rss_mb"] = sum(res["peak_rss_parts_mb"])
            results.append(res)
            t_start = time.perf_counter()
    finally:
        if tree:
            tree.close()
        if spark is not None:
            stop_session(spark)
    try:
        totals = task_totals(work / "eventlog") if trace_on else {}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics: dict[str, dict] = {}
    lines = []
    for res in results:
        n = res["workload"]
        prefix = "" if len(results) == 1 else f"{n}."
        e2e = end_to_end(res)
        units = dict(END_TO_END)
        ratio = res["failed"] / res["attempted"]
        for k, v in e2e.items():
            lines.append(f"[{n}] {k:<14} {v:>12.4f} {units[k]}")
        lines.append(f"[{n}] {'failed_ratio':<14} {ratio:>12.4f} "
                     f"({res['failed']}/{res['attempted']} ops)")
        lines.append("[{}] peak_rss_mb = JVM {:.1f} + Python {:.1f} MB"
                     .format(n, *res["peak_rss_parts_mb"]))
        lines.append(f"[{n}] timed ops n={len(res['op_s'])}, "
                     f"{sum(res['op_records'])} records, op_s="
                     + ",".join(f"{x:.3f}" for x in res["op_s"]))
        if trace_on and "ladder" in res:
            per_layer = layers.per_layer(res, tracer.spans, totals, n)
            for k, (v, unit) in per_layer.items():
                metrics[prefix + k] = {"value": v, "unit": unit}
                lines.append(f"[{n}] {k:<46} {v:>14.4f} {unit}")
        else:
            for k, v in e2e.items():
                metrics[prefix + k] = {"value": v, "unit": units[k]}
        for p in res["problems"]:
            lines.append(f"[{n}] FAILED CHECK: {p}")

    attempted = sum(r["attempted"] for r in results)
    failed = sum(r["failed"] for r in results)
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, "tiny": args.tiny,
              "host": host, "prep_s": prep_s, "session_s": session_s,
              "input_digests": {n: inputs[n].digest for n in names},
              "results": results, "metrics": metrics}
    OUT.mkdir(exist_ok=True)
    stem = f"{args.workload}-s{args.seed}-t{args.trace}"
    (OUT / f"result-{stem}.json").write_text(json.dumps(record, indent=1))
    if tracer:
        tracer.write(OUT / f"spans-{stem}.json", {"task_totals": totals})

    print("host " + json.dumps(host, sort_keys=True))
    print(f"prep_s {prep_s:.2f} (input + oracle generation, untimed); "
          f"session_s {session_s:.2f}")
    print("\n".join(lines))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
