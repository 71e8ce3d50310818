"""Per-layer metrics of a traced run, computed from its spans.

Layer self times come from a cumulative noop-sink ladder on the workload's
main batch (scan, +Arrow extract UDF, +parse_stage, +enrich, +route), then
from the real calls each op makes (process_batch, write_aggregates, analyze;
or, for the log-file mode, the summary aggregation). A rung's self time is
its span minus the rung below it (``ladder_child``); a real call's self time
is its span minus the ladder rung that covers its dataflow.

Metrics of a layer a workload does not exercise are reported as 0.
"""

from __future__ import annotations

import statistics
import time

from .workloads import ladder_rungs, noop

LADDER_PASSES = 2  # the first pass warms the rung plans; the last is kept


def run_ladder(bench, w) -> dict:
    rungs = ladder_rungs(w.source, bench.lookup)
    kept: dict[str, dict] = {}
    for p in range(LADDER_PASSES):
        below = None
        for name, plan in rungs:
            with bench.span(f"ladder.{name}", ladder_pass=p,
                            ladder_child=below) as rec:
                t = time.perf_counter()
                noop(plan())
                rec["wall_s"] = time.perf_counter() - t
            below = rec["id"]
            kept[name] = rec
    return {"records": w.records, "scan_bytes": w.scan_bytes, "rungs": kept}


def _children(spans: list[dict]) -> dict[str, list[dict]]:
    kids: dict[str, list[dict]] = {}
    for s in spans:
        if s.get("parent"):
            kids.setdefault(s["parent"], []).append(s)
    return kids


def _subtree_totals(span: dict, kids: dict, totals: dict) -> dict[str, float]:
    out: dict[str, float] = {}
    todo = [span]
    while todo:
        s = todo.pop()
        for k, v in totals.get(s["id"], {}).items():
            out[k] = out.get(k, 0) + v
        todo.extend(kids.get(s["id"], []))
    return out


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def per_layer(res: dict, spans: list[dict], totals: dict,
              workload: str) -> dict[str, tuple[float, str]]:
    kids = _children(spans)
    ops = [s for s in spans if s["name"] == "op" and s.get("timed")
           and s.get("workload") == workload]

    def under_ops(name):  # the op's direct calls named ``name``, in op order
        return [c for o in ops for c in kids.get(o["id"], [])
                if c["name"] == name]

    r = res["ladder"]["rungs"]
    recs = res["ladder"]["records"]
    s = {k: v["wall_s"] for k, v in r.items()}
    l1 = _subtree_totals(r["L1.parse_udf"], kids, totals)
    pages = workload in ("bulk", "incremental")
    session = next(x for x in spans if x["name"] == "session.get_spark")
    info = res["op_info"]

    pb = _med(_dur(x) for x in under_ops("plans.process_batch"))
    wa = under_ops("plans.write_aggregates")
    an = under_ops("sources.tableio.analyze")
    by_host = under_ops("operators.aggregate.by_host")
    rows_scanned = [
        _subtree_totals(x, kids, totals).get("records_read", 0) / i["rows_in"]
        for x, i in zip(wa, info) if i.get("rows_in")]

    return {
        "session.get_spark_s": (_dur(session), "s"),
        # rung 0 is the workload's source scan: pages, or the log files
        "sources.scan_s": (s["L0.scan"], "s"),
        # input file bytes: Spark's own bytesRead undercounts vectorized
        # parquet reads several-fold, so it is not used
        "sources.scan_bytes_per_record": (res["ladder"]["scan_bytes"] / recs,
                                          "bytes"),
        "sources.logfiles.read_s": (0.0 if pages else s["L0.scan"], "s"),
        "functions.parse_udf.s": (s["L1.parse_udf"] - s["L0.scan"], "s"),
        "functions.parse_udf.py_cpu_s": (
            r["L1.parse_udf"]["py_cpu_s"] - r["L0.scan"]["py_cpu_s"], "s"),
        "functions.parse_udf.arrow_bytes_per_record": (
            l1.get("arrow_bytes", 0) / recs, "bytes"),
        "operators.parse.s": (s["L2.parse_stage"] - s["L1.parse_udf"], "s"),
        "operators.parse.jvm_cpu_s": (
            r["L2.parse_stage"]["jvm_cpu_s"] - r["L1.parse_udf"]["jvm_cpu_s"], "s"),
        "operators.enrich.s": (s["L3.enrich"] - s["L2.parse_stage"], "s"),
        "operators.route.s": (s["L4.route"] - s["L3.enrich"], "s"),
        "plans.build_routed.s": (s["L4.route"], "s"),
        "sources.tableio.write_commit_s": (
            pb - s["L4.route"] if pages else 0.0, "s"),
        "sources.tableio.files_committed": (
            _med(i.get("files_committed", 0) for i in info), "count"),
        "sources.tableio.bytes_written_per_record": (
            _med(i["bytes_committed"] / i["rows_in"] for i in info
                 if i.get("rows_in") and "bytes_committed" in i), "bytes"),
        "plans.write_aggregates.s": (_med(_dur(x) for x in wa), "s"),
        "operators.aggregate.rows_scanned_per_new_row": (_med(rows_scanned), "ratio"),
        "operators.aggregate.by_host_s": (
            _med(_dur(x) for x in by_host) - s["L4.route"] if by_host else 0.0, "s"),
        "sources.tableio.analyze_s": (_med(_dur(x) for x in an), "s"),
        "sources.tableio.files_swept": (
            _med(i.get("files_swept", 0) for i in info), "count"),
        "op.job_cpu_s": (_med(o["job_cpu_s"] for o in ops), "s"),
        "op.jvm_cpu_s": (_med(o["jvm_cpu_s"] for o in ops), "s"),
        "op.py_cpu_s": (_med(o["py_cpu_s"] for o in ops), "s"),
        "op.jvm_gc_s": (_med(o["jvm_gc_s"] for o in ops), "s"),
        "trace.records_per_s": (_med(n / t for n, t in
                                     zip(res["op_records"], res["op_s"])),
                                "1/s"),
    }
