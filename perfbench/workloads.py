"""The three workloads: what one op calls, how its output is checked, and the
noop-sink layer ladder the traced run adds.

Every op goes through the pipeline's public calls in the order a CLI run
makes them; the benchmark adds only the spans around those calls (which are
no-ops unless tracing) and the untimed output checks between ops.
"""

from __future__ import annotations

import math
import shutil
from contextlib import nullcontext
from datetime import datetime
from pathlib import Path
from typing import Callable

from .inputs import Batch, Inputs, Shape, merge_expect

#: default sizes: each op runs a few seconds on a 4-vCPU host
SIZES = {
    "bulk": {"pages": 15_000},
    "incremental": {"history": 25_000, "tick": 2_500, "ticks": 4},
    "logfile": {"lines": 100_000},
}
#: --tiny sizes: the benchmark's own smoke test
TINY = {
    "bulk": {"pages": 600},
    "incremental": {"history": 1_000, "tick": 100, "ticks": 2},
    "logfile": {"lines": 1_000},
}
#: checked, untimed warm-up ops of the setup: op time keeps falling over the
#: first several ops of a session (JIT, generated code, Python workers), most
#: of it a per-op cost that a smaller batch would not make cheaper
WARM_OPS = 3
#: the summary header embeds wall time; pin it so the text compares exactly
SUMMARY_NOW = datetime(2025, 1, 1)


def shape_of(name: str, sizes: dict) -> Shape:
    s = sizes[name]
    if name == "bulk":
        return Shape("pages", (Batch("batch", 0, s["pages"]),))
    if name == "incremental":
        h, t = s["history"], s["tick"]
        return Shape("pages", (Batch("history", 0, h),) + tuple(
            Batch(f"tick{k}", h + k * t, t) for k in range(s["ticks"])))
    return Shape("logs", (Batch("lines", 0, s["lines"]),))


def host_rows_problems(got: dict[str, tuple], want: dict) -> list[str]:
    """Compare host -> (total, 2xx, dur_sum) with the oracle fold."""
    problems = []
    if set(got) != set(want):
        problems.append(f"host sets differ: {len(got)} vs {len(want)} hosts, "
                        f"e.g. {sorted(set(got) ^ set(want))[:3]}")
    for h in sorted(set(got) & set(want)):
        n, n2, d = got[h]
        wn, wn2, wd = want[h]
        if (n, n2) != (wn, wn2) or not math.isclose(d, wd, rel_tol=1e-9):
            problems.append(f"host {h}: got {(n, n2, d)} want {(wn, wn2, wd)}")
    return problems


def counts_problems(counts: dict, rows_in: int, want: dict) -> list[str]:
    problems = []
    if sum(counts.values()) != rows_in:
        problems.append(f"class counts {counts} do not sum to rows_in {rows_in}")
    if rows_in != sum(want.values()):
        problems.append(f"rows_in {rows_in} != {sum(want.values())} generated")
    if {c: counts.get(c, 0) for c in want} != want:
        problems.append(f"class counts {counts} != oracle {want}")
    return problems


class Bench:
    """What the workloads share: session, lookup dim, work dir, tracer."""

    def __init__(self, spark, work: Path, cores: int, tracer=None):
        from access_log_aggregator_spark.sources.pages import generate_host_lookup

        self.spark = spark
        self.work = work
        self.cores = cores
        self.tracer = tracer
        self.lookup = spark.createDataFrame(generate_host_lookup())

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer else nullcontext({})

    def set_split(self, total_bytes: int) -> None:
        """Scan split size from the host: about two waves of tasks per core."""
        target = max(1 << 20, total_bytes // (2 * self.cores))
        self.spark.conf.set("spark.sql.files.maxPartitionBytes", str(target))


class Workload:
    """One op is timed; before/check/after are not."""

    name = ""

    def __init__(self, bench: Bench, inputs: Inputs, sizes: dict):
        self.b = bench
        self.inputs = inputs
        self.sizes = sizes
        self.records = 0  # input records per op
        self.scan_bytes = 0  # input file bytes per op
        self.op_info: dict = {}  # what the last op committed/swept

    def setup(self) -> list[str]:  # pragma: no cover - interface
        raise NotImplementedError

    def before(self, i: int) -> None:
        pass

    def op(self, i: int) -> int:  # pragma: no cover - interface
        raise NotImplementedError

    def check(self, i: int) -> list[str]:  # pragma: no cover - interface
        raise NotImplementedError

    def after(self, i: int) -> None:
        shutil.rmtree(self._out(i), ignore_errors=True)

    def warm_up(self) -> list[str]:
        """``WARM_OPS`` ops on the main batch, each checked (op index -1)."""
        problems = []
        for _ in range(WARM_OPS):
            self.before(-1)
            self.op(-1)
            problems += self.check(-1)
            self.after(-1)
        return problems

    def _out(self, i: int) -> Path:
        return self.b.work / f"{self.name}-out-{i}"

    def source(self):  # pragma: no cover - interface
        """The main batch as a pages-shaped DataFrame (ladder rung 0)."""
        raise NotImplementedError

    # -- shared pieces ---------------------------------------------------------
    def register_pages(self, batch: str):
        """Register the generated parquet as a pages snapshot table (hardlinks;
        what ``--generate`` leaves behind, without the generation)."""
        from access_log_aggregator_spark.sources.tableio import SnapshotTable

        t = SnapshotTable.create(self.b.work / "pages" / batch, "pages")
        t.add_files(self.inputs.files[batch], marker=f"gen-{batch}")
        return t

    def batch_calls(self, out: Path, pages_table, batch_id: str):
        """The CLI batch-mode sequence: process_batch -> write_aggregates ->
        routed-sink analyze (stats + host blooms)."""
        from access_log_aggregator_spark.plans.pipeline import Pipeline

        b = self.b
        pipe = Pipeline(b.spark, out, b.lookup)
        rt = pipe.routed_table
        before = set(rt.data_files())
        with b.span("plans.process_batch"):
            with b.span("sources.scan"):
                pages = pages_table.read(b.spark)
            result = pipe.process_batch(pages, batch_id=batch_id)
        new = [Path(f) for f in rt.data_files() if f not in before]
        with b.span("plans.write_aggregates"):
            pipe.write_aggregates()
        with b.span("sources.tableio.analyze"):
            if "bloom_cols" not in rt.properties():
                rt.set_properties(bloom_cols="host")
            swept = rt.analyze(b.spark)
        self.op_info = {
            "files_committed": len(new),
            "bytes_committed": sum(p.stat().st_size for p in new),
            "files_swept": swept,
            "rows_in": result.rows_in,
        }
        return result

    @staticmethod
    def agg_by_host_rows(out: Path) -> dict[str, tuple]:
        """The committed agg_by_host table, read with pyarrow (no Spark job)."""
        import pyarrow.parquet as pq
        from access_log_aggregator_spark.sources.tableio import SnapshotTable

        rows = {}
        for f in SnapshotTable(out / "agg_by_host").data_files():
            for r in pq.read_table(f).to_pylist():
                rows[r["host"]] = (r["total_requests"], r["requests_2xx"],
                                   r["sum_duration_s"])
        return rows

    def state_problems(self, out: Path, result, want_counts: dict,
                       want_hosts: dict) -> list[str]:
        return (counts_problems(result.sink_counts, result.rows_in, want_counts)
                + host_rows_problems(self.agg_by_host_rows(out), want_hosts))


class Bulk(Workload):
    """One large batch of KB-scale pages into a fresh output root per op."""

    name = "bulk"

    def setup(self) -> list[str]:
        with self.b.span("sources.tableio.register"):
            self.b.set_split(self.inputs.bytes["batch"])
            self.pages = self.register_pages("batch")
        self.records = self.sizes["pages"]
        self.scan_bytes = self.inputs.bytes["batch"]
        return self.warm_up()

    def op(self, i: int) -> int:
        self._result = self.batch_calls(self._out(i), self.pages, "bulk")
        return self._result.rows_in

    def check(self, i: int) -> list[str]:
        want = self.inputs.expect["batch"]
        return self.state_problems(self._out(i), self._result,
                                   want["counts"], want["hosts"])

    def source(self):
        return self.pages.read(self.b.spark)


class Incremental(Workload):
    """A small tick appended to a routed sink holding 10x its size of history.

    Every tick starts from the same history state (a copy of the sink the
    setup built), so every op sees identical history; ticks rotate over
    ``ticks`` distinct generated batches."""

    name = "incremental"

    def setup(self) -> list[str]:
        s = self.sizes
        with self.b.span("sources.tableio.register"):
            hist_pages = self.register_pages("history")
            self.ticks = [self.register_pages(f"tick{k}")
                          for k in range(s["ticks"])]
        self.records = s["tick"]
        self.scan_bytes = self.inputs.bytes["tick0"]
        self.template = self.b.work / "history"
        with self.b.span("incremental.build_history"):
            self.b.set_split(self.inputs.bytes["history"])
            result = self.batch_calls(self.template, hist_pages, "history")
            self.b.set_split(self.inputs.bytes["tick0"])
        # building the history ran every call a tick makes: it is the warm-up
        want = self.inputs.expect["history"]
        return self.state_problems(self.template, result,
                                   want["counts"], want["hosts"])

    def _k(self, i: int) -> int:
        return i % len(self.ticks)

    def before(self, i: int) -> None:
        shutil.copytree(self.template, self._out(i))

    def op(self, i: int) -> int:
        k = self._k(i)
        self._result = self.batch_calls(self._out(i), self.ticks[k],
                                        f"tick-{k}")
        return self._result.rows_in

    def check(self, i: int) -> list[str]:
        tick = self.inputs.expect[f"tick{self._k(i)}"]
        both = merge_expect([self.inputs.expect["history"], tick])
        from access_log_aggregator_spark.sources.tableio import SnapshotTable

        problems = self.state_problems(self._out(i), self._result,
                                       tick["counts"], both["hosts"])
        live = SnapshotTable(self._out(i) / "routed").row_count()
        if live != sum(both["counts"].values()):
            problems.append(f"routed sink holds {live} rows, history plus "
                            f"tick is {sum(both['counts'].values())}")
        return problems

    def source(self):
        return self.ticks[0].read(self.b.spark)


class LogFile(Workload):
    """The reference's literal mode, summary only: bare JSON access-log lines
    in a few files -> reference-format summary table, no sinks."""

    name = "logfile"

    def setup(self) -> list[str]:
        self.files = self.inputs.files["lines"]
        self.b.set_split(self.inputs.bytes["lines"])
        self.records = self.sizes["lines"]
        self.scan_bytes = self.inputs.bytes["lines"]
        self._calls = 0  # names each op's class-count observation
        return self.warm_up()

    def op(self, i: int) -> int:
        from pyspark.sql import functions as F

        from access_log_aggregator_spark.functions import extract as X
        from access_log_aggregator_spark.operators.aggregate import (
            aggregate_by_host,
        )
        from access_log_aggregator_spark.plans.pipeline import (
            build_routed,
            observe_routed_classes,
            summary_text_from_agg,
        )
        from access_log_aggregator_spark.sources.logfiles import read_log_files

        b = self.b
        with b.span("sources.logfiles.read"):
            pages = read_log_files(b.spark, self.files)
        with b.span("plans.build_routed"):
            routed = build_routed(pages, b.lookup)
        self._calls += 1
        routed, obs = observe_routed_classes(routed,
                                             f"logfile_counts_{self._calls}")
        valid = routed.filter(F.col("match_class").isin(X.CLASS_PARSED,
                                                        X.CLASS_BOT))
        with b.span("operators.aggregate.by_host"):
            self._summary = summary_text_from_agg(aggregate_by_host(valid),
                                                  now=SUMMARY_NOW)
        got = obs.get
        self._counts = {c: int(got.get(c, 0)) for c in X.ALL_CLASSES}
        self._rows_in = int(got.get("rows_in", 0))
        self.op_info = {"rows_in": self._rows_in}
        return self._rows_in

    def check(self, i: int) -> list[str]:
        from access_log_aggregator_spark.oracle.summaries import (
            Summaries,
            Summary,
            format_summaries,
        )

        want = self.inputs.expect["lines"]
        ss = Summaries()
        for h, (n, n2, d) in want["hosts"].items():
            ss.by_host[h] = Summary(request_total=n, request_2xx=n2,
                                    duration_total=d)
        problems = counts_problems(self._counts, self._rows_in, want["counts"])
        if self._summary != format_summaries(ss, now=SUMMARY_NOW):
            problems.append("summary text differs from the oracle's")
        return problems

    def source(self):
        from access_log_aggregator_spark.sources.logfiles import read_log_files

        return read_log_files(self.b.spark, self.files)


WORKLOADS: dict[str, type[Workload]] = {
    w.name: w for w in (Bulk, Incremental, LogFile)}


def ladder_rungs(source, lookup) -> list[tuple[str, Callable]]:
    """Cumulative noop-sink plans: scan, +Arrow extract UDF, +parse_stage,
    +enrich, +route (= build_routed). Each rung is its predecessor plus one
    layer, so a layer's self time is its rung minus the one below."""
    from pyspark.sql import functions as F

    from access_log_aggregator_spark.functions.parse_udf import extract_parse_udf
    from access_log_aggregator_spark.operators.enrich import enrich
    from access_log_aggregator_spark.operators.parse import parse_stage
    from access_log_aggregator_spark.plans.pipeline import build_routed

    return [
        ("L0.scan", lambda: source().select("url", "text", "html")),
        ("L1.parse_udf", lambda: source().select(
            "url", "html", extract_parse_udf(F.col("text")).alias("_ex"))),
        ("L2.parse_stage", lambda: parse_stage(source())),
        ("L3.enrich", lambda: enrich(parse_stage(source()), lookup)),
        ("L4.route", lambda: build_routed(source(), lookup)),
    ]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()
