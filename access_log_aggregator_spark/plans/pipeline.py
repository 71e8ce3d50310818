"""The full parse -> enrich -> route -> aggregate job.

One scan of the pages table feeds everything (SURVEY.md §4.2 item 6):

    pages ──parse_stage──▶ enrich(broadcast dim) ──route──▶ narrow routed
        └─ html/text dropped here; only ~100-byte columns continue
    routed ──single write, partitionBy(match_class)──▶ routed sink table
    routed sink (columnar, partition-pruned) ──▶ per-class views + aggregates

Writing the routed table once with ``partitionBy(match_class)`` and deriving
the four sinks as partition-pruned views is the idiomatic Spark fan-out
(SURVEY.md §2.5 K3): a single pass over the TB-scale input, no persist()
memory pressure, and each aggregate then scans only the small, narrow,
column-pruned routed data.

Per-batch metrics come from ``observe()`` (the malformRecord-counter analog,
internal/app/aggregate.go:15,38-41) and per-partition lineage from the
``source_partition`` column stamped at parse time.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from pathlib import Path
from typing import Optional

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions import extract as X
from ..operators.aggregate import (
    aggregate_by_host,
    aggregate_by_status_bucket,
    aggregate_by_window,
)
from ..operators.enrich import enrich
from ..operators.parse import parse_stage
from ..operators.route import route
from ..sources.tableio import SnapshotTable

#: columns persisted to the routed sink (narrow — html/text already dropped)
ROUTED_COLUMNS = [
    "url", "warc_ts", "lang", "lang_norm", "extracted_text", "log_time_str",
    "host", "status_code", "duration", "log_ts", "geo", "category",
    "reject_reason", "source_partition", "match_class",
]

#: the three materialized aggregate sinks written by write_aggregates
AGG_TABLES = ("agg_by_host", "agg_by_status_bucket", "agg_by_window")


@dataclass(frozen=True)
class RestampState:
    """Token returned by :meth:`Pipeline.capture_restamp_state`: the routed
    sink's fingerprint plus the content portion (live rows + committed
    markers) that content-preserving maintenance keeps. Opaque to callers —
    they pass it back to :meth:`Pipeline.restamp_aggregates`."""

    fp: str
    live_rows: int
    markers: frozenset


def observe_routed_classes(routed: DataFrame, name: str):
    """Attach the per-class routing counters to ``routed`` as observe()
    metrics (rows_in + one count per match class) — THE metric set for
    both the sink-committing batch path (process_batch) and the
    summary-only --log-file path, defined once so the two modes can never
    silently diverge on what they count. Returns (df, observation)."""
    obs = Observation(name)
    counted = routed.observe(
        obs,
        F.count(F.lit(1)).alias("rows_in"),
        *[
            F.count_if(F.col("match_class") == c).alias(c)
            for c in X.ALL_CLASSES
        ],
    )
    return counted, obs


def build_routed(pages: DataFrame, lookup: DataFrame) -> DataFrame:
    """The lazy logical plan for one batch (no action taken)."""
    parsed = parse_stage(pages)
    enriched = enrich(parsed, lookup)
    routed = route(enriched)
    return routed.select(*ROUTED_COLUMNS)


@dataclass
class BatchResult:
    batch_id: str
    snapshot_id: Optional[int]          # routed-table snapshot committed
    sink_counts: dict[str, int] = field(default_factory=dict)
    malformed: int = 0
    rows_in: int = 0


class Pipeline:
    """Batch pipeline bound to a routed sink table + aggregate tables."""

    def __init__(self, spark: SparkSession, out_root: str | Path,
                 lookup: DataFrame, salt_buckets: Optional[int] = None,
                 write_partitions: Optional[int] = None):
        self.spark = spark
        self.out_root = Path(out_root)
        self.lookup = lookup
        self.salt_buckets = salt_buckets
        #: explicit pre-write repartition on url (north_rule: "handles
        #: warc_ts/url skew via explicit repartitioning"): url hashes spread
        #: uniformly regardless of host/warc_ts skew, so write tasks balance
        #: and the routed table gets a bounded file count per batch. None =
        #: keep the zero-shuffle plan (right for small batches).
        self.write_partitions = write_partitions
        self.routed_table = SnapshotTable.create(self.out_root / "routed", "routed")

    # -- one batch ------------------------------------------------------------
    def process_batch(self, pages: DataFrame, batch_id: str) -> BatchResult:
        """Parse+enrich+route one batch of pages and commit it to the routed
        sink (idempotent on batch_id). Counts come from observe() metrics on
        the write action itself — no second scan of the input."""
        routed = build_routed(pages, self.lookup)

        counted, obs = observe_routed_classes(
            routed, f"route_metrics_{batch_id}"
        )
        t = self.routed_table
        if batch_id in t.committed_markers():
            snap = None  # idempotent re-run: skip the write job entirely
        else:
            if self.write_partitions:
                counted = counted.repartition(self.write_partitions,
                                              F.col("url"))
            # write once, hive-partitioned by match_class (the single-pass
            # fan-out)
            snap = t.append_spark(counted, marker=batch_id,
                                  partition_by="match_class")
        got = obs.get if snap is not None else {}
        counts = {c: int(got.get(c, 0)) for c in X.ALL_CLASSES}
        return BatchResult(
            batch_id=batch_id,
            snapshot_id=snap,
            sink_counts=counts,
            malformed=counts[X.CLASS_UNPARSED] + counts[X.CLASS_ERROR],
            rows_in=int(got.get("rows_in", 0)),
        )

    # -- reads over the routed sink -------------------------------------------
    def routed(self) -> Optional[DataFrame]:
        files = self.routed_table.data_files()
        if not files:
            return None
        return (
            self.spark.read.option("basePath", str(self.routed_table.root / "data"))
            .parquet(*files)
        )

    def sink(self, match_class: str) -> Optional[DataFrame]:
        """Per-class sink view — partition-pruned scan of the routed table."""
        df = self.routed()
        return None if df is None else df.filter(F.col("match_class") == match_class)

    def valid_records(self) -> Optional[DataFrame]:
        """All reference-valid records (parsed ∪ bot) — the exact domain the
        reference aggregates over (it has no bot concept; SURVEY.md §2.5)."""
        df = self.routed()
        if df is None:
            return None
        return df.filter(F.col("match_class").isin(X.CLASS_PARSED, X.CLASS_BOT))

    # -- aggregate views --------------------------------------------------------
    def agg_by_host(self) -> Optional[DataFrame]:
        v = self.valid_records()
        return None if v is None else aggregate_by_host(v, self.salt_buckets)

    def agg_by_status_bucket(self) -> Optional[DataFrame]:
        v = self.valid_records()
        return None if v is None else aggregate_by_status_bucket(v)

    def agg_by_window(self, duration: str = "1 hour") -> Optional[DataFrame]:
        v = self.valid_records()
        return None if v is None else aggregate_by_window(v, duration)

    def _routed_state(self) -> Optional["RestampState"]:
        """The routed sink's state from ONE manifest read (atomic against
        a concurrent commit landing mid-derivation — SnapshotTable.state
        guarantees that): the fingerprint plus the content portion (live
        rows, committed markers) that content-preserving maintenance
        keeps. Returns None when the sink does not exist."""
        t = self.routed_table
        if not t.exists():
            return None
        import hashlib

        last_id, live_rows, markers = t.state()
        basis = [last_id, live_rows, sorted(markers)]
        fp = hashlib.md5(repr(basis).encode()).hexdigest()
        return RestampState(fp=fp, live_rows=live_rows, markers=markers)

    def routed_state_fingerprint(self) -> Optional[str]:
        """Cheap fingerprint of the routed sink's state from ONE manifest
        read: last snapshot id + live row count + committed markers.
        Snapshot ids alone are NOT enough: a truncate+recommit rebuild
        (--log-file) restarts ids at 1 and could coincide with the stamped
        value — the marker set always differs across rebuilds.
        Compaction moves this fingerprint by design (a replace snapshot
        advances the last id) and the CLI restamps current aggregates
        afterwards (:meth:`restamp_aggregates`) instead of recomputing;
        expiry normally leaves it untouched (expired snapshots' markers
        are retained, last id and live rows unchanged) — except on a sink
        whose retention list is at its cap, where the oldest markers age
        out, the fingerprint moves, and the staleness heal recomputes
        (safe, just not free)."""
        st = self._routed_state()
        return None if st is None else st.fp

    @staticmethod
    def _stamp_matches(stamp: Optional[str], fp: Optional[str]) -> bool:
        """Whether a stamped ``source_state`` denotes fingerprint ``fp``.
        The previous release stamped ``repr(fp)`` (a quoted hash, or the
        four characters ``None``); accepting that form keeps an upgraded
        binary from recomputing every aggregate over an unchanged sink."""
        return stamp == (fp or "") or stamp == repr(fp)

    def _aggs_all_stamped(self, fp: str) -> bool:
        """True when every aggregate table exists and is stamped with
        ``fp`` — the predicate both capture (is the current state what
        the aggregates cover?) and the guarded restamp (are the stamps
        still the captured baseline?) decide on."""
        for name in AGG_TABLES:
            t = SnapshotTable(self.out_root / name)
            if not t.exists() or not self._stamp_matches(
                    t.properties().get("source_state"), fp):
                return False
        return True

    def aggregates_stale(self) -> bool:
        """True when any aggregate table is missing or was written against
        a DIFFERENT routed-sink state than the current one — the crash
        window between a routed-sink commit and write_aggregates() (or a
        kill mid-write_aggregates) leaves exactly this mismatch, and the
        idempotence-marker no-op re-run would otherwise never heal it."""
        fp = self.routed_state_fingerprint()
        for name in AGG_TABLES:
            t = SnapshotTable(self.out_root / name)
            if not t.exists():
                if fp is not None:
                    # the routed sink exists (possibly empty) but this
                    # sink never wrote — write_aggregates creates+stamps
                    # it (an empty table for an empty state), so this
                    # branch converges after one heal
                    return True
            elif not self._stamp_matches(
                    t.properties().get("source_state"), fp):
                return True
        return False

    def capture_restamp_state(self) -> Optional["RestampState"]:
        """Arm a post-maintenance restamp: capture the routed state IF the
        aggregates are stamped with exactly this state (i.e. current).
        Returns None when the sink is absent or any aggregate is missing
        or stale — a restamp may only ever bridge content-preserving
        maintenance, never mask a real mismatch."""
        st = self._routed_state()
        if st is None or not self._aggs_all_stamped(st.fp):
            return None
        return st

    def restamp_aggregates(
            self, expected_state: Optional["RestampState"] = None) -> bool:
        """Re-stamp the CURRENT routed-state fingerprint onto the existing
        aggregate tables without recomputing them — for content-preserving
        maintenance (compaction's replace snapshot, snapshot expiry) that
        changes the fingerprint but not the data the aggregates derive
        from.

        Pass the :meth:`capture_restamp_state` token taken BEFORE the
        maintenance as ``expected_state``: the restamp then refuses
        (returns False) when anything but content-preserving maintenance
        moved the state in between — a concurrent ingest changes the live
        row count and commits a marker the captured set never saw, while
        compaction preserves both and expiry preserves both too (expired
        snapshots' markers are retained in the manifest so replays stay
        deduped; the ``<=`` below keeps the guard safe even for an older
        manifest written before that retention existed).
        Refusing leaves the aggregates stale so the heal path recomputes
        them; stamping would mark rows they never aggregated as current
        forever. Without ``expected_state`` the caller asserts the
        aggregates were current and no writer raced (single-process use).
        """
        st = self._routed_state()
        if st is None:
            return False
        if expected_state is not None:
            if (st.live_rows != expected_state.live_rows
                    or not st.markers <= expected_state.markers):
                return False
            # the stamps must still be the captured baseline — another
            # writer re-stamping or recomputing them in the window means
            # this token no longer describes what they cover
            if not self._aggs_all_stamped(expected_state.fp):
                return False
        for name in AGG_TABLES:
            t = SnapshotTable(self.out_root / name)
            if t.exists():
                t.set_properties(source_state=st.fp)
        return True

    def write_aggregates(self) -> dict[str, int]:
        """Materialize the three aggregate views as sink tables
        (overwrite-by-job semantics — SURVEY.md §2.5 K1: the authoritative
        sinks are tables, stdout is presentation). Returns rows per table.

        A None view (routed sink empty or absent) still TRUNCATES an
        existing aggregate table: the sinks mirror the routed state, and a
        state that became empty (--log-file rebuild over a truncated file)
        must not leave the aggregates reporting the previous run.

        Each table is stamped with the routed sink's state fingerprint
        AFTER its rows land, so :meth:`aggregates_stale` detects a crash
        at any point in this method (the not-yet-stamped table still
        carries the previous fingerprint, or none)."""
        fp = self.routed_state_fingerprint()
        out: dict[str, int] = {}
        for name, df in (
            ("agg_by_host", self.agg_by_host()),
            ("agg_by_status_bucket", self.agg_by_status_bucket()),
            ("agg_by_window", self.agg_by_window()),
        ):
            # ALWAYS create + stamp, even for a None view (routed sink
            # empty or absent): the empty aggregate table mirrors the
            # empty state, and without the stamp aggregates_stale() would
            # report the missing table stale forever (the heal loop must
            # converge after one write)
            t = SnapshotTable.create(self.out_root / name, name)
            t.truncate()
            if df is not None:
                t.append_spark(df)
            t.set_properties(source_state=fp or "")
            out[name] = t.row_count()
        return out

    def summary_text(self, now=None) -> str:
        """Reference-format table (print.go:26-49) rendered from the aggregate."""
        return summary_text_from_agg(self.agg_by_host(), now=now)


def summary_text_from_agg(agg: Optional[DataFrame], now=None) -> str:
    """Reference-format summary table (print.go:26-49) from an
    aggregate_by_host frame (None -> the empty table). The collect is
    bounded: one row per distinct host."""
    from ..oracle.summaries import Summaries, Summary, format_summaries

    ss = Summaries()
    if agg is not None:
        for r in agg.collect():
            ss.by_host[r["host"]] = Summary(
                request_total=r["total_requests"],
                request_2xx=r["requests_2xx"],
                duration_total=float(r["sum_duration_s"]),
            )
    return format_summaries(ss, now=now)

