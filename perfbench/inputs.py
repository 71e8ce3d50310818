"""Seeded benchmark inputs and their oracle expectations, cached by (seed, shape).

Inputs are generated before any timed work, written as plain files (parquet
pages, newline-JSON log files), and cached under ``.perfbench_cache/`` in the
checkout. The pipeline only ever sees those files. Next to them each cache
entry stores the oracle's expectation for every batch: per-class counts from
``oracle.parser.classify_page`` and the per-host fold of the valid records
(``oracle.summaries`` semantics: count, 2xx count, float duration sum).

Generation runs in a ``spawn`` pool sized from the host, over fixed-size
chunks, so the bytes produced depend only on (seed, shape), never on the
pool size.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os
import shutil
from dataclasses import dataclass
from pathlib import Path

#: rows per generation task (fixed: the chunk layout is part of the shape)
CHUNK = 2500
#: parquet row groups per pages batch file: fine enough that the scan split
#: size, derived from the host at session setup, decides task parallelism
ROW_GROUPS = 32
#: log files per logfile batch (the reference is run with a few -file flags)
LOG_FILES = 4
#: KB-scale pages (Common-Crawl-like parse density); lines=(0, 0) makes the
#: generator emit the bare access-log line as the whole page text
PAGE_LINES = (15, 40)
LOG_LINES = (0, 0)


@dataclass(frozen=True)
class Batch:
    """One generated batch: rows [start, start+rows) of the seed's stream."""

    name: str
    start: int
    rows: int


@dataclass(frozen=True)
class Shape:
    """The input shape of one workload: which batches, as pages or log lines."""

    kind: str              # "pages" | "logs"
    batches: tuple[Batch, ...]

    def key(self) -> str:
        spec = repr((self.kind, self.batches, CHUNK, ROW_GROUPS, LOG_FILES,
                     PAGE_LINES, LOG_LINES))
        return hashlib.sha256(spec.encode()).hexdigest()[:12]


def _gen_chunk(args):
    """Pool task: one chunk of pages + its oracle partial."""
    start, rows, seed, lines = args
    from access_log_aggregator_spark.functions import extract as X
    from access_log_aggregator_spark.oracle import classify_page
    from access_log_aggregator_spark.sources.pages import (
        BOT_HOSTS,
        generate_pages_chunk,
    )

    pdf = generate_pages_chunk(start, rows, seed, lines)
    bots = frozenset(BOT_HOSTS)
    counts = {c: 0 for c in X.ALL_CLASSES}
    hosts: dict[str, list] = {}
    log_mode = lines == LOG_LINES
    for html, text in zip(pdf["html"], pdf["text"]):
        if log_mode:  # a log line reaches the parser as its own UTF-8 bytes
            html = text.encode("utf-8")
        c = classify_page(html, text, bots)
        counts[c.match_class] += 1
        if c.record is not None:
            h = hosts.setdefault(c.record.host, [0, 0, 0.0])
            h[0] += 1
            h[1] += 200 <= c.record.status_code < 300
            h[2] += c.record.duration
    return pdf, {"counts": counts, "hosts": hosts}


def merge_expect(parts: list[dict]) -> dict:
    """Sum oracle partials: class counts and per-host (total, 2xx, dur_sum)."""
    counts: dict[str, int] = {}
    hosts: dict[str, list] = {}
    for p in parts:
        for c, n in p["counts"].items():
            counts[c] = counts.get(c, 0) + n
        for h, (n, n2, d) in p["hosts"].items():
            acc = hosts.setdefault(h, [0, 0, 0.0])
            acc[0] += n
            acc[1] += n2
            acc[2] += d
    return {"counts": counts, "hosts": hosts}


def _digest(paths: list[Path]) -> str:
    h = hashlib.sha256()
    for p in paths:
        h.update(p.name.encode())
        with open(p, "rb") as f:
            for block in iter(lambda: f.read(1 << 20), b""):
                h.update(block)
    return h.hexdigest()


def _write_batch(kind: str, frames: list, dest: Path) -> list[Path]:
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = pd.concat(frames, ignore_index=True)
    if kind == "pages":
        table = pa.Table.from_pandas(pdf, preserve_index=False)
        path = dest / "part-00000.parquet"
        pq.write_table(table, path,
                       row_group_size=max(1, -(-len(pdf) // ROW_GROUPS)))
        return [path]
    lines = list(pdf["text"])
    per = -(-len(lines) // LOG_FILES)
    paths = []
    for i in range(LOG_FILES):
        path = dest / f"access-{i}.log"
        part = lines[i * per:(i + 1) * per]
        path.write_bytes("".join(s + "\n" for s in part).encode("utf-8"))
        paths.append(path)
    return paths


@dataclass
class Inputs:
    """A materialized cache entry: files and expectations per batch."""

    root: Path
    files: dict[str, list[Path]]
    expect: dict[str, dict]
    digest: str
    bytes: dict[str, int]


def _load(entry: Path) -> Inputs:
    meta = json.loads((entry / "meta.json").read_text())
    files = {b: [entry / f for f in fs] for b, fs in meta["files"].items()}
    return Inputs(entry, files, meta["expect"], meta["digest"],
                  {b: sum(p.stat().st_size for p in fs)
                   for b, fs in files.items()})


def materialize(cache: Path, shape: Shape, seed: int, procs: int) -> Inputs:
    """Return the cached inputs for (seed, shape), generating them if absent."""
    entry = cache / f"{shape.kind}-{shape.key()}-s{seed}"
    if (entry / "meta.json").exists():
        return _load(entry)
    tmp = cache / f".tmp-{os.getpid()}-{entry.name}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    lines = PAGE_LINES if shape.kind == "pages" else LOG_LINES
    tasks = []
    owner = []
    for b in shape.batches:
        for lo in range(b.start, b.start + b.rows, CHUNK):
            tasks.append((lo, min(CHUNK, b.start + b.rows - lo), seed, lines))
            owner.append(b.name)
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(max(1, min(procs, len(tasks)))) as pool:
        results = pool.map(_gen_chunk, tasks)
        pool.close()
        pool.join()
    files: dict[str, list[str]] = {}
    expect: dict[str, dict] = {}
    all_paths: list[Path] = []
    for b in shape.batches:
        mine = [r for r, o in zip(results, owner) if o == b.name]
        d = tmp / b.name
        d.mkdir()
        paths = _write_batch(shape.kind, [m[0] for m in mine], d)
        files[b.name] = [str(p.relative_to(tmp)) for p in paths]
        expect[b.name] = merge_expect([m[1] for m in mine])
        all_paths.extend(paths)
    meta = {"seed": seed, "shape": repr(shape), "files": files,
            "expect": expect, "digest": _digest(all_paths)}
    (tmp / "meta.json").write_text(json.dumps(meta))
    try:
        tmp.rename(entry)
    except OSError:  # a concurrent run produced the same entry first
        shutil.rmtree(tmp, ignore_errors=True)
    return _load(entry)
