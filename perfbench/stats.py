"""Pure helpers: percentiles, emission latency, write amplification,
check accounting and spans.  Nothing here imports Spark, so
``test_helpers.py`` exercises all of it in plain Python."""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime

TAIL_MIN_BEYOND = 10


def tail_percentile(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ``TAIL_MIN_BEYOND`` samples
    above it: ``(percentile, value, n)``.  The value is the order
    statistic at rank ``n - TAIL_MIN_BEYOND`` (1-based), so exactly
    ``TAIL_MIN_BEYOND`` samples lie beyond it; its percentile is that
    rank's share of ``n``.  With too few samples no such percentile
    exists and the maximum is returned at percentile 100; with fewer
    than ``2 * TAIL_MIN_BEYOND`` samples the rule would fall below the
    median, so the median (lower middle) is returned instead."""
    n = len(samples)
    if n == 0:
        raise ValueError("tail_percentile of no samples")
    xs = sorted(samples)
    if n <= TAIL_MIN_BEYOND:
        return 100.0, xs[-1], n
    k = max(n - TAIL_MIN_BEYOND, (n + 1) // 2)  # 1-based rank, never below the median
    return 100.0 * k / n, xs[k - 1], n


def parse_progress_ts(ts: str) -> float:
    """Spark progress timestamps (``2026-01-01T00:00:00.123Z``) as epoch
    seconds."""
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def parse_wm(wm: str | None) -> float:
    return parse_progress_ts(wm) if wm else float("-inf")


@dataclass
class PassResult:
    """One pass of a workload: its wall time and input rows, one latency
    per result, the per-layer figures it measured, and its outputs for
    verification."""

    wall_s: float
    rows: int
    latencies: list[float]
    layers: dict = field(default_factory=dict)
    output: object = None
    report: object = None
    progress: list = field(default_factory=list)
    peak_rss: int = 0
    index: int = 0


@dataclass
class Emission:
    """One window row as the sink saw it."""

    batch_id: int
    window_end: float  # epoch seconds
    received: float  # epoch seconds, when the row was visible to the sink


@dataclass
class LatencyReport:
    latencies: list[float]
    lag_batches: list[int]
    early: int  # rows emitted before the min-of-sources watermark passed their end
    unmatched: int  # rows whose admitting trigger is missing from the progress log


def emission_latencies(progress: list[dict], emits: list[Emission]) -> LatencyReport:
    """Window latency from a progress log.

    ``progress`` entries carry ``batchId``, ``timestamp`` (trigger start)
    and ``eventTime.watermark`` — the watermark a batch *runs with*,
    computed from the input of earlier batches.  The first batch that
    runs with watermark >= window end is the one allowed to emit the
    window; the batch before it admitted the input that pushed the
    watermark past the end.  Latency runs from that admitting trigger's
    start to the sink's receipt; lag counts batches from admission to
    emission (1 when the window fires at the first opportunity)."""
    by_id = {p["batchId"]: p for p in progress}
    ids = sorted(by_id)
    wms = [(b, parse_wm((by_id[b].get("eventTime") or {}).get("watermark"))) for b in ids]
    lat, lag = [], []
    early = unmatched = 0
    for e in emits:
        wm_at_emit = dict(wms).get(e.batch_id, float("-inf"))
        if wm_at_emit < e.window_end:
            early += 1
        first = next((b for b, wm in wms if wm >= e.window_end), None)
        admit = None if first is None else first - 1
        if admit is None or admit not in by_id:
            unmatched += 1
            continue
        lat.append(e.received - parse_progress_ts(by_id[admit]["timestamp"]))
        lag.append(e.batch_id - admit)
    return LatencyReport(lat, lag, early, unmatched)


def dir_files(path: str) -> dict[str, int]:
    """``{relative path: size}`` of every regular file under ``path``."""
    out: dict[str, int] = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            out[os.path.relpath(p, path)] = os.path.getsize(p)
    return out


@dataclass
class WriteLedger:
    """Bytes and files an index writer put on disk.

    ``record(before, after)`` takes two :func:`dir_files` snapshots
    around one call and counts every file that is new, or whose size
    changed, as written (an overwrite rewrites the whole file).
    Compaction is recorded the same way.  ``write_amp`` is total bytes
    written over the bytes still live at the end."""

    bytes_written: int = 0
    files_written: int = 0

    def record(self, before: dict[str, int], after: dict[str, int]) -> int:
        written = {p: s for p, s in after.items() if before.get(p) != s}
        self.bytes_written += sum(written.values())
        self.files_written += len(written)
        return sum(written.values())


def write_amp(bytes_written: int, bytes_live: int) -> float:
    if bytes_live <= 0:
        raise ValueError("write amplification needs live bytes")
    return bytes_written / bytes_live


@dataclass
class Checks:
    """Attempted and failed operations (queries, triggers, writer calls,
    verification checks); ``failed_frac`` is their ratio."""

    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)

    def op(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
        return ok

    def ops(self, n: int) -> None:
        """``n`` operations that completed (a failure raises instead)."""
        self.attempted += n

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str


class Tracer:
    """In-memory spans around calls into the engine's layers.  Disabled,
    ``span`` only yields; enabled, it records (name, start, end, parent,
    op id) and ``dump`` writes them out once at the end."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str = ""):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), 0.0, parent, op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def add(self, name: str, start: float, end: float, parent: int | None, op: str) -> int:
        self.spans.append(Span(name, start, end, parent, op))
        return len(self.spans) - 1

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)
