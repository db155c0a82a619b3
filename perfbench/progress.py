"""Helpers over Structured Streaming progress records (``recentProgress``),
shared by the two streaming workloads."""

from __future__ import annotations

import json
import statistics

from stats import parse_progress_ts

# Order in which a micro-batch runs its ``durationMs`` phases.
PHASES = ["latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitBatch", "commitOffsets"]


def progress_dicts(query) -> list[dict]:
    """``recentProgress`` as plain dicts, in batch order."""
    return sorted((json.loads(p.json) for p in query.recentProgress), key=lambda p: p["batchId"])


def trigger_layers(progress: list[dict]) -> dict:
    """Per-trigger phase sums and state-store figures of one replay."""

    def phase(key: str) -> float:
        return sum(p["durationMs"].get(key, 0) for p in progress) / 1000

    totals = [p["durationMs"].get("triggerExecution", 0) / 1000 for p in progress]
    ops = [op for p in progress for op in p.get("stateOperators", [])]
    return {
        "streaming.trigger.batches": len(progress),
        "streaming.trigger.total_s": sum(totals),
        "streaming.trigger.p50_s": statistics.median(totals) if totals else 0.0,
        "streaming.trigger.add_batch_s": phase("addBatch"),
        "streaming.trigger.query_planning_s": phase("queryPlanning"),
        "streaming.trigger.wal_commit_s": phase("walCommit"),
        "streaming.trigger.commit_offsets_s": phase("commitOffsets"),
        "sources.latest_offset_s": phase("latestOffset"),
        "sources.get_batch_s": phase("getBatch"),
        "streaming.state.commit_s": sum(op.get("commitTimeMs", 0) for op in ops) / 1000,
        "streaming.state.rows_max": max((op.get("numRowsTotal", 0) for op in ops), default=0),
        "streaming.state.bytes_max": max((op.get("memoryUsedBytes", 0) for op in ops), default=0),
        "streaming.state.rows_dropped_late": sum(op.get("numRowsDroppedByWatermark", 0) for op in ops),
    }


def phases_sum(progress: list[dict]) -> float:
    """Seconds covered by the named phases of every trigger (all
    ``durationMs`` keys except the ``triggerExecution`` total)."""
    return sum(
        v for p in progress for k, v in p["durationMs"].items() if k != "triggerExecution"
    ) / 1000


def trigger_spans(tracer, i: int, progress: list[dict]) -> None:
    """One span per trigger from its progress record, with the
    ``durationMs`` phases laid end to end as child spans."""
    for p in progress:
        start = parse_progress_ts(p["timestamp"])
        d = p["durationMs"]
        op = f"p{i}b{p['batchId']}"
        top = tracer.add("streaming.trigger", start, start + d.get("triggerExecution", 0) / 1000, None, op)
        t = start
        for k in PHASES + sorted(set(d) - set(PHASES) - {"triggerExecution"}):
            if k in d:
                tracer.add(f"streaming.trigger.{k}", t, t + d[k] / 1000, top, op)
                t += d[k] / 1000


def phase_share(traced: list) -> dict:
    """Share of the trigger total covered by the named phases."""
    total = sum(p.layers["streaming.trigger.total_s"] for p in traced)
    return {"trigger_phase_sum_over_total": sum(phases_sum(p.progress) for p in traced) / total}

