"""Layered benchmark of the engine: one workload per process.

    python3 perfbench/run.py --workload skew_replay --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  A failed check prints ``correct: false`` and exits 1.
See README.md in this directory for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = {
    "skew_replay": ("skew_replay", "SkewReplay"),
    "index_replay": ("index_replay", "IndexReplay"),
    "batch_mix": ("batch_mix", "BatchMix"),
}


def declared_units() -> tuple[dict, dict]:
    """``{name: unit}`` of the end-to-end and of the per-layer metrics, as
    BENCHMARK.json at the checkout's root declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return tuple({m["name"]: m["unit"] for m in bench[k]} for k in ("end_to_end", "per_layer"))


def end_to_end(setup: dict, passes: list) -> tuple[dict, dict]:
    """The end-to-end metrics, each a median over the measured passes of
    its per-pass value, and the details reported beside them (tail
    percentile and sample count)."""
    from stats import tail_percentile

    wall = statistics.median(p.wall_s for p in passes)
    tails = [tail_percentile(p.latencies) for p in passes]
    metrics = {
        "setup_s": setup["setup_s"],
        "wall_s": wall,
        "rows_per_s": passes[0].rows / wall,
        "latency_p50_s": statistics.median(statistics.median(p.latencies) for p in passes),
        "latency_tail_s": statistics.median(t[1] for t in tails),
        "peak_rss_mb": statistics.median(p.peak_rss for p in passes) / 2**20,
    }
    details = {
        "passes": len(passes),
        "pass_wall_s": [p.wall_s for p in passes],
        "pass_peak_rss_mb": [p.peak_rss / 2**20 for p in passes],
        "latency_tail_percentile": tails[0][0],
        "latency_samples_per_pass": tails[0][2],
    }
    return metrics, details


def layer_metrics(h, setup: dict, traced, names) -> dict:
    """Per-layer metrics of the traced pass; layers the workload does not
    touch read 0."""
    import eventlog

    out = dict.fromkeys(names, 0.0)
    out["session.start_s"] = setup["session.start_s"]
    out["sources.stage_s"] = setup["sources.stage_s"]
    out.update({k: v for k, v in traced.layers.items() if k in out})
    out.update(eventlog.fold(h.event_log_dir, {traced.index}))
    return out


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument(
        "--cores", type=int, default=os.cpu_count() or 1, help="task slots, local[N] (default: nproc)"
    )
    args = ap.parse_args(argv)
    # A SIGTERM unwinds through the cleanup below, which stops the JVM.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    from harness import PACKAGE, Harness, fingerprint, pin_environment

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: engine package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    e2e_units, layer_units = declared_units()
    h = Harness(ROOT, args.workload, args.seed, bool(args.trace))
    pin_environment(ROOT, h.work, args.cores)
    os.makedirs(h.out, exist_ok=True)
    box = fingerprint(args.seed)
    module, cls = WORKLOADS[args.workload]
    wl = getattr(importlib.import_module(module), cls)()
    h.rss.start()
    try:
        # A traced run compares a plain and a traced pass, so both must be
        # warm, even where the untraced runs measure a cold pass.
        warmups = max(wl.warmup_passes, 1) if args.trace else wl.warmup_passes
        setup = h.setup(wl, warmups)
        box["stream_shuffle_width"] = _stream_width()
        box["warmup_passes_s"] = setup["warmup_passes_s"]
        t0 = time.perf_counter()
        if args.trace:
            # A plain pass, then the traced pass the layer metrics come
            # from; their difference is the tracing overhead.
            plain = wl.run_pass(h, warmups)
            h.tracer.enabled = True
            traced = wl.run_pass(h, warmups + 1)
            passes = [plain, traced]
        else:
            passes = h.passes(wl, args.seconds, first=warmups)
        t1 = time.perf_counter()
        for p in passes:
            wl.verify(h, p)
        h.stop_session()  # flushes the event log
        box["passes_s"], box["verify_s"] = t1 - t0, time.perf_counter() - t1
        if args.trace:
            details = {"plain_wall_s": plain.wall_s, "traced_wall_s": traced.wall_s, **wl.trace_details([traced])}
            metrics = layer_metrics(h, setup, traced, layer_units)
            metrics["bench.trace_overhead_s"] = traced.wall_s - plain.wall_s
            h.tracer.dump(os.path.join(h.out, f"{args.workload}-seed{args.seed}-spans.json"))
        else:
            metrics, details = end_to_end(setup, passes)
    finally:
        box["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
        h.cleanup()
    units = layer_units if args.trace else e2e_units
    result = {
        "correct": h.checks.failed == 0,
        "attempted": h.checks.attempted,
        "failed": h.checks.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    artifact = {
        "workload": args.workload,
        "trace": args.trace,
        "box": box,
        "details": details,
        "failed_frac": h.checks.failed_frac,
        "failures": h.checks.failures,
        **result,
    }
    with open(os.path.join(h.out, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(artifact, f, indent=1, default=str)
    for k, v in metrics.items():
        print(f"{args.workload} {k} = {v:.6g} {units[k]}")
    print(f"{args.workload} failed_frac = {h.checks.failed_frac:.6g} ({h.checks.failed}/{h.checks.attempted})")
    if args.trace:
        print(f"{args.workload} trace: {json.dumps(details)}")
    else:
        print(
            f"{args.workload} latency_tail_s is p{details['latency_tail_percentile']:.2f} "
            f"of {details['latency_samples_per_pass']} samples per pass, median of {details['passes']} passes"
        )
    for msg in h.checks.failures:
        print(f"FAILED: {msg}", file=sys.stderr)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


def _stream_width() -> int:
    from flink_repartition_watermark_example_spark.queries_streaming import stream_shuffle_width

    return stream_shuffle_width()


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
