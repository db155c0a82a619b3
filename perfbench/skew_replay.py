"""``skew_replay``: the paper's own streaming job.

Two pageview sources skewed by one day are staged as event-time-ordered
parquet files and replayed by
``streaming.replica.windowed_count_stream`` (a watermark per source,
union, hourly count per url) in append mode.  Each trigger reads one
file per source under ``availableNow`` into a ``foreachBatch`` sink that
timestamps the windows it receives."""

from __future__ import annotations

import os
import time

import gen
from progress import phase_share, progress_dicts, trigger_layers, trigger_spans
from stats import Emission, PassResult, emission_latencies

EXPECTED_ROWS = 72 * gen.URL_COUNT  # 72 hourly windows x 10 urls


class SkewReplay:
    name = "skew_replay"
    warmup_passes = 1
    min_passes = 1

    def stage(self, h, root: str) -> None:
        from flink_repartition_watermark_example_spark.streaming.replica import (
            write_close_sentinel,
        )

        tables = gen.skew_source_tables(h.seed)
        self.rows = sum(t.num_rows for files in tables for t in files)
        self.dirs, _ = gen.stage_files(root, tables, time.time() - 86400)
        for d in self.dirs:
            write_close_sentinel(h.spark, d)
        self.schema = h.spark.read.parquet(self.dirs[0]).schema
        self.expected = None

    def run_pass(self, h, i: int) -> PassResult:
        from flink_repartition_watermark_example_spark.queries_streaming import (
            stream_shuffle_width,
        )
        from flink_repartition_watermark_example_spark.streaming.replica import (
            windowed_count_stream,
        )

        spark = h.spark
        emits: list[tuple[int, float, list]] = []
        sink_s = [0.0]

        def sink(batch_df, batch_id):
            with h.job_group(f"pb|trigger|{i}|{batch_id}"), h.tracer.span("streaming.replica.sink", f"p{i}b{batch_id}"):
                t0 = time.perf_counter()
                rows = batch_df.collect()
                sink_s[0] += time.perf_counter() - t0
            emits.append((int(batch_id), time.time(), rows))

        sources = [
            spark.readStream.schema(self.schema).option("maxFilesPerTrigger", 1).parquet(d)
            for d in self.dirs
        ]
        out = windowed_count_stream(sources)
        ckpt = os.path.join(h.work, f"ckpt{i}")
        saved = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(stream_shuffle_width()))
        try:
            with h.tracer.span("streaming.replica.replay", f"p{i}"):
                t0 = time.perf_counter()
                query = (
                    out.writeStream.outputMode("append")
                    .foreachBatch(sink)
                    .trigger(availableNow=True)
                    .option("checkpointLocation", ckpt)
                    .start()
                )
                query.awaitTermination()
                wall = time.perf_counter() - t0
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", saved)
        progress = progress_dicts(query)
        h.checks.ops(len(progress))  # triggers
        rows = [r for _, _, rs in emits for r in rs]
        report = emission_latencies(
            progress,
            [
                Emission(b, r["window_end"].timestamp(), t)
                for b, t, rs in emits
                for r in rs
            ],
        )
        layers = trigger_layers(progress)
        layers["streaming.replica.emit_lag_batches_max"] = max(report.lag_batches, default=0)
        layers["streaming.replica.sink_s"] = sink_s[0]
        if h.tracer.enabled:
            trigger_spans(h.tracer, i, progress)
        return PassResult(wall, self.rows, report.latencies, layers, rows, report, progress, index=i)

    trace_details = staticmethod(phase_share)

    def verify(self, h, r: PassResult) -> None:
        from pyspark.sql import functions as F

        from flink_repartition_watermark_example_spark.operators.windowed import windowed_count
        from flink_repartition_watermark_example_spark.streaming.replica import FLUSH_KEY

        if self.expected is None:
            batch = h.spark.read.schema(self.schema).parquet(*self.dirs).where(F.col("url") != FLUSH_KEY)
            self.expected = sorted(
                (x["window_start"], x["window_end"], x["url"], x["aggregate"])
                for x in windowed_count(batch, "ts", ["url"]).collect()
            )
        got = [(x["window_start"], x["window_end"], x["url"], x["aggregate"]) for x in r.output]
        c = h.checks
        c.op(len(got) == EXPECTED_ROWS, f"skew_replay: {len(got)} rows, want {EXPECTED_ROWS}")
        c.op(sum(x[3] for x in got) == self.rows, "skew_replay: counts do not sum to the input size")
        c.op(len({x[:3] for x in got}) == len(got), "skew_replay: a (window, url) row emitted twice")
        c.op(sorted(got) == self.expected, "skew_replay: rows differ from batch windowed_count")
        c.op(r.report.early == 0, f"skew_replay: {r.report.early} windows emitted before the watermark passed")
        c.op(r.report.unmatched == 0, f"skew_replay: {r.report.unmatched} windows without an admitting trigger")
        c.op(r.layers["streaming.state.rows_dropped_late"] == 0, "skew_replay: rows dropped as late")
        c.op(r.layers["streaming.replica.emit_lag_batches_max"] <= 1, "skew_replay: a window fired late")
