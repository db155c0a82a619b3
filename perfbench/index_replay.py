"""``index_replay``: versioned on-disk indexes, written beside reads.

Part (a) streams Zipf-keyed pageviews; each trigger's ``foreachBatch``
calls ``streaming.sketch.cms_sketch_writer``, ``hll_sketch_writer`` and
``streaming.anomaly.hourly_count_writer``.  The pass then compacts the
three indexes and reads them back.  Part (b) streams near-duplicate
documents through ``streaming.clustermap.cluster_map_writer`` (default,
capped settings) and reads the map twice: the latest version and an
as-of version."""

from __future__ import annotations

import hashlib
import os
import time

import gen
from progress import phase_share, progress_dicts, trigger_layers, trigger_spans
from stats import PassResult, WriteLedger, dir_files, parse_progress_ts, write_amp

PV_BATCHES = 2
PV_ROWS = 20000
DOC_BATCHES = 2
DOC_ROWS = 300
INDEXES = ("sketch", "anomaly", "clustermap")


def split_of(label: int) -> str:
    """The cluster split rule: md5 bucket of the label, 90/5/5 (the
    engine's ``md5_long(label, salt="split") % 100``)."""
    bucket = int(hashlib.md5(f"{label}#split".encode()).hexdigest()[:15], 16) % 100
    return "train" if bucket < 90 else "val" if bucket < 95 else "test"


def components(ids: list[int], pairs: list[tuple[int, int]]) -> dict[int, int]:
    """Connected components by union-find; each doc maps to the smallest
    doc id of its component."""
    parent = {d: d for d in ids}

    def root(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = root(a), root(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {d: root(d) for d in ids}


class IndexReplay:
    name = "index_replay"
    # The pass is measured cold: a warm-up pass (about twice a warm pass)
    # does not fit the run budget beside the other two workloads.
    warmup_passes = 0
    min_passes = 1

    def stage(self, h, root: str) -> None:
        pv = gen.zipf_pageview_batches(h.seed, PV_BATCHES, PV_ROWS)
        docs = gen.cluster_doc_batches(h.seed, DOC_BATCHES, DOC_ROWS)
        base = time.time() - 86400
        (self.pv_dir, self.doc_dir), _ = gen.stage_files(root, [pv, docs], base)
        self.pv_schema = h.spark.read.parquet(self.pv_dir).schema
        self.doc_schema = h.spark.read.parquet(self.doc_dir).schema
        self.doc_ids = [set(t.column("doc_id").to_pylist()) for t in docs]
        self.rows = PV_BATCHES * PV_ROWS + DOC_BATCHES * DOC_ROWS
        self.expected = None

    def _stream(self, h, i: int, src: str, schema, body, tag: str) -> list[dict]:
        """Replay ``src`` one file per trigger into ``body``; returns the
        progress log."""
        spark = h.spark
        df = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
        query = (
            df.writeStream.foreachBatch(body)
            .trigger(availableNow=True)
            .option("checkpointLocation", os.path.join(h.work, f"ckpt{i}{tag}"))
            .start()
        )
        query.awaitTermination()
        progress = progress_dicts(query)
        h.checks.ops(len(progress))  # triggers
        return progress

    def run_pass(self, h, i: int) -> PassResult:
        from flink_repartition_watermark_example_spark.streaming import anomaly, clustermap, sketch

        spark = h.spark
        d = os.path.join(h.work, f"idx{i}")
        paths = {
            "cms": os.path.join(d, "cms"),
            "hll": os.path.join(d, "hll"),
            "hourly": os.path.join(d, "hourly"),
            "cm_index": os.path.join(d, "cm_index"),
            "cm_map": os.path.join(d, "cm_map"),
        }
        owner = {"cms": "sketch", "hll": "sketch", "hourly": "anomaly", "cm_index": "clustermap", "cm_map": "clustermap"}
        ledgers = {k: WriteLedger() for k in INDEXES}
        layers = {f"streaming.{k}.{m}": 0.0 for k in INDEXES for m in ("publish_s", "versions", "read_s")}
        layers.update({f"streaming.{k}.compact_s": 0.0 for k in ("sketch", "anomaly")})
        layers["streaming.clustermap.map_bytes_written"] = 0
        commits: list[tuple[tuple[str, int], float]] = []  # ((stream, batch id), writer return time)

        def call(label: str, kind: str, fn, *args, paths_touched=()):
            """Run one engine call under a span and job group; traced, also
            record the bytes it wrote to each index (directory snapshots
            around the call)."""
            account = paths_touched if h.tracer.enabled else ()
            before = [dir_files(paths[p]) for p in account]
            with h.job_group(f"pb|{kind}|{i}|{label}"), h.tracer.span(f"streaming.{label}", f"p{i}"):
                t0 = time.perf_counter()
                out = fn(*args)
                dt = time.perf_counter() - t0
            for p, b in zip(account, before):
                n = ledgers[owner[p]].record(b, dir_files(paths[p]))
                if p == "cm_map":
                    layers["streaming.clustermap.map_bytes_written"] += n
            return out, dt

        writers = {
            "cms": sketch.cms_sketch_writer(paths["cms"], key_col="user"),
            "hll": sketch.hll_sketch_writer(paths["hll"], key_col="user", group_col="url"),
            "hourly": anomaly.hourly_count_writer(paths["hourly"], ts_col="ts", key_col="url"),
        }

        def pv_sink(batch_df, batch_id):
            for name, w in writers.items():
                _, dt = call(f"{owner[name]}.{name}_writer", "writer", w, batch_df, batch_id, paths_touched=(name,))
                layers[f"streaming.{owner[name]}.publish_s"] += dt
                layers[f"streaming.{owner[name]}.versions"] += 1
                commits.append((("pv", int(batch_id)), time.time()))
            h.checks.ops(len(writers))

        cm_writer = clustermap.cluster_map_writer(paths["cm_index"], paths["cm_map"])

        def doc_sink(batch_df, batch_id):
            _, dt = call("clustermap.writer", "writer", cm_writer, batch_df, batch_id, paths_touched=("cm_index", "cm_map"))
            layers["streaming.clustermap.publish_s"] += dt
            layers["streaming.clustermap.versions"] += 1
            commits.append((("doc", int(batch_id)), time.time()))
            h.checks.ops(1)

        def read(label, kind, df_fn, *args):
            out, dt = call(label, "read", lambda: df_fn(*args).collect())
            layers[f"streaming.{kind}.read_s"] += dt
            return out

        t0 = time.perf_counter()
        pv_progress = self._stream(h, i, self.pv_dir, self.pv_schema, pv_sink, "pv")
        for name, fn, args in (
            ("cms", sketch.compact_sketch, (spark, paths["cms"])),
            ("hll", sketch.compact_hll_sketch, (spark, paths["hll"], "url")),
            ("hourly", anomaly.compact_counts, (spark, paths["hourly"])),
        ):
            _, dt = call(f"{owner[name]}.compact_{name}", "compact", fn, *args, paths_touched=(name,))
            layers[f"streaming.{owner[name]}.compact_s"] += dt
        out = {
            "cms": read("sketch.read_cms", "sketch", sketch.read_cms_sketch, spark, paths["cms"]),
            "hll": read("sketch.read_hll", "sketch", sketch.read_hll_sketch, spark, paths["hll"], "url"),
            "hourly": read("anomaly.read_hourly", "anomaly", anomaly.read_hourly_counts, spark, paths["hourly"]),
        }
        doc_progress = self._stream(h, i, self.doc_dir, self.doc_schema, doc_sink, "doc")
        asof = 0  # the first batch's version
        out["map"] = read("clustermap.read_latest", "clustermap", clustermap.read_cluster_map, spark, paths["cm_map"])
        out["map_asof"] = read(
            "clustermap.read_asof", "clustermap", clustermap.read_cluster_map, spark, paths["cm_map"], asof
        )
        out["asof"] = asof
        wall = time.perf_counter() - t0
        h.checks.ops(6 + 3)  # compactions and reads

        starts = {
            (tag, p["batchId"]): parse_progress_ts(p["timestamp"])
            for tag, prog in (("pv", pv_progress), ("doc", doc_progress))
            for p in prog
        }
        latencies = [t - starts[b] for b, t in commits]

        layers.update(trigger_layers(pv_progress + doc_progress))
        if h.tracer.enabled:
            trigger_spans(h.tracer, i, pv_progress + doc_progress)
        for k in INDEXES:
            layers[f"streaming.{k}.bytes_written"] = ledgers[k].bytes_written
            layers[f"streaming.{k}.files_written"] = ledgers[k].files_written
        live = {
            "sketch": sum(dir_files(paths["cms"]).values()) + sum(dir_files(paths["hll"]).values()),
            "anomaly": sum(dir_files(paths["hourly"]).values()),
            "clustermap": sum(dir_files(paths["cm_index"]).values()) + sum(dir_files(paths["cm_map"]).values()),
        }
        for k, v in live.items():
            layers[f"streaming.{k}.bytes_live"] = v
        layers["streaming.index.write_amp"] = write_amp(
            sum(x.bytes_written for x in ledgers.values()), sum(live.values())
        )
        return PassResult(wall, self.rows, latencies, layers, out, progress=pv_progress + doc_progress, index=i)

    trace_details = staticmethod(phase_share)

    def _expected(self, h) -> dict:
        """Batch twins of every index the pass wrote, computed once: the
        CMS, one-shot HLL and hourly counts in Spark, the cluster map as
        union-find over the uncapped batch simhash pairs."""
        from pyspark.sql import functions as F

        from flink_repartition_watermark_example_spark.operators.dedup import simhash_neardup_pairs
        from flink_repartition_watermark_example_spark.operators.sketch import cms_build

        spark = h.spark
        pv = spark.read.schema(self.pv_schema).parquet(self.pv_dir)
        docs = spark.read.schema(self.doc_schema).parquet(self.doc_dir).select("doc_id", "text")
        pairs = [tuple(r) for r in simhash_neardup_pairs(docs, max_bucket_docs=None).select("doc_a", "doc_b").collect()]
        cc = components(sorted(set().union(*self.doc_ids)), pairs)
        return {
            "cms": sorted(tuple(r) for r in cms_build(pv, F.col("user")).collect()),
            "hll_oneshot": [tuple(r) for r in pv.groupBy("url").agg(F.hll_sketch_agg("user").alias("sk")).collect()],
            "hourly": sorted(
                tuple(r)
                for r in pv.groupBy(F.col("url").alias("event_type"), F.date_trunc("hour", "ts").alias("h"))
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            ),
            "map": {d: (c, split_of(c)) for d, c in cc.items()},
        }

    @staticmethod
    def _hll_equal(h, streamed: list, oneshot: list) -> bool:
        """Sketch equality, estimator-normalized.  DataSketches estimates
        a directly built sketch with HIP and a union result with its
        composite estimator, so the raw estimates of the streamed union
        and the one-shot sketch differ even when their registers agree.
        Both sides therefore go through a two-input union — S+S, O+O
        and S+O — which leaves each side's registers as they are (the
        merge is a register max) and uses one estimator: equal registers
        give three equal estimates per group, and registers that differ
        show as a differing estimate."""
        from pyspark.sql import functions as F

        s, o = dict((x[0], x[1]) for x in streamed), dict(oneshot)
        if s.keys() != o.keys():
            return False
        rows = [
            (url, pair, sk)
            for url in s
            for pair, pair_sks in (("ss", (s[url], s[url])), ("oo", (o[url], o[url])), ("so", (s[url], o[url])))
            for sk in pair_sks
        ]
        est = (
            h.spark.createDataFrame(rows, "url string, pair string, sk binary")
            .groupBy("url")
            .pivot("pair", ["ss", "oo", "so"])
            .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")))
            .collect()
        )
        return len(est) == len(o) and all(r["ss"] == r["oo"] == r["so"] for r in est)

    def verify(self, h, r: PassResult) -> None:
        if self.expected is None:
            self.expected = self._expected(h)
        e, o, c = self.expected, r.output, h.checks
        c.op(sorted(tuple(x) for x in o["cms"]) == e["cms"], "index_replay: CMS differs from the batch build")
        c.op(self._hll_equal(h, o["hll"], e["hll_oneshot"]), "index_replay: HLL differs from the one-shot sketch")
        c.op(
            sorted((x["event_type"], x["h"], x["n"]) for x in o["hourly"]) == e["hourly"],
            "index_replay: hourly counts differ from the batch aggregation",
        )
        got = {x["doc_id"]: (x["cluster_id"], x["split"]) for x in o["map"]}
        c.op(got == e["map"], "index_replay: cluster map differs from the batch CC split")
        want = set().union(*self.doc_ids[: o["asof"] + 1])
        c.op({x["doc_id"] for x in o["map_asof"]} == want, "index_replay: as-of read has the wrong docs")
