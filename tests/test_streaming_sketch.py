"""Incremental count-min sketch (streaming/sketch.py): streamed in any
batch split, the merged sketch must equal the batch sketch EXACTLY
(counters are algebraic), crash replays must be idempotent, and
compaction must be lossless — including against a stream that RESUMES
after compaction (the compacted snapshot must never collide with the
resumed stream's next batch_id)."""

from __future__ import annotations

from pyspark.sql import functions as F

import pytest

from flink_repartition_watermark_example_spark.operators.sketch import cms_build
from flink_repartition_watermark_example_spark.sources.tables import load_table
from flink_repartition_watermark_example_spark.streaming.sketch import (
    cms_sketch_writer,
    compact_hll_sketch,
    compact_sketch,
    estimate_from_sketch,
    hll_sketch_writer,
    read_cms_sketch,
    read_hll_sketch,
)

pytestmark = pytest.mark.slow  # streaming replay: minute-class


def _cells(df):
    return {(r["depth"], r["cell"]): r["n"] for r in df.collect()}


def test_streamed_sketch_equals_batch_sketch(spark, sf_dir, tmp_path):
    events = load_table(spark, sf_dir, "events").select("event_id", "event_type")

    src = str(tmp_path / "events_stream")
    for cond in (
        F.col("event_id") % 3 == 0,
        F.col("event_id") % 3 == 1,
        F.col("event_id") % 3 == 2,
    ):
        events.where(cond).coalesce(1).write.mode("append").parquet(src)

    sketch = str(tmp_path / "sketch")
    q = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.outputMode("append")
        .foreachBatch(cms_sketch_writer(sketch, key_col="event_type"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = _cells(read_cms_sketch(spark, sketch))
    want = _cells(cms_build(events, F.col("event_type")))
    assert got == want and len(got) > 0

    # estimates over the maintained sketch are the batch estimates
    keys = events.select("event_type").distinct().limit(5)
    est = {
        r["event_type"]: r["est"]
        for r in estimate_from_sketch(
            spark, sketch, keys, F.col("event_type")
        ).collect()
    }
    truth = {
        r["event_type"]: r["n"]
        for r in events.join(keys, "event_type", "left_semi")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for event_type, n in truth.items():
        assert est[event_type] >= n  # CMS never underestimates

    # compaction is lossless (3 versions -> 1 surviving, 2 removed)
    removed = compact_sketch(spark, sketch)
    assert removed == 2
    assert _cells(read_cms_sketch(spark, sketch)) == want


def test_replayed_batch_is_idempotent(spark, sf_dir, tmp_path):
    events = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    first = events.where(F.col("event_id") % 2 == 0)
    second = events.where(F.col("event_id") % 2 == 1)

    sketch = str(tmp_path / "sketch")
    w = cms_sketch_writer(sketch, key_col="event_type")
    w(first, 0)
    w(second, 1)
    once = _cells(read_cms_sketch(spark, sketch))

    w(second, 1)  # crash replay of batch 1
    assert _cells(read_cms_sketch(spark, sketch)) == once


def test_hll_index_streamed_equals_batch_and_survives_resume(spark, sf_dir, tmp_path):
    """Register-max union: any batch split of the input must merge to
    EXACTLY the one-shot sketch estimates; replay is idempotent; the
    compacted snapshot survives the resumed stream's next batch."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )
    b = [ev.where(F.col("event_id") % 3 == i) for i in range(3)]

    sketch = str(tmp_path / "hll")
    w = hll_sketch_writer(sketch, key_col="user_id", group_col="event_type")
    w(b[0], 0)
    w(b[1], 1)
    w(b[1], 1)  # crash replay — overwrite of own version, no-op
    assert compact_hll_sketch(spark, sketch, "event_type") == 1
    w(b[2], 2)  # resumed stream's next batch must not be clobbered

    est = {
        r["event_type"]: r["n"]
        for r in read_hll_sketch(spark, sketch, "event_type")
        .select("event_type", F.hll_sketch_estimate("sk").alias("n"))
        .collect()
    }
    want = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("n"))
        .collect()
    }
    assert est == want and len(est) > 0


def test_hll_merged_registers_equal_one_shot_at_sparse_cardinality(spark, tmp_path):
    """At ~850 distinct keys per group the merged deltas and the
    one-shot sketch hold the SAME registers, but their raw
    hll_sketch_estimate can differ by a few counts: a union result is
    estimated with the composite estimator, a directly built sketch
    with HIP.  Compared through two-input unions (streamed+streamed,
    one-shot+one-shot, streamed+one-shot) both sides share one
    estimator, so equal registers give three equal estimates."""
    ev = spark.range(3400).select(
        "id",
        (F.col("id") % 4).cast("string").alias("g"),
        F.sha1(F.col("id").cast("string")).alias("user"),
    )
    sketch = str(tmp_path / "hll")
    w = hll_sketch_writer(sketch, key_col="user", group_col="g")
    for i in range(3):
        w(ev.where(F.col("id") % 3 == i), i)
    streamed = dict(map(tuple, read_hll_sketch(spark, sketch, "g").collect()))
    oneshot = dict(
        map(tuple, ev.groupBy("g").agg(F.hll_sketch_agg("user")).collect())
    )
    assert streamed.keys() == oneshot.keys() == {"0", "1", "2", "3"}

    pairs = {"ss": ("s", "s"), "oo": ("o", "o"), "so": ("s", "o")}
    sks = {"s": streamed, "o": oneshot}
    rows = [
        (g, pair, sks[side][g])
        for g in oneshot
        for pair, sides in pairs.items()
        for side in sides
    ]
    est = (
        spark.createDataFrame(rows, "g string, pair string, sk binary")
        .groupBy("g")
        .pivot("pair", list(pairs))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")))
        .collect()
    )
    assert len(est) == 4
    assert all(r["ss"] == r["oo"] == r["so"] for r in est), est

    def raw(sk_by_group):
        return {
            r["g"]: r["n"]
            for r in spark.createDataFrame(
                list(sk_by_group.items()), "g string, sk binary"
            )
            .select("g", F.hll_sketch_estimate("sk").alias("n"))
            .collect()
        }

    raw_s, raw_o = raw(streamed), raw(oneshot)
    assert all(abs(raw_s[g] - raw_o[g]) <= 0.03 * raw_o[g] for g in raw_o)


def test_resume_after_compaction_preserves_counts(spark, sf_dir, tmp_path):
    """The advisor's scenario: compact, then the resumed stream writes
    its next batch.  The compacted snapshot must survive — a snapshot
    written as v{max+1} would equal the next batch_id and be silently
    overwritten by the delta write."""
    events = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    b0 = events.where(F.col("event_id") % 3 == 0)
    b1 = events.where(F.col("event_id") % 3 == 1)
    b2 = events.where(F.col("event_id") % 3 == 2)

    sketch = str(tmp_path / "sketch")
    w = cms_sketch_writer(sketch, key_col="event_type")
    w(b0, 0)
    w(b1, 1)
    assert compact_sketch(spark, sketch) == 1

    # stream resumes: its next batch_id is 2 (one past the last
    # CHECKPOINTED batch — compaction must not have parked the merged
    # snapshot there)
    w(b2, 2)
    got = _cells(read_cms_sketch(spark, sketch))
    want = _cells(cms_build(events, F.col("event_type")))
    assert got == want and len(got) > 0


def test_compaction_crash_before_marker_is_discarded_not_installed(
    spark, sf_dir, tmp_path
):
    """Round-6 advisor finding: a compaction that crashed BETWEEN its
    parquet commit (_SUCCESS) and the _COMPACTED marker touch must be
    DISCARDED by recovery, never installed.  Installing it as v{max}
    without the marker would let a replay of batch max miss the
    compaction check, and its overwrite-mode delta write would destroy
    every pre-compaction count.  Discarding is lossless here: the
    compactor only starts deleting old versions AFTER the marker, so
    every original version is still present."""
    import os

    events = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    b0 = events.where(F.col("event_id") % 2 == 0)
    b1 = events.where(F.col("event_id") % 2 == 1)

    sketch = str(tmp_path / "sketch")
    w = cms_sketch_writer(sketch, key_col="event_type")
    w(b0, 0)
    w(b1, 1)
    want = _cells(read_cms_sketch(spark, sketch))

    # stage the merge as compact_sketch would, but "crash" right after
    # the parquet write — _SUCCESS present, marker never touched
    read_cms_sketch(spark, sketch).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sketch, "_compact_tmp_v1")
    )

    # the resumed stream replays batch 1; recovery at the writer head
    # must drop the dead stage and leave both original versions, so
    # the replay is the usual idempotent overwrite of v1's own delta
    w(b1, 1)
    assert not any(d.startswith("_compact_tmp") for d in os.listdir(sketch))
    assert os.path.exists(os.path.join(sketch, "v0", "_SUCCESS"))
    assert _cells(read_cms_sketch(spark, sketch)) == want


def test_replay_of_last_precompaction_batch_is_skipped(spark, sf_dir, tmp_path):
    """The nastiest replay window: compaction runs while the stream is
    down and reuses v{max} — but the checkpoint never committed that
    last batch.  On resume the writer replays it; overwriting the
    compacted snapshot with the batch-only delta would silently
    destroy every earlier count.  The _COMPACTED marker makes the
    replay a no-op (its delta is already folded in)."""
    events = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    b0 = events.where(F.col("event_id") % 2 == 0)
    b1 = events.where(F.col("event_id") % 2 == 1)

    sketch = str(tmp_path / "sketch")
    w = cms_sketch_writer(sketch, key_col="event_type")
    w(b0, 0)
    w(b1, 1)
    want = _cells(read_cms_sketch(spark, sketch))

    assert compact_sketch(spark, sketch) == 1  # folds v0+v1 into v1
    w(b1, 1)  # crash replay of the LAST pre-compaction batch
    assert _cells(read_cms_sketch(spark, sketch)) == want


def test_stage_replay_files_emits_placeholder_for_empty_slice(spark, tmp_path):
    # ADVICE r12 #1: an empty key%3 arrival slice must still produce
    # its (empty) stage file so batch s == stage s holds
    # unconditionally — the capped cluster-map oracle's
    # emission-horizon SQL depends on the alignment.
    import os

    from flink_repartition_watermark_example_spark.queries_sketches import (
        _stage_replay_files,
    )

    # keys 0 and 2 mod 3 only: slice 1 is empty
    df = spark.range(0, 30).selectExpr(
        "CASE WHEN id % 2 = 0 THEN id * 3 ELSE id * 3 + 2 END AS event_id",
        "CAST(id AS STRING) AS payload",
    )
    src = _stage_replay_files(df, "event_id", str(tmp_path))
    names = sorted(os.listdir(src))
    stages = sorted({n.split("_")[0] for n in names if n.endswith(".parquet")})
    assert stages == ["0000", "0001", "0002"], names
    # the placeholder is empty but schema-correct, and mtime order
    # keeps stage order
    ph = [n for n in names if n.startswith("0001")]
    assert len(ph) == 1
    got = spark.read.parquet(os.path.join(src, ph[0]))
    assert got.count() == 0
    assert [f.name for f in got.schema.fields] == ["event_id", "payload"]
    mtimes = [
        os.stat(os.path.join(src, n)).st_mtime
        for n in names
        if n.endswith(".parquet")
    ]
    assert mtimes == sorted(mtimes)
