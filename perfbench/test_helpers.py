"""Tests of the benchmark's pure helpers; no Spark needed.

    python3 -m pytest perfbench/test_helpers.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import batch_mix  # noqa: E402
import eventlog  # noqa: E402
import gen  # noqa: E402
import harness  # noqa: E402
from index_replay import components, split_of  # noqa: E402
from stats import Checks, Emission, WriteLedger, emission_latencies, tail_percentile, write_amp  # noqa: E402

# --- percentile with at least 10 samples beyond it ------------------------


def test_tail_leaves_exactly_ten_samples_beyond():
    xs = list(range(1, 721))  # 720 window latencies
    pct, value, n = tail_percentile(xs)
    assert n == 720 and value == 710
    assert sum(x > value for x in xs) == 10
    assert pct == pytest.approx(100 * 710 / 720)


def test_tail_is_order_insensitive():
    xs = [5.0, 1.0, 9.0, 3.0] * 10
    assert tail_percentile(xs) == tail_percentile(sorted(xs))


def test_tail_never_falls_below_the_median():
    pct, value, n = tail_percentile(list(range(1, 15)))  # rule alone: p28.6
    assert (pct, value, n) == (50.0, 7, 14)


def test_tail_of_few_samples_is_the_maximum():
    assert tail_percentile([3.0, 1.0, 2.0]) == (100.0, 3.0, 3)
    with pytest.raises(ValueError):
        tail_percentile([])


# --- emission latency from a synthetic progress log -----------------------


def _p(batch, start, wm):
    return {"batchId": batch, "timestamp": start, "eventTime": {"watermark": wm}}


PROGRESS = [
    _p(0, "2026-01-01T00:00:00.000Z", "1970-01-01T00:00:00.000Z"),
    _p(1, "2026-01-01T00:00:01.000Z", "2016-02-01T11:59:59.000Z"),
    _p(2, "2026-01-01T00:00:02.500Z", "2016-02-02T11:59:59.000Z"),
    _p(3, "2026-01-01T00:00:04.000Z", "2100-01-01T00:00:00.000Z"),
]
T0 = 1767225600.0  # 2026-01-01T00:00:00Z
HOUR1 = 1454288400.0  # 2016-02-01T01:00:00Z, end of the first window


def test_latency_runs_from_the_admitting_trigger():
    # window [00:00, 01:00) may fire in batch 1 (its watermark passed the
    # end); batch 0 admitted the input that moved it.
    r = emission_latencies(PROGRESS, [Emission(1, HOUR1, T0 + 1.75)])
    assert r.latencies == [pytest.approx(1.75)]
    assert r.lag_batches == [1] and r.early == 0 and r.unmatched == 0


def test_late_and_early_emissions_are_counted():
    day2 = HOUR1 + 24 * 3600  # past batch 1's watermark, within batch 2's
    r = emission_latencies(
        PROGRESS,
        [
            Emission(3, HOUR1, T0 + 4.5),  # fired two batches after it could
            Emission(1, day2, T0 + 1.5),  # fired before the watermark passed
        ],
    )
    assert r.lag_batches == [3, 0]
    assert r.latencies[0] == pytest.approx(4.5)
    assert r.early == 1


def test_window_past_every_watermark_is_unmatched():
    r = emission_latencies(PROGRESS[:2], [Emission(1, HOUR1 + 10 * 86400, T0 + 2)])
    assert r.unmatched == 1 and r.latencies == []


# --- write amplification accounting ---------------------------------------


def test_ledger_counts_new_and_rewritten_files_only():
    led = WriteLedger()
    assert led.record({}, {"v0/a.parquet": 100, "v0/_SUCCESS": 0}) == 100
    # v1 is new; v0 untouched
    assert led.record({"v0/a.parquet": 100}, {"v0/a.parquet": 100, "v1/a.parquet": 50}) == 50
    # compaction: both versions gone, one merged file of 120 bytes
    assert led.record({"v0/a.parquet": 100, "v1/a.parquet": 50}, {"v1/m.parquet": 120}) == 120
    assert (led.bytes_written, led.files_written) == (270, 4)
    assert write_amp(led.bytes_written, 120) == pytest.approx(2.25)


def test_ledger_counts_an_overwrite_with_a_new_size():
    led = WriteLedger()
    led.record({"v0/a.parquet": 100}, {"v0/a.parquet": 140})
    assert led.bytes_written == 140


def test_write_amp_needs_live_bytes():
    with pytest.raises(ValueError):
        write_amp(10, 0)


# --- failed_frac accounting -----------------------------------------------


def test_failed_frac():
    c = Checks()
    assert c.failed_frac == 0.0
    c.ops(6)
    c.op(True, "ok")
    c.op(False, "rows differ")
    assert (c.attempted, c.failed, c.failures) == (8, 1, ["rows differ"])
    assert c.failed_frac == pytest.approx(1 / 8)


# --- generators are deterministic per seed --------------------------------


def _equal(a, b):
    return all(x.equals(y) for x, y in zip(a, b)) and len(a) == len(b)


def test_skew_sources_are_the_paper_fixture():
    src = gen.skew_source_tables(7)
    assert [sum(t.num_rows for t in files) for files in src] == [172_800, 172_800]
    assert len(src[0]) == 48 // gen.HOURS_PER_FILE
    assert _equal(src[0], gen.skew_source_tables(7)[0])
    assert not _equal(src[0], gen.skew_source_tables(8)[0])


def test_stream_generators_repeat_per_seed():
    assert _equal(gen.zipf_pageview_batches(3, 2, 500), gen.zipf_pageview_batches(3, 2, 500))
    assert not _equal(gen.zipf_pageview_batches(3, 2, 500), gen.zipf_pageview_batches(4, 2, 500))
    assert _equal(gen.cluster_doc_batches(3, 2, 100), gen.cluster_doc_batches(3, 2, 100))
    docs = gen.cluster_doc_batches(3, 2, 100)
    ids = [set(t.column("doc_id").to_pylist()) for t in docs]
    assert not ids[0] & ids[1] and len(ids[0] | ids[1]) == 200


def test_engine_tables_and_query_order_repeat_per_seed():
    a, b = gen.engine_tables(5), gen.engine_tables(5)
    assert a.keys() == b.keys() and all(a[k].equals(b[k]) for k in a)
    assert not a["lineitem"].equals(gen.engine_tables(6)["lineitem"])
    assert batch_mix.query_order(5) == batch_mix.query_order(5)
    assert sorted(batch_mix.query_order(5)) == sorted(batch_mix.QUERIES)


# --- index_replay's batch twin --------------------------------------------


def test_components_label_with_the_smallest_id():
    cc = components([1, 2, 3, 4, 5], [(2, 4), (4, 5)])
    assert cc == {1: 1, 2: 2, 3: 3, 4: 2, 5: 2}


def test_split_rule_is_a_pure_function_of_the_label():
    assert split_of(42) == split_of(42)
    assert {split_of(i) for i in range(200)} == {"train", "val", "test"}


# --- event-log folding ----------------------------------------------------


def test_fold_sums_only_the_given_passes(tmp_path):
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    grp = lambda g: {"spark.jobGroup.id": g}  # noqa: E731
    task = {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": 0,
        "Task Info": {"Accumulables": [{"Name": "time to run Python workers", "Update": "2000"}]},
        "Task Metrics": {
            "Executor Run Time": 1500,
            "Executor CPU Time": 1_000_000_000,
            "JVM GC Time": 100,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 10},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 20},
            "Disk Bytes Spilled": 0,
            "Output Metrics": {"Bytes Written": 30},
        },
    }
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Properties": grp("pb|build|1|q")},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0}, "Properties": grp("pb|build|1|q")},
        task,
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 3000, "Properties": grp("pb|exec|2|q")},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1}, "Properties": grp("pb|exec|2|q")},
        {**task, "Stage ID": 1},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 9000},
    ]
    (d / "events_1_app").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    (d / "appstatus_app").write_text("")
    m = eventlog.fold(str(tmp_path), {1})
    assert m["queries.build_jobs"] == 1 and m["exec.tasks"] == 1
    assert m["exec.wall_s"] == pytest.approx(2.0)
    assert m["exec.run_s"] == pytest.approx(1.5) and m["exec.cpu_s"] == pytest.approx(1.0)
    assert (m["exec.shuffle_read_bytes"], m["exec.shuffle_write_bytes"], m["exec.output_bytes"]) == (10, 20, 30)
    assert m["operators.python_s"] == pytest.approx(2.0)
    both = eventlog.fold(str(tmp_path), {1, 2})
    assert both["exec.tasks"] == 1 and both["exec.wall_s"] == pytest.approx(4.0)


# --- waiting for child processes to end ------------------------------------


def test_wait_gone_reports_a_live_child_until_it_ends():
    p = subprocess.Popen(["sleep", "30"])
    try:
        assert p.pid in harness._tree(os.getpid())
        assert not harness._shares_parent_mm(p.pid)  # exec'd: its own address space
        assert harness._wait_gone([p.pid], 0.2) == [p.pid]
    finally:
        p.kill()
    assert harness._wait_gone([p.pid], 5) == []  # an unreaped zombie counts as ended
    p.wait()
    assert harness._wait_gone([p.pid], 0) == []
