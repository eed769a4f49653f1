"""Self-tests for the benchmark's folding math.

    python3 -m pytest perfbench/test_fold.py -q

The fixture under ``fixtures/eventlog`` is a hand-written Spark event
log: one job before any span, one two-stage job inside span A, and two
overlapping one-stage jobs inside span B, split across a plain file and
a rolling-log directory.
"""

from __future__ import annotations

import json
import math
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import fold  # noqa: E402
import harness  # noqa: E402

SPANS = [
    {"name": "a", "layer": "plans", "start": 1000, "end": 2000},
    {"name": "b", "layer": "plans", "start": 2000, "end": 3000},
]


@pytest.fixture(scope="module")
def folded():
    jobs, tasks = fold.load_event_log(os.path.join(HERE, "fixtures", "eventlog"))
    return {sp["name"]: sp for sp in fold.fold(SPANS, jobs, tasks)}


def test_load_reads_plain_and_rolling_files():
    jobs, tasks = fold.load_event_log(os.path.join(HERE, "fixtures", "eventlog"))
    assert sorted(jobs) == [0, 1, 2, 3]
    assert jobs[0] == {"start": 1100, "end": 1900, "stages": [0, 1]}
    assert len(tasks) == 7


def test_jobs_attributed_by_submission_window(folded):
    assert folded["a"]["jobs"] == 1
    assert folded["b"]["jobs"] == 2  # job 3, before every span, is nobody's


def test_driver_s_is_span_time_without_running_tasks(folded):
    # span a: tasks cover [1200,1500] and [1600,1900] -> 600 of 1000 ms
    assert folded["a"]["driver_s"] == pytest.approx(0.4)
    # span b: tasks cover [2150,2450] -> 300 of 1000 ms
    assert folded["b"]["driver_s"] == pytest.approx(0.7)


def test_idle_clips_to_the_span_and_merges_overlaps():
    assert fold.idle_ms(0, 100, []) == 100
    assert fold.idle_ms(0, 100, [(-50, 30), (20, 40), (90, 500)]) == pytest.approx(50)
    assert fold.idle_ms(0, 100, [(0, 100), (10, 20)]) == 0


def test_task_metrics_sum_over_the_span(folded):
    a = folded["a"]
    assert a["executor_cpu_s"] == pytest.approx(0.6)
    assert a["gc_s"] == pytest.approx(0.02)
    assert a["input_bytes"] == 2000
    assert a["output_bytes"] == 1200
    assert a["shuffle_write_bytes"] == 128
    assert a["spill_bytes"] == 4096


def test_task_skew_is_slowest_over_median_write_task(folded):
    # write tasks ran 100 and 300 ms: median 200, max 300
    assert folded["a"]["write_tasks"] == 2
    assert folded["a"]["task_skew"] == pytest.approx(1.5)
    assert folded["b"]["write_tasks"] == 0
    assert folded["b"]["task_skew"] == 0.0
    assert fold.task_skew([10, 10, 10, 40]) == pytest.approx(4.0)


def test_concurrent_jobs(folded):
    assert folded["a"]["jobs_concurrent_max"] == 1
    assert folded["b"]["jobs_concurrent_max"] == 2
    # touching intervals do not overlap
    assert fold.max_concurrent([(0, 10), (10, 20)]) == 1


def test_percentile_and_its_sample_count():
    xs = list(range(1, 101))
    assert harness.percentile(xs, 50) == pytest.approx(50.5)
    assert harness.percentile(xs, 90) == pytest.approx(90.1)
    assert harness.percentile([3.0], 99) == 3.0
    # at least ten samples must lie beyond the reported percentile
    assert harness.supported_percentile(1000) == 99
    assert harness.supported_percentile(999) == 95
    assert harness.supported_percentile(200) == 95
    assert harness.supported_percentile(100) == 90
    assert harness.supported_percentile(40) == 75
    assert harness.supported_percentile(12) == 50


def test_geomean():
    assert harness.geomean([1, 4, 16]) == pytest.approx(4.0)
    assert harness.geomean([2.0]) == pytest.approx(2.0)
    assert math.isnan(harness.geomean([]))


def test_cent_rounded_sums_compare_to_within_a_cent():
    pd = pytest.importorskip("pandas")
    import wl_queries

    want = pd.DataFrame({"k": [1, 2], "revenue": [10.25, 30.5]})
    assert wl_queries._within_a_cent(pd.DataFrame({"k": [2, 1], "revenue": [30.51, 10.24]}), want) == []
    assert wl_queries._within_a_cent(pd.DataFrame({"k": [1, 2], "revenue": [10.25, 30.53]}), want)
    assert wl_queries._within_a_cent(pd.DataFrame({"k": [1, 3], "revenue": [10.25, 30.5]}), want)
    # the right revenues on the wrong rows
    assert wl_queries._within_a_cent(pd.DataFrame({"k": [1, 2], "revenue": [30.5, 10.25]}), want)
    assert wl_queries._within_a_cent(pd.DataFrame({"k": [1, 1], "revenue": [10.25, 30.5]}), want)


def test_manifest_matches_the_harness():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        manifest = json.load(f)
    import run

    assert [w["name"] for w in manifest["workloads"]] == list(run.WORKLOADS)
    assert {p for parts in run.WORKLOADS.values() for p in parts} == set(run.SHARE) == set(run.ROLE)
    for parts in run.WORKLOADS.values():
        assert sorted(run.ROLE[p] for p in parts) == ["batch_s", "stream_s"]
