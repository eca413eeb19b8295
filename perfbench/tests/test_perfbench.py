"""Tests of the benchmark's own helpers; no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import corpus  # noqa: E402
import eventlog  # noqa: E402
import harness  # noqa: E402
import workloads  # noqa: E402
from stats import median  # noqa: E402

LOG_DIR = os.path.join(HERE, "data", "eventlog")


# -- stats --------------------------------------------------------------------

def test_median_odd_even_and_empty():
    assert median([3, 1, 2]) == 2.0
    assert median([4, 1, 3, 2]) == 2.5
    with pytest.raises(ValueError):
        median([])


def test_timed_pass_count_depends_on_the_window_only():
    assert harness.timed_passes("curate_corpus", 1) == harness.TIMED_MIN
    assert harness.timed_passes("curate_corpus", 20) == 2
    assert harness.timed_passes("crawl_wide", 20) == 3
    assert harness.timed_passes("crawl_wide", 70) == 10


# -- corpus slices ------------------------------------------------------------

def _docs(texts):
    import pyarrow as pa

    return pa.table({"doc_id": list(range(len(texts))), "text": texts})


def test_dup_families_find_the_source_of_each_near_duplicate():
    texts = ["a b c d", "x y z", "a b dup", "x y z dup", "q r dup", "a bc"]
    assert corpus.dup_families(texts) == [(2, 0), (3, 1)]


def test_document_slice_keeps_families_and_dup_share():
    import numpy as np

    texts = []
    for i in range(100):
        texts.append(f"w{i} v{i} u{i} t{i}")
        if i % 5 == 0:
            texts.append(f"w{i} v{i} dup")
    docs = _docs(texts)
    for seed in (1, 2):
        got = corpus.sample_documents(docs, 60, np.random.default_rng(seed))
        assert got.num_rows == 60
        kept = got.column("text").to_pylist()
        n_dups = sum(t.endswith(" dup") for t in kept)
        assert n_dups == 10  # the table's share: 20 of 120
        assert len(corpus.dup_families(kept)) == n_dups
        assert got.column("doc_id").to_pylist() == sorted(
            got.column("doc_id").to_pylist())
    again = corpus.sample_documents(docs, 60, np.random.default_rng(1))
    assert again.equals(corpus.sample_documents(
        docs, 60, np.random.default_rng(1)))


# -- event log ----------------------------------------------------------------

def test_event_files_follow_rolling_order():
    names = [os.path.basename(p) for p in eventlog.event_files(LOG_DIR)]
    assert names == ["events_1_local-1", "events_2_local-1"]


def test_parse_sums_per_job_group():
    stats = eventlog.parse(eventlog.read_events(eventlog.event_files(LOG_DIR)))
    assert set(stats) == {"p0.w1", "p0.w2", None}
    w1 = stats["p0.w1"]
    assert (w1.jobs, w1.stages, w1.tasks) == (1, 2, 3)
    assert w1.shuffle_write_bytes == 150
    assert w1.shuffle_read_bytes == 50
    assert w1.spill_bytes == 7
    assert w1.executor_run_s == pytest.approx(1.5)
    assert w1.executor_cpu_s == pytest.approx(0.9)
    assert w1.gc_s == pytest.approx(0.01)
    # stage 3 of job 1 was skipped: listed by the job, never submitted
    w2 = stats["p0.w2"]
    assert (w2.jobs, w2.stages, w2.tasks) == (1, 1, 1)
    assert stats[None].jobs == 1 and stats[None].tasks == 1


def test_no_task_seconds_merges_overlapping_tasks():
    stats = eventlog.parse(eventlog.read_events(eventlog.event_files(LOG_DIR)))
    # busy [1000.0, 1000.9] (two overlapping tasks) and [1001.5, 1002.0]
    idle = eventlog.no_task_seconds(stats["p0.w1"].task_intervals,
                                    1000.0, 1002.5)
    assert idle == pytest.approx(2.5 - 1.4)


def test_no_task_seconds_clips_to_the_window():
    tasks = [(0.0, 5.0), (4.0, 6.0), (9.0, 20.0)]
    assert eventlog.no_task_seconds(tasks, 2.0, 10.0) == pytest.approx(3.0)
    assert eventlog.no_task_seconds([], 2.0, 10.0) == pytest.approx(8.0)
    assert eventlog.no_task_seconds(tasks, 3.0, 3.0) == 0.0


# -- correctness gate ---------------------------------------------------------

class _FakeCrawl(workloads.CrawlWorkload):
    """A crawl whose reference is fixed, so no Spark or simulator runs."""

    def __init__(self, expected: int):
        self.expected = expected

    def reference(self) -> int:
        return self.expected


def _run_with(passes) -> harness.Run:
    r = harness.Run("crawl_wide", "")
    r.passes = [("timed", p) for p in passes]
    return r


def _crawl_pass(items: int, edges: int = 50, waves: int = 3):
    return workloads.PassResult(
        job_s=1.0, items=items, steps=[0.3] * waves, ops=1,
        signature={"crawl": (items, edges, waves)})


def test_wrong_crawl_output_counts_as_failed_operation():
    r = _run_with([_crawl_pass(10), _crawl_pass(9), _crawl_pass(10)])
    harness.verify(r, _FakeCrawl(expected=10))
    assert harness.tally(r) == (False, 3, 1)


def test_passes_that_disagree_fail_even_when_counts_match():
    r = _run_with([_crawl_pass(10), _crawl_pass(10, edges=49),
                   _crawl_pass(10)])
    harness.verify(r, _FakeCrawl(expected=10))
    assert harness.tally(r) == (False, 3, 1)
    assert "crawl" in r.passes[1][1].failed


def test_correct_run_and_whole_pass_exception():
    ok = _run_with([_crawl_pass(10), _crawl_pass(10)])
    harness.verify(ok, _FakeCrawl(expected=10))
    assert harness.tally(ok) == (True, 2, 0)
    broken = workloads.PassResult(
        job_s=1.0, items=0, steps=[], ops=6,
        failed={workloads.WHOLE_PASS: "RuntimeError: boom"})
    assert workloads.failed_ops(broken) == 6


def test_content_digest_ignores_row_and_column_order():
    a = workloads.content_digest(["x", "y"], [(1, 0.1234567), (2, 3.0)])
    b = workloads.content_digest(["y", "x"], [(3, 2), (0.12345671, 1)])
    assert a == b
    assert a != workloads.content_digest(["x", "y"], [(1, 0.1234), (2, 3.0)])


def test_image_verify_invariants():
    cols = ["n_rows", "n_pixel_ok", "n_caption_ok", "n_phash_ok",
            "lossy_psnr_ge_40"]
    good = [(150, 150, 150, 150, True)]
    bad = [(150, 149, 150, 150, True)]
    assert workloads._rows_only_check("e7_image_verify", cols, good) is None
    assert workloads._rows_only_check("e7_image_verify", cols, bad)


def test_per_layer_names_are_unique_and_valid():
    names = harness.per_layer_names()
    assert len(names) == len(set(names)) <= 128
    for n in names:
        assert len(n) <= 64 and n[0].isalnum()


def test_benchmark_json_lists_what_the_harness_reports():
    import json

    path = os.path.join(os.path.dirname(os.path.dirname(HERE)),
                        "BENCHMARK.json")
    with open(path, encoding="utf-8") as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["per_layer"]] == harness.per_layer_names()
    passes = [_crawl_pass(10), _crawl_pass(10)]
    assert ([m["name"] for m in spec["end_to_end"]]
            == list(harness.end_to_end(passes, 1.0)))
    assert [w["name"] for w in spec["workloads"]] == list(harness.WORKLOADS)
