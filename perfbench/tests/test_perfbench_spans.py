"""Interval union behind ``driver_s``, span self time, and the status-store
counts a boundary span gets.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spans import Span, StatusReader, Tracer, clip, interval_union  # noqa: E402


def test_union_disjoint():
    assert interval_union([(0.0, 1.0), (2.0, 3.5)]) == pytest.approx(2.5)


def test_union_overlapping():
    assert interval_union([(0.0, 2.0), (1.0, 3.0), (2.5, 4.0)]) == pytest.approx(4.0)


def test_union_nested():
    assert interval_union([(0.0, 10.0), (2.0, 3.0), (4.0, 9.0)]) == pytest.approx(10.0)


def test_union_unsorted_mixed_and_empty():
    assert interval_union([(5.0, 6.0), (0.0, 1.0), (0.5, 0.7), (1.0, 2.0)]) == pytest.approx(3.0)
    assert interval_union([]) == 0.0
    assert interval_union([(1.0, 1.0), (3.0, 2.0)]) == 0.0


def test_clip_to_the_call_window():
    jobs = [(0.0, 2.0), (3.0, 4.0), (9.0, 12.0), (20.0, 21.0)]
    assert clip(jobs, 1.0, 10.0) == [(1.0, 2.0), (3.0, 4.0), (9.0, 10.0)]
    # driver time = wall - busy: 9 s wall, 3 s of it inside jobs
    assert 9.0 - interval_union(clip(jobs, 1.0, 10.0)) == pytest.approx(6.0)


def test_self_share_excludes_paused_and_child_time():
    t = Tracer()
    root = Span("pass", 0, None, 1, start=100.0, end=111.0, paused=1.0)
    t.spans = [
        root,
        Span("a", 1, 0, 1, start=100.0, end=104.0),
        Span("b", 2, 0, 1, start=105.0, end=110.5),
    ]
    # 10 s of pass time, 9.5 s covered by the two boundaries
    assert t.self_share(root) == pytest.approx(0.05)


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[1]").appName("perfbench-spans")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_counts_exclude_jobs_run_between_calls(spark):
    one_job = lambda: spark.range(10).collect()  # noqa: E731
    t = Tracer(StatusReader(spark))
    t.begin_pass(1)
    t.call("a", one_job)
    spark.range(5).count()  # untraced work between two boundaries
    t.call("b", one_job)
    root = t.end_pass()
    spark.range(5).collect()  # an output check between two passes
    t.begin_pass(2)
    t.call("c", one_job)
    root2 = t.end_pass()
    a, b = t.children(root)
    (c,) = t.children(root2)
    assert a.counts["jobs"] == b.counts["jobs"] == c.counts["jobs"] == 1
    assert a.counts["tasks"] == b.counts["tasks"] == c.counts["tasks"]
