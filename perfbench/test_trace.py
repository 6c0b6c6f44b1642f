"""Tests of the span recorder and the event-log reader on a tiny traced run.

    python3 -m pytest perfbench/test_trace.py -q
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.trace import Tracer, fold_event_log, layer_table, union_length  # noqa: E402


def test_union_length_merges_overlaps_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_length([(0, 2), (1, 3)], 1.5, 2.5) == 1
    assert union_length([], 0, 1) == 0


def test_event_log_attributes_jobs_to_the_span_that_launched_them(tmp_path):
    from perfbench.engine import start_session, stop_jvm

    log_dir = str(tmp_path / "eventlog")
    spark = start_session(str(tmp_path), 2, event_log_dir=log_dir)
    sc = spark.sparkContext
    tracer = Tracer(sc)

    def jobs(n):
        for _ in range(n):
            sc.parallelize(range(100), 2).map(lambda x: x * x).count()

    try:
        jobs(1)  # outside any span
        with tracer.span("outer"):
            jobs(1)
            with tracer.span("a"):
                jobs(2)
            jobs(1)
            with tracer.span("b"):
                jobs(3)
    finally:
        spark.stop()
        stop_jvm()

    (name,) = os.listdir(log_dir)
    groups = fold_event_log(os.path.join(log_dir, name))
    outer, a, b = tracer.spans
    assert len(groups[outer.id].jobs) == 2
    assert len(groups[a.id].jobs) == 2
    assert len(groups[b.id].jobs) == 3
    assert len(groups[""].jobs) == 1
    for g in (outer, a, b):
        assert groups[g.id].tasks == 2 * len(groups[g.id].jobs)

    # self times over the tree add up to the root's wall time
    total_self = sum(tracer.self_time(s) for s in tracer.spans)
    assert abs(total_self - outer.wall) <= 0.05 * outer.wall

    table = layer_table(tracer, groups)
    assert table["a"].calls == 1 and table["b"].cost.tasks == 6
    assert 0 <= table["outer"].driver_gap_s <= outer.wall
