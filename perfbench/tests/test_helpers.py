"""Unit tests of the benchmark's pure helpers (no Spark session).

Run from the repository root:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os

import pytest

from perfbench import stats
from perfbench.tracing import BackendProxy, Tracer, parse_event_log, task_skew

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


# -- percentiles and the tail-sample rule -----------------------------------

def test_percentile_interpolates_between_closest_ranks():
    xs = list(range(1, 101))  # 1..100
    assert stats.percentile(xs, 50) == pytest.approx(50.5)
    assert stats.percentile(xs, 95) == pytest.approx(95.05)
    assert stats.percentile([3.0], 95) == 3.0


def test_tail_percentile_needs_ten_samples_beyond():
    assert stats.samples_beyond(200, 95) == 10
    assert stats.samples_beyond(199, 95) == 9
    assert stats.tail_percentile(list(range(200)), 95) == pytest.approx(189.05)
    with pytest.raises(ValueError, match="at least 200 samples"):
        stats.tail_percentile(list(range(199)), 95)
    # the median always has enough samples beyond it from 20 on
    assert stats.tail_percentile(list(range(20)), 50) == pytest.approx(9.5)
    with pytest.raises(ValueError):
        stats.tail_percentile(list(range(19)), 50)


# -- open-loop arithmetic ---------------------------------------------------

def test_open_loop_latency_and_queue_wait():
    # a tx whose line events arrive 3 s after its END at t=1.5 is due
    # at 4.5; the batch that takes it starts at 6.0 and its doc reaches
    # the sink at 27.0
    assert stats.queue_wait(4.5, 6.0) == pytest.approx(1.5)
    assert stats.open_loop_latency(4.5, 27.0) == pytest.approx(22.5)
    with pytest.raises(ValueError):
        stats.open_loop_latency(5.0, 4.0)
    with pytest.raises(ValueError):
        stats.queue_wait(5.0, 4.0)


# -- self time --------------------------------------------------------------

def test_covered_merges_overlaps_and_skips_empty():
    assert stats.covered([]) == 0.0
    assert stats.covered([(0, 2), (1, 3), (5, 6), (4, 4)]) == pytest.approx(4.0)


def test_self_time_subtracts_clipped_child_union():
    parent = (10.0, 20.0)
    children = [(11.0, 13.0), (12.0, 14.0), (19.0, 25.0), (0.0, 10.5)]
    # union inside the parent: [10,10.5] + [11,14] + [19,20] = 4.5
    assert stats.self_time(parent, children) == pytest.approx(5.5)
    assert stats.self_time(parent, []) == pytest.approx(10.0)


def test_tracer_nests_spans_and_shares_trace_ids():
    tr = Tracer(True)
    with tr.span("workload") as root:
        with tr.span("op", op=True) as op1:
            with tr.span("state_backend.publish_file") as child:
                pass
        with tr.span("op", op=True) as op2:
            pass
    assert child["parent"] == op1["id"] and op1["parent"] == root["id"]
    assert child["trace"] == op1["trace"] != op2["trace"]
    assert tr.children(root) == [op1, op2]
    assert 0.0 <= tr.child_coverage(root) <= 1.0


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("op", op=True) as sp:
        assert sp is None
    assert tr.spans == []


# -- the backend timing proxy -------------------------------------------------

class _Backend:
    layout_id = "fake"

    def __init__(self):
        self.seen = []

    def publish_file(self, path, data, *, durable=True):
        self.seen.append((path, data, durable))
        return len(data)

    def read_pointer(self, state_dir):
        raise FileNotFoundError(state_dir)


def test_backend_proxy_passes_arguments_results_and_exceptions():
    inner, tr = _Backend(), Tracer(True)
    proxy = BackendProxy(inner, tr)
    assert proxy.layout_id == "fake"
    assert proxy.publish_file("a/b", b"xyz", durable=False) == 3
    assert inner.seen == [("a/b", b"xyz", False)]
    with pytest.raises(FileNotFoundError, match="state"):
        proxy.read_pointer("state")
    # the failed call is still recorded, with its end time
    assert all(s["end"] >= s["start"] for s in tr.spans)
    assert [s["name"] for s in tr.spans] == [
        "state_backend.publish_file",
        "state_backend.read_pointer",
    ]


# -- the Spark event-log parser ------------------------------------------------

def test_parse_event_log_attributes_tasks_to_jobs_and_groups():
    with open(os.path.join(DATA, "eventlog_small.jsonl")) as f:
        jobs = parse_event_log(f)
    assert sorted(jobs) == [0, 1]
    j0, j1 = jobs[0], jobs[1]
    assert j0["group"] == "op-0" and j1["group"] is None
    assert j0["end"] > j0["start"]
    ran = [st for st in j0["stages"].values() if st["tasks"]]
    assert len(ran) == 2
    tasks = [t for st in j0["stages"].values() for t in st["tasks"]]
    assert sum(t["shuffle_write_bytes"] for t in tasks) > 0
    assert sum(t["shuffle_read_bytes"] for t in tasks) > 0
    assert all(t["wall_s"] >= 0 and t["run_s"] >= 0 for t in tasks)
    assert task_skew([j0]) >= 1.0
    assert task_skew([]) == 0.0
