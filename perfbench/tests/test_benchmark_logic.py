"""Tests for the benchmark's own logic: the tail-percentile rule, span
self time, the event-log rollup and the NumPy references the output
checks rely on. Run: python3 -m pytest perfbench/tests -q"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest

from gelos_spark.functions.geometry import haversine_np
from gelos_spark.sources import synth
from perfbench import reference
from perfbench.eventlog import Rollup
from perfbench.spans import Span, Tracer, self_times, union_length
from perfbench.stats import tail

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_local2.json")


# ---- tail rule


def test_tail_needs_ten_samples_beyond():
    assert tail([1.0] * 10) is None
    pct, value = tail(list(range(11)))
    assert (pct, value) == (pytest.approx(100 / 11), 0)


@pytest.mark.parametrize("n", [11, 20, 37, 100])
def test_tail_is_highest_rank_with_ten_beyond(n):
    values = list(np.random.default_rng(n).permutation(n).astype(float))
    pct, value = tail(values)
    assert sum(v > value for v in values) == 10
    assert pct == pytest.approx(100 * (n - 10) / n)


# ---- spans


def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 1), (2, 3)]) == 2
    assert union_length([(0, 5), (1, 2), (4, 7)]) == 7


def test_self_time_subtracts_children_clipped_to_parent():
    spans = [
        Span(0, "op", None, 0.0, 10.0),
        Span(1, "a", 0, 1.0, 3.0),
        Span(2, "b", 0, 2.0, 5.0),  # overlaps a
        Span(3, "c", 0, 8.0, 12.0),  # runs past the parent's end
        Span(4, "d", 1, 1.5, 2.5),
    ]
    own = self_times(spans)
    assert own[0] == pytest.approx(10 - (4 + 2))
    assert own[1] == pytest.approx(2 - 1)
    assert own[4] == pytest.approx(1)


def test_self_times_of_a_nested_tree_sum_to_root_duration():
    spans = [Span(0, "root", None, 0.0, 9.0), Span(1, "x", 0, 1.0, 4.0), Span(2, "y", 1, 2.0, 3.0),
             Span(3, "z", 0, 5.0, 8.0)]
    assert sum(self_times(spans).values()) == pytest.approx(9.0)


class _FakeContext:
    def __init__(self):
        self.props = {}

    def setJobGroup(self, gid, desc):
        self.props["spark.jobGroup.id"] = gid

    def setLocalProperty(self, key, value):
        self.props[key] = value


def test_tracer_tags_jobs_with_innermost_span_and_restores_parent():
    sc = _FakeContext()
    tr = Tracer(enabled=True)
    tr.bind(sc)
    with tr.span("outer") as outer:
        with tr.span("inner", stage="x") as inner:
            assert sc.props["spark.jobGroup.id"] == inner.group
        assert sc.props["spark.jobGroup.id"] == outer.group
    assert sc.props["spark.jobGroup.id"] is None
    assert [(s.name, s.parent) for s in tr.spans] == [("outer", None), ("inner", 0)]
    assert tr.spans[1].attrs == {"stage": "x"}


def test_disabled_tracer_records_nothing():
    sc = _FakeContext()
    tr = Tracer(enabled=False)
    tr.bind(sc)
    with tr.span("op") as s:
        assert s is None
    assert tr.spans == [] and sc.props == {}


# ---- event-log rollup, against a log captured from a tiny local[2] run


@pytest.fixture(scope="module")
def rollup():
    return Rollup.from_log(FIXTURE)


def test_rollup_attributes_task_metrics_to_job_groups(rollup):
    a, b = rollup.groups["pbA"], rollup.groups["pbB"]
    assert a.jobs >= 1 and b.jobs >= 1
    assert a.failed_jobs == b.failed_jobs == 0
    assert a.tasks >= 2 and b.tasks >= 2
    assert a.shuffle_write_records == 0  # broadcast join, no exchange
    assert b.shuffle_write_records == 14  # 7 partial aggregates per map partition
    assert b.shuffle_write_bytes > 0
    assert a.executor_cpu_ns > 0 and b.result_bytes > 0
    assert len(a.job_intervals) == a.jobs
    assert all(end >= start for start, end in a.job_intervals)


def test_rollup_sql_metrics_by_node(rollup):
    a, b = rollup.groups["pbA"], rollup.groups["pbB"]
    rows = "number of output rows"
    assert rollup.sql_sum(a, rows, node="MapInArrow") == 1000
    assert rollup.sql_sum(a, rows, node="Join") == 50
    assert rollup.sql_sum(a, rows, node="Join", detail=r"\[id#") == 50
    assert rollup.sql_sum(a, rows, node="Join", detail=r"no such key") == 0
    assert rollup.sql_sum(a, "data sent to Python workers") > 0
    assert rollup.sql_sum(a, "data returned from Python workers") > 0
    assert rollup.sql_seconds(a, "time to run Python workers") > 0
    assert rollup.sql_sum(b, "data sent to Python workers") == 0


def test_rollup_combines_groups(rollup):
    both = rollup.combined(["pbA", "pbB", "absent"])
    assert both.tasks == rollup.groups["pbA"].tasks + rollup.groups["pbB"].tasks
    assert both.jobs == rollup.groups["pbA"].jobs + rollup.groups["pbB"].jobs


# ---- references the output checks use


def test_xxhash64_matches_spark():
    # values from Spark 4.1: SELECT xxhash64(CAST(v AS BIGINT))
    assert reference.xxhash64_long([0, 1, -5]).tolist() == [
        -5252525462095825812, -7001672635703045582, -5259934538394028452]


def test_hamming_pairs_and_canonical_survivors():
    ids = np.asarray(["a", "b", "c", "d"], dtype=object)
    hashes = np.asarray([0b0000, 0b0011, 0b1111, -1], dtype=np.int64)
    assert reference.hamming_pairs(ids, hashes, 2) == {("a", "b"), ("b", "c")}
    assert reference.canonical_survivors(ids.tolist(), [("a", "b"), ("b", "c")]) == 2


def test_knn_check_accepts_ties_and_rejects_wrong_rows():
    n, seed = 500, 5
    lon, lat = synth.tracker_coords(np.arange(n, dtype=np.uint64), seed)
    q = pd.DataFrame({"query_id": [0], "lon": [lon[7]], "lat": [lat[7]], "k": [3]})
    d = haversine_np(q.lon[0], q.lat[0], lon, lat)
    best = np.lexsort((np.arange(n), d))[:4]
    rows = [{"query_id": 0, "rank": r + 1, "image_id": f"img{i:010d}", "dist_km": d[i]} for r, i in enumerate(best[:3])]
    assert reference.knn_mismatches(rows, q, n, seed) == []
    wrong = rows[:2] + [{"query_id": 0, "rank": 3, "image_id": f"img{best[3]:010d}", "dist_km": d[best[3]]}]
    if d[best[3]] != d[best[2]]:
        assert reference.knn_mismatches(wrong, q, n, seed)
    assert reference.knn_mismatches(rows[:2], q, n, seed)
