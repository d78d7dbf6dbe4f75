"""Unit checks of the benchmark's own helpers (no Spark):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pyarrow as pa
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import inputs  # noqa: E402
import stats  # noqa: E402
from digest import frame_digest  # noqa: E402
from spans import Tracer  # noqa: E402


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    value, q, n = stats.tail(xs)
    assert (q, n) == (90.0, 100)
    assert sum(x > value for x in xs) == 10
    assert value == pytest.approx(90.1)


def test_tail_is_never_a_low_percentile():
    assert stats.tail([]) == (0.0, 0.0, 0)
    assert stats.tail([1.0] * 10) == (0.0, 0.0, 10)
    assert stats.tail([float(i) for i in range(12)]) == (0.0, 0.0, 12)  # would be p17
    assert stats.tail([float(i) for i in range(99)]) == (0.0, 0.0, 99)  # would be p89.9


def test_union_and_overlap():
    assert stats.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert stats.union_length([]) == 0
    assert stats.overlap_ratio([(0, 2), (0, 2)]) == 2.0
    assert stats.overlap_ratio([(0, 1), (2, 3)]) == 1.0


def _spans():
    return [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},
        {"id": 3, "parent": 2, "start": 4.0, "end": 5.0},
    ]


def test_self_time_subtracts_the_union_of_direct_children():
    self_t = stats.self_times(_spans())
    assert self_t[0] == pytest.approx(10 - 5)  # children cover 1..6
    assert self_t[1] == pytest.approx(3)
    assert self_t[2] == pytest.approx(3 - 1)
    assert self_t[3] == pytest.approx(1)


def test_attribution_goes_to_the_innermost_open_span_by_time():
    events = [{"t": 0.5}, {"t": 2.0}, {"t": 3.5}, {"t": 4.5}, {"t": 7.0}, {"t": 11.0}]
    got = stats.attribute(_spans(), events)
    assert [e["t"] for e in got[0]] == [0.5, 7.0]
    assert [e["t"] for e in got[1]] == [2.0]
    assert [e["t"] for e in got[2]] == [3.5]  # overlaps span 1; 2 started later
    assert [e["t"] for e in got[3]] == [4.5]
    assert sum(len(v) for v in got.values()) == 5  # 11.0 is outside every span


def test_parse_metric_formats():
    assert stats.parse_metric("332 ms") == pytest.approx(0.332)
    assert stats.parse_metric("1018.0 KiB") == pytest.approx(1018 * 1024)
    assert stats.parse_metric("1,234") == 1234
    assert stats.parse_metric("2.5 m") == pytest.approx(150)
    multi = "total (min, med, max (stageId: taskId))\n4.6 s (855 ms, 1.3 s, 1.3 s (stage 7.0: task 6))"
    assert stats.parse_metric(multi) == pytest.approx(4.6)


def test_tracer_records_nesting_and_attaches_window_deltas():
    counter = {"read_ops": 0}

    def fs():
        counter["read_ops"] += 1
        return dict(counter)

    tr = Tracer("run", enabled=True, fs_counters=fs)
    with tr.span("pass"):
        with tr.span("plans.build") as b:
            pass
    assert b.dur >= 0
    assert [(s["name"], s["parent"]) for s in tr.spans] == [("pass", None), ("plans.build", 0)]
    t = tr.spans[1]["start"]
    stage = {"t": t, "start": t, "tasks": 4, "run_s": 1.0, "cpu_s": 0.5,
             "shuffle_write_bytes": 0, "shuffle_read_bytes": 0}
    done = tr.finish([stage], [{"t": t, "start": t}], [])
    assert done[1]["stages"] == 1 and done[1]["jobs"] == 1 and done[1]["tasks"] == 4
    assert done[0]["stages"] == 0
    assert done[1]["fs"] == {"read_ops": 1}  # snapshots taken at both ends
    assert done[0]["fs"] == {"read_ops": 3}  # inclusive of the child's two snapshots


def test_untraced_spans_only_time():
    tr = Tracer("run", enabled=False)
    with tr.span("pass") as sp:
        pass
    assert tr.spans == [] and sp.dur >= 0


def test_frame_digest_is_order_and_dtype_insensitive():
    a = pd.DataFrame({"k": [1, 2, 3], "v": ["x", "y", "z"], "f": [0.5, -0.0, 1.0]})
    b = pd.DataFrame({"v": ["z", "x", "y"], "f": [1.0, 0.5, -0.0],
                      "k": pd.Series([3, 1, 2], dtype="int32")})
    assert frame_digest(a) == frame_digest(b)
    assert frame_digest(a) != frame_digest(a.iloc[:2])
    assert frame_digest(pd.concat([a, a.iloc[:1]])) != frame_digest(a)  # a multiset
    assert frame_digest(a.assign(f=[0.5, 0.0, 1.0])) != frame_digest(a)  # signed zero


def test_chain_schedule_is_seeded_and_keeps_keys_live():
    orders = pa.table({"o_orderkey": pa.array(range(1, 2001), pa.int64())})
    one = inputs.chain_ops(orders, seed=7, rounds=3)
    two = inputs.chain_ops(orders, seed=7, rounds=3)
    other = inputs.chain_ops(orders, seed=8, rounds=3)
    assert all((a["update"] == b["update"]).all() for a, b in zip(one, two))
    assert any((a["update"] != b["update"]).any() for a, b in zip(one, other))
    live = set(range(1, 2001))
    for op in one:
        assert set(op["update"]) <= live and set(op["delete"]) <= live
        assert not set(op["update"]) & set(op["delete"])
        live = (live | set(op["insert"])) - set(op["delete"])
