"""Smoke tests of the benchmark's own arithmetic and inputs.

    python3 -m pytest perfbench/test_perfbench.py

No Spark session is started: the layer split runs on hand-made spans
and event-log records, and the inputs are generated at sf0.001.
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import datagen, trace  # noqa: E402
from perfbench.stats import dir_bytes, self_times, spread, tail, union_s  # noqa: E402


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    values = [float(v) for v in range(20, 0, -1)]
    assert tail(values) == (10.0, 50.0)
    assert tail(values + [100.0]) == (11.0, 100 * (1 - 10 / 21))
    with pytest.raises(ValueError):
        tail(values[:10])


def test_union_counts_overlapping_intervals_once():
    assert union_s([(0, 2), (1, 3), (5, 6), (5.2, 5.7), (2.5, 2.9)]) == 4
    assert union_s([]) == 0


def test_self_time_subtracts_the_union_of_direct_children():
    spans = [
        {"id": 0, "parent": None, "t0": 0.0, "t1": 10.0},
        {"id": 1, "parent": 0, "t0": 1.0, "t1": 3.0},
        {"id": 2, "parent": 0, "t0": 2.0, "t1": 5.0},
        {"id": 3, "parent": 2, "t0": 2.5, "t1": 4.5},
        {"id": 4, "parent": 0, "t0": 9.0, "t1": 12.0},  # clipped to its parent
    ]
    got = self_times(spans)
    assert got[0] == pytest.approx(10 - 4 - 1)
    assert got[2] == pytest.approx(1.0)
    assert got[3] == pytest.approx(2.0)


def test_bytes_on_disk_count_regular_files_only(tmp_path):
    (tmp_path / "a").mkdir()
    (tmp_path / "a" / "x.bin").write_bytes(b"1234")
    (tmp_path / "a" / "x.idx").write_bytes(b"12")
    (tmp_path / "b.bin").write_bytes(b"123456")
    os.symlink(tmp_path / "b.bin", tmp_path / "a" / "link.bin")
    assert dir_bytes(str(tmp_path)) == 12
    assert dir_bytes(str(tmp_path / "a")) == 6
    assert dir_bytes(str(tmp_path), suffix=".bin") == 10


def test_spread_is_the_quartile_distance_over_the_median():
    assert spread([1.0, 2.0, 3.0, 4.0, 5.0]) == pytest.approx((4.5 - 1.5) / 3)


def test_entry_split_and_layer_metrics():
    off = 1000.0  # event-log clock minus span clock
    spans = [
        {"id": 0, "name": "entry", "parent": None, "entry": 0, "label": "q01", "pass": 1,
         "t0": 0.0, "t1": 4.0, "plan_ms": {"analysis": 100, "optimization": 200, "planning": 200}},
        {"id": 1, "name": "queries.build", "parent": 0, "entry": 0, "t0": 0.0, "t1": 1.0},
        {"id": 2, "name": "operators.topn.topn", "parent": 1, "entry": 0, "t0": 0.2, "t1": 0.6},
        {"id": 3, "name": "collect", "parent": 0, "entry": 0, "t0": 1.0, "t1": 4.0},
        {"id": 4, "name": "entry", "parent": None, "entry": 4, "label": "q01", "pass": 0,
         "t0": 5.0, "t1": 6.0},
    ]
    jobs = {
        0: {"group": "2", "t0": off + 0.3, "t1": off + 0.5, "stages": [0]},
        1: {"group": "3", "t0": off + 1.5, "t1": off + 2.5, "stages": [1, 2]},
        2: {"group": "3", "t0": off + 2.0, "t1": off + 3.0, "stages": [3]},
        3: {"group": "4", "t0": off + 5.1, "t1": off + 5.9, "stages": [4]},  # not measured
    }
    m0 = {"run_ms": 800, "cpu_ns": 5e8, "gc_ms": 10, "deser_ms": 20, "fetch_wait_ms": 0,
          "shuffle_read_b": 2e6, "shuffle_write_b": 1e6, "input_b": 3e6,
          "time to run Python workers": 500}
    stages = {
        0: {"tasks": 1, "failed": 0, "t0": off + 0.3, "t1": off + 0.5, "metrics": m0},
        1: {"tasks": 4, "failed": 1, "t0": off + 1.5, "t1": off + 2.0, "metrics": {"run_ms": 1200}},
        3: {"tasks": 1, "failed": 0, "t0": off + 2.0, "t1": off + 3.0, "metrics": {}},
        4: {"tasks": 9, "failed": 0, "t0": off + 5.1, "t1": off + 5.9, "metrics": {}},
    }
    (e,) = trace.split_entries(spans, jobs, stages, off, {1})
    assert e["job_s"] == pytest.approx(0.2 + 1.5)
    assert e["unattributed_s"] == pytest.approx(4.0 - 0.5 - 1.7)
    assert e["self_s"]["operators.topn"] == pytest.approx(0.4)
    assert e["self_s"]["queries.build"] == pytest.approx(0.6)

    m = trace.layer_metrics(spans, jobs, stages, off, 4, {1})
    assert m["exec.jobs"] == 3 and m["exec.stages"] == 3 and m["exec.tasks"] == 6
    assert m["exec.single_task_stages"] == 2 and m["exec.failed_tasks"] == 1
    assert m["exec.job_s"] == pytest.approx(1.7)
    assert m["exec.core_util"] == pytest.approx(2.0 / (1.7 * 4))
    assert m["exec.max_stage_s"] == pytest.approx(1.0)
    assert m["queries.build_s"] == pytest.approx(1.0) and m["queries.build_jobs"] == 1
    assert m["operators.topn_s"] == pytest.approx(0.4) and m["operators.topn_jobs"] == 1
    assert m["plan.optimization_ms"] == 200
    assert m["python.run_s"] == pytest.approx(0.5)
    assert m["exec.input_mb"] == pytest.approx(3.0)

    (row,) = trace.entry_table(trace.split_entries(spans, jobs, stages, off, {1}))
    assert row["dominant"] == "driver" and row["top_span"][0] == "collect"


def test_inputs_repeat_for_a_seed(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    datagen.make_base(a, 0.001, 7)
    datagen.make_base(b, 0.001, 7)
    for t in os.listdir(a):
        with open(os.path.join(a, t), "rb") as x, open(os.path.join(b, t), "rb") as y:
            assert x.read() == y.read(), t
    c1, c2, c3 = (str(tmp_path / n) for n in ("c1", "c2", "c3"))
    datagen.make_copy(a, c1, 3, seed=1)
    datagen.make_copy(a, c2, 3, seed=1)
    datagen.make_copy(a, c3, 3, seed=2)
    con = datagen.duck(c1)
    n = datagen.duck(a).execute("SELECT count(*) FROM orders").fetchone()[0]
    assert con.execute("SELECT count(*), count(DISTINCT o_orderkey) FROM orders").fetchone() == (3 * n, 3 * n)
    order = "SELECT o_orderkey FROM orders"
    assert datagen.duck(c2).execute(order).fetchall() == con.execute(order).fetchall()
    assert datagen.duck(c3).execute(order).fetchall() != con.execute(order).fetchall()
