"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time
import types
from concurrent.futures import ThreadPoolExecutor

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs, loader, tables  # noqa: E402
from perfbench.trace import (  # noqa: E402
    Span,
    Tracer,
    attribute,
    read_event_log,
    self_time,
    tail_percentile,
)


# -- percentile rule --------------------------------------------------------


def test_tail_needs_eleven_samples():
    assert tail_percentile([1.0] * 10) is None
    assert tail_percentile(list(range(11))) == (9, 0)


@pytest.mark.parametrize("n", [11, 12, 19, 20, 50, 90, 99, 100, 101, 1000])
def test_tail_is_highest_percentile_with_ten_beyond(n):
    samples = [float(i) for i in range(n)]  # distinct, so "beyond" is exact
    p, value = tail_percentile(samples[::-1])
    assert sum(1 for s in samples if s > value) >= 10
    # one percentile higher leaves fewer than ten samples beyond it
    rank = -(-(p + 1) * n // 100)
    assert n - rank < 10


def test_tail_of_ninety_calls_is_p88():
    p, value = tail_percentile([float(i) for i in range(90)])
    assert (p, value) == (88, 79.0)


# -- self time ---------------------------------------------------------------


def test_self_time_subtracts_union_of_overlapping_children():
    parent = Span("p", 0.0, 10.0)
    children = [
        Span("a", 1.0, 4.0, parent),
        Span("b", 3.0, 6.0, parent),   # overlaps a on another thread
        Span("c", 8.0, 12.0, parent),  # outlives the parent
    ]
    # covered: [1, 6] and [8, 10] -> 7 of 10
    assert self_time(parent, children) == pytest.approx(3.0)


def test_pool_thread_spans_take_the_enclosing_call_as_parent():
    mod = types.ModuleType("fake_layer")

    def write(i):
        time.sleep(0.05)
        return i

    def call():
        with ThreadPoolExecutor(max_workers=3) as ex:
            list(ex.map(mod.write, range(3)))
        bg = threading.Thread(target=mod.write, args=(9,))
        bg.start()
        bg.join(timeout=5)
        assert not bg.is_alive()

    mod.write, mod.call = write, call
    sys.modules["fake_layer"] = mod
    try:
        tracer = Tracer()
        tracer.patch("fake_layer", "write", "write")
        tracer.patch("fake_layer", "call", "call")
        mod.call()
        tracer.unpatch()
    finally:
        del sys.modules["fake_layer"]

    (outer,) = tracer.named("call")
    writes = tracer.named("write")
    assert len(writes) == 4
    assert all(w.parent is outer for w in writes)
    assert mod.write is write
    # three overlapping ~50 ms writers, then one more: ~100 ms covered
    covered = outer.duration - tracer.total_self("call")
    assert 0.09 < covered < outer.duration
    assert tracer.total("write") > covered  # the sum double-counts overlap


# -- event log attribution ---------------------------------------------------


def _task(launch, finish, run, cpu_ns, gc=0, shuffle=0, spill=0):
    return json.dumps({
        "Event": "SparkListenerTaskEnd",
        "Task Info": {"Launch Time": launch, "Finish Time": finish},
        "Task Metrics": {
            "Executor Run Time": run,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc,
            "Disk Bytes Spilled": spill,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        },
    })


CANNED = [
    json.dumps({"Event": "SparkListenerApplicationStart", "Timestamp": 900}),
    json.dumps({"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000}),
    _task(1010, 1110, 90, 80_000_000, gc=5, shuffle=2_000_000),
    _task(1020, 1070, 40, 30_000_000),
    json.dumps({"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1150}),
    _task(1160, 1190, 25, 20_000_000, spill=1_000_000),
    # a second operation
    json.dumps({"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 2000}),
    _task(2005, 2105, 95, 90_000_000),
    "",
]


def test_event_log_attributes_by_time_window():
    log = read_event_log(CANNED)
    first = attribute(log, 1000, 1200)
    assert first["spark.jobs"] == 2
    assert first["spark.tasks"] == 3
    assert first["spark.task_run_s"] == pytest.approx(0.155)
    assert first["spark.task_cpu_s"] == pytest.approx(0.13)
    assert first["spark.gc_s"] == pytest.approx(0.005)
    assert first["spark.shuffle_write_mb"] == pytest.approx(2.0)
    assert first["spark.spill_mb"] == pytest.approx(1.0)
    # tasks cover [1010, 1110] and [1160, 1190]: 130 of 200 ms
    assert first["spark.no_task_s"] == pytest.approx(0.07)
    assert first["spark.slot_busy_s"] == pytest.approx(0.18)
    second = attribute(log, 2000, 2200)
    assert (second["spark.jobs"], second["spark.tasks"]) == (1, 1)
    empty = attribute(log, 3000, 3100)
    assert empty["spark.tasks"] == 0 and empty["spark.no_task_s"] == pytest.approx(0.1)


# -- loader ------------------------------------------------------------------


def test_loader_rejects_excluded_names():
    assert "stream_flatten_child" in loader.EXCLUDED
    with pytest.raises(ValueError, match="excluded"):
        loader.load(["q06_groupby_agg", "stream_flatten_child"])


def test_loader_builds_lists_without_the_flatten_queries_module(tmp_path):
    data = tables.write_tables(str(tmp_path / "t"), 0.001, 0)
    code = (
        "import json, sys\n"
        "from perfbench import loader\n"
        "from perfbench.workloads import Registry\n"
        "qs = loader.load(Registry.QUERIES)\n"
        "try:\n"
        "    loader.load(['no_such_query'])\n"
        "    unknown = None\n"
        "except ValueError as exc:\n"
        "    unknown = str(exc)\n"
        "print(json.dumps({'layers': [q.layer for q in qs], 'unknown': unknown,\n"
        "  'flatten_queries': 'flatterer_spark.flatten_queries' in sys.modules}))\n"
    )
    env = dict(os.environ, SPARK_GRAFT_ORACLE_SF_DIR=data, PYTHONPATH=ROOT)
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, cwd=ROOT,
        capture_output=True, text=True, timeout=300, check=True,
    )
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["flatten_queries"] is False
    assert set(res["layers"]) == set(loader.MODULES)
    assert "no_such_query" in res["unknown"]


# -- reference flattener -----------------------------------------------------


def test_reference_flatten_layout(tmp_path):
    src = tmp_path / "doc.json"
    src.write_text(json.dumps([
        {"id": 1, "m": {"k": 5.0}, "a": [{"x": True, "b": [{"y": 0.5}]}]},
        {"id": 2, "m": {"k": 2.5}, "a": [], "z": "late"},
    ]))
    inputs.reference_flatten(str(src), str(tmp_path / "out"))
    read = lambda t: (tmp_path / "out" / f"{t}.csv").read_text()  # noqa: E731
    # a column first seen in a later row pads the earlier rows
    assert read("main") == "_link,id,m_k,z\n0,1,5,\n1,2,2.5,late\n"
    assert read("a") == "_link,_link_main,x\n0.a.0,0,true\n"
    assert read("a_b") == "_link,_link_a,_link_main,y\n0.a.0.b.0,0.a.0,0,0.5\n"


# -- BENCHMARK.json ----------------------------------------------------------


def test_benchmark_json_matches_the_code():
    from perfbench.run import END_TO_END, PER_LAYER
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    setup = next(m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup == max(m["bound"] for m in spec["end_to_end"])
