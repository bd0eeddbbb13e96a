"""Self-tests of the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402


# --- the percentile rule ---------------------------------------------------------


def test_tail_leaves_exactly_ten_samples_beyond():
    values = [float(v) for v in range(40)]
    p, v = stats.tail(values)
    assert p == 75.0
    assert sum(x > v for x in values) == 10


def test_tail_at_twenty_samples_is_the_median_rank():
    values = [float(v) for v in range(20, 0, -1)]
    p, v = stats.tail(values)
    assert p == 50.0
    assert v == 10.0
    assert sum(x > v for x in values) == 10


def test_tail_percentile_rises_with_sample_count():
    assert stats.tail(list(range(100)))[0] == 90.0
    assert stats.tail(list(range(1000)))[0] == 99.0


def test_tail_refuses_too_few_samples():
    with pytest.raises(ValueError):
        stats.tail([1.0] * 19)


# --- span self time --------------------------------------------------------------


def _span(sid, parent, start, end):
    return {"id": sid, "name": f"s{sid}", "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_union_of_children():
    parent = _span(0, None, 0.0, 10.0)
    spans = [
        parent,
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 2.0, 5.0),  # overlaps span 1: covered once
        _span(3, 0, 8.0, 12.0),  # runs past the parent: clipped at 10
        _span(4, 1, 1.5, 2.5),  # grandchild: not subtracted from the parent
    ]
    assert tracing.self_time(parent, spans) == pytest.approx(10.0 - 4.0 - 2.0)
    assert tracing.self_time(spans[1], spans) == pytest.approx(2.0 - 1.0)


def test_self_time_without_children_is_duration():
    s = _span(0, None, 1.0, 4.5)
    assert tracing.self_time(s, [s]) == pytest.approx(3.5)


def test_tracer_records_parents_and_totals():
    t = tracing.Tracer("run-1", enabled=True)
    with t.span("outer"):
        with t.span("inner"):
            pass
        with t.span("inner"):
            pass
    outer, first, second = t.spans
    assert outer["parent"] is None
    assert first["parent"] == second["parent"] == outer["id"]
    assert {s["run_id"] for s in t.spans} == {"run-1"}
    assert [s["name"] for s in t.spans].count("inner") == 2
    assert t.self_time("outer") == pytest.approx(t.total("outer") - t.total("inner"))


def test_disabled_tracer_records_nothing():
    t = tracing.Tracer("run-1", enabled=False)
    with t.span("outer"):
        t.count("n")
    assert t.spans == [] and dict(t.counts) == {}


def test_patches_wrap_every_binding_of_a_function(monkeypatch):
    def f(x):
        return x + 1

    pkg = types.ModuleType("pkgx")
    sub = types.ModuleType("pkgx.sub")
    other = types.ModuleType("pkgxy")  # same prefix, another package
    pkg.f = sub.g = other.f = f
    for m in (pkg, sub, other):
        monkeypatch.setitem(sys.modules, m.__name__, m)
    p = tracing.Patches()
    assert p.wrap_bindings("pkgx", f, lambda fn: lambda x: fn(x) * 10) == 2
    assert pkg.f(1) == sub.g(1) == 20 and other.f is f
    assert tracing.unwrapped_bindings("pkgx", f) == []
    p.undo()
    assert pkg.f is sub.g is f
    assert tracing.unwrapped_bindings("pkgx", f) == ["pkgx.f", "pkgx.sub.g"]


def test_program_wrappers_reach_every_module_binding():
    """Every module of the program that holds a traced function under its own
    name (``from .sources.loader import load_table``) calls the wrapper."""
    pytest.importorskip("pyspark")
    sys.path.insert(0, os.path.dirname(HERE))
    import workloads
    from importlib import import_module

    pkg = import_module(workloads.PKG)
    name = pkg.__name__
    for mod in tracing.TRACED_MODULES:
        import_module(f"{name}.{mod}")
    originals = [
        import_module(name + ".sources.loader").load_table,
        import_module(name + ".plans.expectations").enforce_fail,
        import_module(name + ".plans.expectations").observe_expectations,
        import_module(name + ".sources.sinks").write_table,
    ]
    tpch_load = import_module(name + ".tpch").load_table
    assert tpch_load is originals[0]
    p = tracing.install_wrappers(tracing.Tracer("t", enabled=False), pkg)
    try:
        for fn in originals:
            assert tracing.unwrapped_bindings(name, fn) == [], fn.__name__
        assert import_module(name + ".tpch").load_table is not tpch_load
    finally:
        p.undo()
    assert import_module(name + ".tpch").load_table is tpch_load


# --- event log totals --------------------------------------------------------------


def test_stage_metrics_windows_tasks_and_groups():
    events = [
        {
            "Event": "SparkListenerJobStart",
            "Job ID": 0,
            "Submission Time": 1000,
            "Stage IDs": [0, 1],
            "Properties": {"spark.jobGroup.id": "traced:q"},
        },
        {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": 0,
            "Stage Attempt ID": 0,
            "Task Info": {"Launch Time": 1500},
            "Task Metrics": {
                "Executor Run Time": 2000,
                "JVM GC Time": 100,
                "Shuffle Read Metrics": {"Remote Bytes Read": 5, "Local Bytes Read": 7},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 11},
                "Memory Bytes Spilled": 3,
                "Disk Bytes Spilled": 4,
            },
        },
        {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": 1,
            "Task Info": {"Launch Time": 9000},  # outside the window
            "Task Metrics": {"Executor Run Time": 5000},
        },
    ]
    out = tracing.stage_metrics(events, 0, 2000)
    tot = out["totals"]
    assert tot["tasks"] == 1 and tot["jobs"] == 1 and tot["stages"] == 1
    assert tot["task_s"] == 2.0 and tot["gc_s"] == 0.1
    assert tot["shuffle_read_bytes"] == 12 and tot["shuffle_write_bytes"] == 11
    assert tot["spill_bytes"] == 7
    assert out["task_s_by_group"] == {"traced:q": 2.0}


# --- seeded generation ---------------------------------------------------------------


def _tree_bytes(path):
    return {n: open(os.path.join(path, n), "rb").read() for n in sorted(os.listdir(path))}


def test_same_seed_gives_byte_identical_tables(tmp_path):
    for run in ("a", "b"):
        datagen.write_tables(datagen.make_tables(5, 0.001), str(tmp_path / run))
    datagen.write_tables(datagen.make_tables(6, 0.001), str(tmp_path / "c"))
    a, b, c = (_tree_bytes(str(tmp_path / r)) for r in "abc")
    assert len(a) == 10
    assert a == b
    assert a["lineitem.parquet"] != c["lineitem.parquet"]


def test_same_seed_gives_byte_identical_landing_files():
    first = datagen.order_batches(5, 3, 100)
    assert first == datagen.order_batches(5, 3, 100)
    assert first != datagen.order_batches(6, 3, 100)
    header = first[0].split(b"\n", 1)[0].decode()
    assert header.split(",") == datagen.ORDER_CSV_COLUMNS


def test_landing_keys_are_unique_across_batches():
    keys = []
    for batch in datagen.order_batches(5, 4, 50):
        rows = batch.decode().strip().split("\n")[1:]
        keys.extend(int(r.split(",", 1)[0]) for r in rows)
    assert len(keys) == len(set(keys)) == 200


def test_same_seed_gives_same_query_order():
    names = [f"q{i}" for i in range(12)]
    order = datagen.query_order(5, names, 3)
    assert order == datagen.query_order(5, names, 3)
    assert order != datagen.query_order(6, names, 3)
    assert all(sorted(p) == sorted(names) for p in order)
