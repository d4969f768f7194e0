"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench -q
"""

import json
import math
import os

import numpy as np
import pytest

from perfbench import eventlog, host, inputs, report, stats
from perfbench.tracing import Span, layer_self_times, self_times
from perfbench.workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))


# --- tail percentile -------------------------------------------------------

@pytest.mark.parametrize("n, pct", [
    (10, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
    (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9),
])
def test_tail_percentile_leaves_ten_samples_beyond(n, pct):
    assert stats.tail_percentile(n) == pct
    if pct is not None:
        assert n - stats.rank(pct, n) >= stats.MIN_BEYOND


def test_tail_is_highest_rung_with_ten_beyond():
    for n in range(20, 3000, 7):
        pct = stats.tail_percentile(n)
        higher = [p for p in stats.TAIL_LADDER if p > pct]
        assert all(n - stats.rank(p, n) < stats.MIN_BEYOND for p in higher)


def test_summary_counts_failures_as_infinite_tail():
    s = stats.summarize([1.0] * 30 + [math.inf] * 11)
    assert (s["n"], s["tail_pct"], s["median"], s["tail"]) == (41, 75.0, 1.0, math.inf)
    s = stats.summarize([1.0] * 35 + [math.inf] * 6)
    assert (s["tail_pct"], s["tail"]) == (75.0, 1.0)
    assert stats.summarize([2.0] * 5)["tail"] is None


def test_rank_is_exact():
    assert stats.rank(99.9, 10_000) == 9990
    assert stats.rank(90.0, 101) == 91
    assert stats.rank(50.0, 1) == 1


def test_nearest_rank():
    vals = list(range(1, 101))
    assert stats.nearest_rank(vals, 90) == 90
    assert stats.nearest_rank(vals, 50) == 50
    assert stats.nearest_rank([3.0], 99.9) == 3.0


# --- host sizing ---------------------------------------------------------------

def test_driver_memory_is_a_clamped_quarter_of_total_memory():
    gib = 1024 * 1024  # KiB
    assert host.driver_memory_mib({"MemTotal": 16 * gib, "MemAvailable": 15 * gib}) == 4096
    # what other tenants leave available does not change the heap
    assert host.driver_memory_mib({"MemTotal": 16 * gib, "MemAvailable": 3 * gib}) == 4096
    assert host.driver_memory_mib({"MemTotal": 64 * gib, "MemAvailable": 60 * gib}) == 8192
    assert host.driver_memory_mib({"MemTotal": 2 * gib, "MemAvailable": 1 * gib}) == 1024


# --- span self time ----------------------------------------------------------

def _span(sid, parent, start, end, name="x.y", it=0):
    return Span(sid=sid, name=name, parent=parent, iteration=it, start=start, end=end)


def test_self_time_nested_children():
    spans = [_span(1, None, 0, 10, "driver.iteration"), _span(2, 1, 1, 4, "validator.v"),
             _span(3, 1, 5, 9, "sink.a"), _span(4, 3, 6, 8, "sink.b")]
    st = self_times(spans)
    assert st == pytest.approx({1: 3.0, 2: 3.0, 3: 2.0, 4: 2.0})
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_time_overlapping_children_share_the_overlap():
    # children on two threads overlap on [3, 5]: each gets half of it
    spans = [_span(1, None, 0, 10), _span(2, 1, 1, 5), _span(3, 1, 3, 7)]
    st = self_times(spans)
    assert st == pytest.approx({1: 4.0, 2: 3.0, 3: 3.0})
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_time_of_overlapping_children_with_grandchildren():
    spans = [_span(1, None, 0, 10, "pipeline.m"), _span(2, 1, 0, 8, "sink.r"),
             _span(3, 1, 2, 10, "sink.t"), _span(4, 3, 4, 6, "tiles.t")]
    st = self_times(spans)
    # [0,2] span 2 alone; [2,4] 2 and 3 share; [4,6] 2 and 4 share;
    # [6,8] 2 and 3 share; [8,10] 3 alone
    assert st == pytest.approx({1: 0.0, 2: 5.0, 3: 4.0, 4: 1.0})
    layers = layer_self_times(spans)
    assert layers == pytest.approx({"pipeline": 0.0, "sink": 9.0, "tiles": 1.0})


def test_nested_call_spans_count_once_and_split_by_layer():
    # a cdc_1 round: incremental.round wraps the upsert and validator calls
    op = _span(1, None, 0, 10, "driver.op")
    op.attrs["op"] = "cdc_1"
    spans = [op, _span(2, 1, 0, 4, "incremental.round"), _span(3, 2, 0, 1, "upsert.ingest_delta"),
             _span(4, 2, 1, 4, "validator.validate_unchecked"), _span(5, 1, 4, 10, "sink.state")]
    for sp, calls in zip(spans, (0, 1, 10, 100, 5)):
        sp.py4j_calls = calls
    groups = {"pb-3": [7], "pb-5": [8, 9]}
    val = report._pass_values(spans, groups, [])
    assert val["call_s"] == val["call_max_s"] == 4
    assert val["call.py4j_calls"] == val["incremental.py4j_calls"] == 111
    assert val["call.jobs"] == 1 and val["cdc.jobs_per_round"] == 3
    assert val["validator.call_share"] == pytest.approx(0.3)
    assert val["upsert.call_share"] == pytest.approx(0.1)
    assert (val["validator.py4j_calls"], val["validator.jobs_in_call"]) == (100, 0)
    assert (val["upsert.py4j_calls"], val["upsert.jobs_in_call"]) == (10, 1)


# --- event log ---------------------------------------------------------------

def test_eventlog_parser_on_recorded_log():
    """The recorded log holds two jobs in group pb-1 (a mapInPandas
    count), two in pb-2 (a groupBy count) and two outside any group."""
    with open(os.path.join(HERE, "testdata", "eventlog_small.jsonl")) as f:
        log = eventlog.parse_lines(f)
    groups = log.jobs_by_group()
    assert {g: len(j) for g, j in groups.items()} == {"pb-1": 2, "pb-2": 2, None: 2}
    py = log.totals(groups["pb-1"])
    assert py["exec.jobs"] == 2 and py["exec.stages"] == 2 and py["exec.tasks"] == 3
    assert py["python.rows_from_worker"] == 100
    assert py["python.bytes_to_worker"] > 0 and py["python.bytes_from_worker"] > 0
    assert 0 < py["python.exec_s"] <= py["exec.executor_run_s"]
    assert py["exec.shuffle_write_bytes"] == py["exec.shuffle_read_bytes"] > 0
    agg = log.totals(groups["pb-2"])
    assert agg["exec.tasks"] == 3 and "python.rows_from_worker" not in agg
    assert log.totals([])["exec.jobs"] == 0


# --- seed determinism ----------------------------------------------------------

def _generated_hash(workload, seed, tmp_path):
    out = tmp_path / f"{workload.name}-{seed}-{len(os.listdir(tmp_path))}"
    workload.generate(seed, str(out), 2)
    return {name: inputs.read_hash(str(out / name)) for name in sorted(os.listdir(out))}


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_same_seed_same_inputs_other_seed_other_inputs(name, tmp_path):
    wl = WORKLOADS[name]
    a = _generated_hash(wl, 5, tmp_path)
    b = _generated_hash(wl, 5, tmp_path)
    c = _generated_hash(wl, 6, tmp_path)
    assert a == b
    # the wiki entities are the fixed dim every seed shares
    seeded = [k for k in a if k != "few_entities"]
    assert seeded and all(a[k] != c[k] for k in seeded)


def test_delta_is_seeded_and_half_updates():
    base = inputs.first_generation(inputs.elements(np.arange(1000, 2200, dtype=np.int64)))
    fresh = np.arange(10**7, 10**7 + 2048, dtype=np.int64)
    d1 = inputs.delta(3, 4, 1000, base, fresh)
    d2 = inputs.delta(3, 4, 1000, base, fresh)
    d3 = inputs.delta(4, 4, 1000, base, fresh)
    assert inputs.table_hash(d1) == inputs.table_hash(d2) != inputs.table_hash(d3)
    upd = d1["id"].isin(base["id"])
    assert upd.sum() == 500 and len(d1) == 1000
    assert (d1["download_timestamp"] > base["download_timestamp"].max()).all()
    one = inputs.delta(3, 5, 1, base, fresh)
    assert len(one) == 1


def test_id_streams_do_not_overlap():
    a = inputs.id_range(9, 1, 100_000)
    b = inputs.id_range(9, 2, 100_000)
    assert a.max() < b.min() and b.max() < inputs.ID_SPACE


# --- BENCHMARK.json -------------------------------------------------------------

def test_benchmark_json_names_what_the_run_reports():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == report.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == report.PER_LAYER_UNITS
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25
