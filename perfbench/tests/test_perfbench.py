"""Tests of the benchmark's own code: output schema, generator determinism,
span self time, and that every metric of BENCHMARK.json is produced for
every workload. No Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
sys.path.insert(0, BENCH_DIR)

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from spans import Span, self_times  # noqa: E402

with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _digest(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


# --- BENCHMARK.json and the result line --------------------------------------

def test_benchmark_json_matches_the_metric_tables():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert {w["name"] for w in SPEC["workloads"]} == set(workloads.WORKLOADS)
    e2e = {m["name"]: m for m in SPEC["end_to_end"]}
    assert {k: m["unit"] for k, m in e2e.items()} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.PER_LAYER_UNITS
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert all(0 < m["bound"] <= 0.25 for m in e2e.values())
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())


def test_result_line_schema():
    values = {k: 1.5 for k in run.END_TO_END_UNITS}
    out = json.loads(run.result_line(True, 7, 0, values, run.END_TO_END_UNITS))
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["attempted"] == 7 and out["failed"] == 0 and out["correct"] is True
    for name, unit in run.END_TO_END_UNITS.items():
        assert out["metrics"][name] == {"value": 1.5, "unit": unit}


def test_result_line_refuses_a_missing_metric():
    values = {k: 1.0 for k in run.END_TO_END_UNITS}
    values.pop("ingest_s")
    with pytest.raises(KeyError):
        run.result_line(True, 1, 0, values, run.END_TO_END_UNITS)


def _result(**kw):
    base = dict(ingest_s=[2.0, 1.0, 1.5], ingest_rows=64, ingest_wall_s=8.0,
                query_s=[0.5, 0.25, 1.0], measured_s=10.0, input_rows=64,
                props={})
    base.update(kw)
    return workloads.Result(**base)


def _layer_totals():
    return {
        "jobs": 40, "stages": 44, "tasks": 90, "executor_run_s": 12.0,
        "executor_cpu_s": 3.0, "shuffle_read_bytes": 10, "shuffle_write_bytes": 10,
        "spill_bytes": 0, "input_bytes": 1000, "input_records": 128,
        "catalyst_analysis_ms": 3.0, "catalyst_optimization_ms": 9.0,
        "catalyst_planning_ms": 2.0, "overhead_s": 0.2,
        "engine_self_s": 6.0, "spark_action_s": 1.0, "self_s_by_layer": {},
    }


def test_every_metric_is_produced_for_every_workload():
    # every workload returns a Result, and both metric tables are computed
    # from a Result alone, so one Result covers every workload
    res = _result(layer=_layer_totals())
    e2e = run.end_to_end(res, setup_s=12.0)
    assert set(e2e) == {m["name"] for m in SPEC["end_to_end"]}
    assert e2e == {"setup_s": 12.0, "window_s": 10.0, "ingest_s": 1.5}
    layer = run.per_layer(res, {"session.start": 7.0, "session.first_job": 2.0}, 900.0)
    assert set(layer) == {m["name"] for m in SPEC["per_layer"]}
    assert layer["op.query_p50_s"] == 0.5 and layer["op.ingest_rows_per_s"] == 8.0
    assert layer["spark.core_busy"] == pytest.approx(12.0 / (10.0 * run.CORES))
    assert layer["sources.reads_per_input_row"] == 2.0


# --- generators ----------------------------------------------------------------

def test_catalog_tables_are_deterministic(tmp_path):
    a = gen.catalog_tables(str(tmp_path / "a"), 7, 0.001)
    b = gen.catalog_tables(str(tmp_path / "b"), 7, 0.001)
    c = gen.catalog_tables(str(tmp_path / "c"), 8, 0.001)
    assert a == b
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))
    assert sorted(_digest(str(tmp_path / "a"))) == sorted(
        f"{t}.parquet" for t in gen.CATALOG_TABLES)


def test_bronze_events_are_deterministic_and_match_their_expectation(tmp_path):
    a = gen.bronze_events(str(tmp_path / "a"), 3, 2, 100, 300, 30)
    b = gen.bronze_events(str(tmp_path / "b"), 3, 2, 100, 300, 30)
    assert a == b
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    rows = []
    for f in sorted(os.listdir(tmp_path / "a")):
        with open(tmp_path / "a" / f) as fh:
            rows.extend(json.loads(line) for line in fh)
    assert len(rows) == a["bronze_rows"]
    valid = {r["event_data"]["wwoz_event_href"] for r in rows if r["artist_data"]["name"]}
    invalid = [r for r in rows if not r["artist_data"]["name"]]
    assert len(valid) == a["expected"]["valid_hrefs"] == 200
    assert len(invalid) == a["expected"]["invalid_rows"]
    assert len({json.dumps(r, sort_keys=True) for r in invalid}) == len(invalid)
    dates = {r["event_data"]["event_date"] for r in rows}
    assert sorted(dates) == a["expected"]["dates"]


def test_corpus_batches_are_deterministic():
    a = gen.corpus_batches(5, 4, 16)
    assert a == gen.corpus_batches(5, 4, 16)
    assert a != gen.corpus_batches(6, 4, 16)
    ids = [d for batch in a for d, _ in batch]
    assert ids == list(range(64))
    # every doc carries a term only it has, so a probe can find it
    assert all(t.split()[-1] == f"nonce{d}" for batch in a for d, t in batch)


# --- spans -------------------------------------------------------------------

def test_self_time_subtracts_covered_child_time():
    spans = [
        Span("op", "pipeline", 0.0, 10.0, None, 1),
        Span("a", "spark", 1.0, 4.0, 0, 1),
        Span("b", "spark", 3.0, 5.0, 0, 1),  # overlaps a: covered once
        Span("c", "sources", 8.0, 12.0, 0, 1),  # runs past the parent: clipped
        Span("d", "spark", 9.0, 10.0, 3, 1),  # grandchild: only c loses it
    ]
    own = self_times(spans)
    assert own["pipeline"] == pytest.approx(10.0 - 4.0 - 2.0)
    assert own["spark"] == pytest.approx(3.0 + 2.0 + 1.0)
    assert own["sources"] == pytest.approx(4.0 - 1.0)


def test_self_time_of_a_leaf_is_its_duration():
    assert self_times([Span("x", "plans", 2.0, 2.5, None, 1)]) == {"plans": 0.5}


def test_canon_rows_is_order_insensitive_and_rounds_floats():
    a = [(1, 0.1 + 0.2, "x"), (2, None, "y")]
    b = [(2, None, "y"), (1, 0.3, "x")]
    assert workloads.canon_rows(a) == workloads.canon_rows(b)
    assert workloads.canon_rows([(1, 0.31)]) != workloads.canon_rows([(1, 0.3)])
