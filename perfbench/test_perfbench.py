"""The benchmark's own tests: seeded inputs, failure accounting and the
metric names it prints. None of them starts Spark.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import math
import subprocess
import sys
import time
from contextlib import contextmanager
from pathlib import Path

import numpy as np
import pytest

from perfbench import run
from perfbench.inputs import (
    BLOCK,
    SHAPE,
    Tally,
    cubes,
    op_order,
    same_array,
    same_sum,
    serving_requests,
)
from perfbench.workloads import Workload

ROOT = Path(__file__).resolve().parents[1]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def test_generators_are_deterministic_per_seed():
    assert cubes(7, 3) == cubes(7, 3)
    assert cubes(7, 3) != cubes(8, 3)
    assert serving_requests(7, 3, 4) == serving_requests(7, 3, 4)
    assert serving_requests(7, 3, 4) != serving_requests(8, 3, 4)
    ops = ["a", "b", "c", "d", "e"]
    assert op_order(7, ops) == op_order(7, ops)
    assert sorted(op_order(7, ops)) == ops


def test_every_block_has_the_fixed_mix():
    for block in serving_requests(3, 3, 5):
        kinds = [r.kind for r in block]
        assert {k: kinds.count(k) for k in BLOCK} == BLOCK


def test_requests_stay_inside_the_cube():
    full = np.zeros(SHAPE)
    for block in serving_requests(5, 3, 20):
        for r in block:
            assert 0 <= r.array < 3
            if r.bounds:
                assert full[r.bounds].size >= 1
            if r.kind == "update":
                assert full[r.bounds].shape == r.patch.shape


def test_closed_form_sums_match_the_cells():
    cube = cubes(11, 1)[0]
    box = ((3, 17), (10, 40), (100, 250))
    assert cube.box_sum(box) == cube.box(box).sum()
    full = tuple((0, n) for n in SHAPE)
    assert cube.box_sum(full) == cube.full().sum()
    assert cube.box_sum(full) < 2**53  # every partial sum is an exact float64


def test_a_corrupted_read_counts_as_a_failure():
    tally = Tally()
    shadow = cubes(2, 1)[0].box(((0, 2), (0, 3), (0, 4)))
    tally.record(same_array(shadow, shadow.copy()), "read")
    corrupted = shadow.copy()
    corrupted[1, 2, 3] += 1.0
    tally.record(same_array(shadow, corrupted), "read")
    tally.record(same_array(shadow, shadow[:, :, :3]), "read")  # wrong shape
    assert (tally.attempted, tally.failed) == (3, 2)


def test_a_corrupted_sum_counts_as_a_failure():
    tally = Tally()
    tally.record(same_sum(10, 55, 10, 55.0), "scan")
    tally.record(same_sum(10, 55, 10, 56.0), "scan")
    tally.record(same_sum(10, 55, 9, 55.0), "scan")
    tally.record(same_sum(10, 55, 10, None), "scan")
    assert (tally.attempted, tally.failed) == (4, 3)


def test_result_lists_exactly_the_benchmark_metrics():
    e2e = {m["name"]: 1.0 for m in SPEC["end_to_end"]}
    out = run.format_result(SPEC, False, {"attempted": 5, "failed": 1, "values": e2e})
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is False
    assert list(out["metrics"]) == [m["name"] for m in SPEC["end_to_end"]]
    assert all(out["metrics"][m["name"]]["unit"] == m["unit"] for m in SPEC["end_to_end"])

    traced = run.format_result(SPEC, True, {"attempted": 1, "failed": 0, "values": {}})
    assert list(traced["metrics"]) == [m["name"] for m in SPEC["per_layer"]]


def test_result_rejects_metrics_outside_the_benchmark():
    e2e = {m["name"]: 1.0 for m in SPEC["end_to_end"]}
    with pytest.raises(ValueError):
        run.format_result(SPEC, False, {"attempted": 1, "failed": 0, "values": {**e2e, "nope": 1}})
    with pytest.raises(ValueError):
        run.format_result(SPEC, False, {"attempted": 1, "failed": 0, "values": {"setup_s": 1.0}})
    with pytest.raises(ValueError):
        run.format_result(SPEC, False, {"attempted": 1, "failed": 0, "values": {**e2e, "round_s": math.nan}})
    with pytest.raises(ValueError):
        run.format_result(SPEC, False, {"attempted": 0, "failed": 0, "values": e2e})


def test_every_named_figure_is_declared():
    described = run.describe(SPEC, {"workload": "serving", "metrics": {"read_p50_ms": 2.5}})
    assert described["metrics"] == {"read_p50_ms": {"value": 2.5, "unit": "ms"}}
    with pytest.raises(ValueError):
        run.describe(SPEC, {"metrics": {"read_p51_ms": 2.5}})


def test_traced_runs_emit_exactly_the_declared_per_layer_metrics(tmp_path):
    """Every per-layer metric a traced run can print, and every figure a
    run names on its detail line, is declared in BENCHMARK.json, and
    each declared one is produced by some workload. The workloads
    compute their metrics here from empty traces."""
    from deker_server_adapters_spark.operators import all_ops
    from perfbench import workloads
    from perfbench.observe import ProcProbe, Tracer

    produced = set(ProcProbe(str(tmp_path / "pids")).cpu())
    produced |= {f"traced.{k}" for k in workloads.ROUND_METRICS} | {"fail_frac"}
    for cls in workloads.WORKLOADS.values():
        wl = cls(None, 0, str(tmp_path), Tally(), Tracer(), None)
        wl.store_before_compact = (1, 1, 1.0)
        wl.written_files = 0
        wl.writer_dirs = 1
        wl.steps = {}
        wl.order = list(workloads.PIPELINE_OPS)
        wl.registry = {n: all_ops()[n] for n in wl.order}
        produced |= set(wl.layer_metrics()) | set(wl.workload_metrics())
    assert produced == {m["name"] for m in SPEC["per_layer"]}
    e2e = {"setup_s", "peak_rss_mb", *workloads.ROUND_METRICS}
    assert e2e == {m["name"] for m in SPEC["end_to_end"]}


class _Groups:
    """Stands in for SparkCounters without a Spark session."""

    @contextmanager
    def group(self, kind, into):
        yield


def test_a_step_span_times_the_step_itself(tmp_path):
    """A traced I/O step records one span around the work, so
    that span's self time is the step's duration, not the bookkeeping
    around it."""
    from perfbench.observe import Tracer
    from perfbench.workloads import Arrays

    wl = Arrays(None, 0, str(tmp_path), Tally(), Tracer(), _Groups())
    wl.steps = {}
    wl.step("scan_pruned", lambda: time.sleep(0.05), lambda _: True, 10)
    (dt, cells), = wl.steps["scan_pruned"]
    assert cells == 10 and dt >= 0.05
    self_s = wl.self_s("sources.deker_datasource.scan_pruned")
    assert 0.05 <= self_s <= dt + 0.01
    with wl.untraced():
        wl.step("compact", lambda: None, lambda _: True)
    assert "step.compact" not in wl.tracer.self_times()


def test_round_metrics_weigh_every_kind():
    wl = Workload(None, 0, "", Tally())
    wl.round_mix = {"a": 3, "b": 1}
    wl.rounds = [9.0, 0.5]  # round wall times do not enter the metrics
    wl.by_kind = {"a": [0.001, 0.002, 0.003], "b": [0.1]}
    m = wl.end_to_end()
    assert m["round_s"] == pytest.approx(3 * 0.002 + 0.1)
    assert m["kind_geomean_ms"] == pytest.approx(math.sqrt(2.0 * 100.0))
    wl.by_kind["c"] = [0.0002]  # under the floor: counts as 1 ms
    assert wl.end_to_end()["kind_geomean_ms"] == pytest.approx((2.0 * 100.0 * 1.0) ** (1 / 3))


def test_workload_names_match_the_spec():
    from perfbench.workloads import WORKLOADS

    assert set(WORKLOADS) == {w["name"] for w in SPEC["workloads"]}


def test_unknown_workload_exits_non_zero():
    proc = subprocess.run(
        [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", "nope", "--seed", "1", "--seconds", "1"],
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert proc.returncode != 0 and proc.stdout == ""
