"""Pins the metric names, units and record schema.

    python3 -m pytest tilebench/tests -q
"""

import json
import math
import re
from pathlib import Path

import pytest

import run
from tb import catalog

ROOT = Path(__file__).resolve().parents[2]
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "input_rows_per_s": "1/s",
    "output_rows_per_s": "1/s", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s", "sources.gen_s": "s",
    "driver.plan_ms": "ms", "driver.analysis_ms": "ms", "driver.optimization_ms": "ms",
    "driver.planning_ms": "ms", "driver.n_jobs": "count", "driver.n_stages": "count",
    "driver.gap_s": "s", "stage.exec_run_s": "s", "stage.exec_cpu_s": "s",
    "shuffle.write_bytes": "B", "shuffle.records": "count", "spill.bytes": "B",
    "task.skew_ratio": "ratio", "arrow.python_s": "s", "arrow.boot_s": "s",
    "arrow.bytes_sent": "B", "arrow.bytes_received": "B", "arrow.rows_received": "count",
    "mvt.encode_feat_per_s": "1/s", "mvt.decode_tile_ms": "ms",
    "overzoom.blob_tiles_per_s": "1/s", "clip.polyline_per_s": "1/s",
    "simplify.dp_pts_per_s": "1/s", "spatial_join.pip_pts_edges_per_s": "1/s",
    "spatial_join.refine_keep_ratio": "ratio", "tiling.cap_keep_ratio": "ratio",
    "mvt.bytes_per_feature": "B", "dedup.pair_keep_ratio": "ratio",
    "trace.overhead_s": "s",
}


def test_metric_names_and_units_are_pinned():
    assert {m.name: m.unit for m in catalog.END_TO_END} == END_TO_END
    assert {m.name: m.unit for m in catalog.PER_LAYER} == PER_LAYER


def test_metrics_are_well_formed():
    names = [m.name for m in catalog.END_TO_END + catalog.PER_LAYER]
    assert len(names) == len(set(names))
    e2e = {m.name for m in catalog.END_TO_END}
    for m in catalog.END_TO_END + catalog.PER_LAYER:
        assert NAME.match(m.name) and UNIT.match(m.unit), m
        assert m.better in ("lower", "higher")
        assert set(m.on) <= set(catalog.WORKLOADS)
    for m in catalog.END_TO_END:
        assert 0 < m.bound <= 0.25 and not m.moves
    for m in catalog.PER_LAYER:
        assert m.bound is None and m.moves in e2e, m
    setup = next(m for m in catalog.END_TO_END if m.name == "setup_s")
    assert (setup.unit, setup.better) == ("s", "lower")
    assert setup.bound == max(m.bound for m in catalog.END_TO_END)


def test_benchmark_json_matches_the_catalogue():
    doc = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert doc == catalog.benchmark_json()
    assert set(doc) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 2 <= len(doc["workloads"]) <= 8 and 1 <= doc["run_seconds"] <= 60
    for w in doc["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    assert all(set(m) == {"name", "unit", "better"} for m in doc["per_layer"])
    assert len(json.dumps(doc)) < 64 * 1024


def _record(workload, trace, **per_layer):
    return {
        "workload": workload, "seed": 3, "attempted": 5, "failed": 0,
        "end_to_end": {name: 1.5 for name in END_TO_END},
        "per_layer": run.with_reasons(per_layer, workload) if trace else {},
    }


@pytest.mark.parametrize("trace", [False, True])
def test_result_line_schema(trace):
    line = run.result_line([_record("lines_tile", trace, **{"driver.n_jobs": 4})], trace)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] is True and (line["attempted"], line["failed"]) == (5, 0)
    want = PER_LAYER if trace else END_TO_END
    assert {k: v["unit"] for k, v in line["metrics"].items()} == want
    for v in line["metrics"].values():
        assert set(v) == {"value", "unit"} and math.isfinite(v["value"])
    json.dumps(line, allow_nan=False)


def test_unmeasured_metrics_carry_a_reason():
    layer = run.with_reasons({"driver.n_jobs": 4}, "lines_tile")
    assert layer["driver.n_jobs"] == 4
    assert "does not exercise" in layer["dedup.pair_keep_ratio"]
    assert layer["clip.polyline_per_s"] == "no traced pass completed"
    line = run.result_line([_record("lines_tile", True)], True)
    assert line["metrics"]["dedup.pair_keep_ratio"]["value"] == 0


def test_result_line_prefixes_several_runs_and_counts_failures():
    a, b = _record("points_tile", False), _record("join_tile", False)
    b["failed"] = 2
    line = run.result_line([a, b], False)
    assert "points_tile.s3.wall_s" in line["metrics"] and "join_tile.s3.wall_s" in line["metrics"]
    assert (line["correct"], line["attempted"], line["failed"]) == (False, 10, 2)


def test_median_layers_keeps_reasons():
    recs = [
        {"wall_s": 1.0, "python_nodes": [], "driver.n_jobs": 3, "arrow.python_s": "no node"},
        {"wall_s": 2.0, "python_nodes": [], "driver.n_jobs": 5, "arrow.python_s": "no node"},
        {"wall_s": 3.0, "python_nodes": [], "driver.n_jobs": 4, "arrow.python_s": "no node"},
    ]
    assert run.median_layers(recs) == {"driver.n_jobs": 4, "arrow.python_s": "no node"}
