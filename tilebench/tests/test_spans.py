"""Span parent/child links, self-time arithmetic and the per-pass layer
record built from Spark's job and stage times."""

import pytest

from tb import sparkstats
from tb.spans import Tracer, covered_length


def test_covered_length_merges_and_clips():
    assert covered_length([], 0, 10) == 0
    assert covered_length([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered_length([(-5, 2), (9, 20)], 0, 10) == 3
    assert covered_length([(11, 12)], 0, 10) == 0


def test_parent_child_ids_and_group():
    tr = Tracer()
    root = tr.add("pass", "g1", 0.0, 10.0)
    plan = tr.add("plan", "g1", 0.0, 2.0, root)
    action = tr.add("action", "g1", 2.0, 10.0, root)
    job = tr.add("job 7", "g1", 3.0, 9.0, action)
    assert root.parent_id is None
    assert plan.parent_id == action.parent_id == root.span_id
    assert job.parent_id == action.span_id
    assert tr.children(root) == [plan, action]
    assert {s["group"] for s in tr.records()} == {"g1"}


def test_self_time_is_duration_minus_children_union():
    tr = Tracer()
    job = tr.add("job", "g", 0.0, 10.0)
    tr.add("stage a", "g", 1.0, 4.0, job)
    tr.add("stage b", "g", 3.0, 6.0, job)  # overlaps a: counted once
    tr.add("stage c", "g", 9.0, 12.0, job)  # runs past the parent: clipped
    assert tr.self_time(job) == pytest.approx(10.0 - 5.0 - 1.0)
    recs = {r["name"]: r for r in tr.records()}
    assert recs["job"]["duration_s"] == 10.0
    assert recs["job"]["self_s"] == pytest.approx(4.0)
    assert recs["stage a"]["self_s"] == recs["stage a"]["duration_s"] == 3.0


def test_span_context_records_on_error():
    tr = Tracer()
    with pytest.raises(RuntimeError):
        with tr.span("pass", "g") as root:
            with tr.span("plan", "g", root):
                raise RuntimeError("boom")
    assert [s.name for s in tr.spans] == ["pass", "plan"]
    assert all(s.end >= s.start for s in tr.spans)
    assert tr.self_time(tr.spans[0]) >= 0


def _stage(start, end, tasks, **kw):
    return {"stage_id": 0, "name": "s", "status": "COMPLETE", "start": start, "end": end,
            "n_tasks": len(tasks), "exec_run_s": kw.get("run", 1.0),
            "exec_cpu_s": kw.get("cpu", 0.5), "shuffle_write_bytes": kw.get("sw", 0),
            "shuffle_records": kw.get("sr", 0), "spill_bytes": 0, "task_durations_s": tasks}


def test_pass_layers_gap_skew_and_sums():
    jobs = [
        {"job_id": 1, "status": "SUCCEEDED", "start": 100.0, "end": 102.0,
         "stages": [_stage(100.0, 101.0, [0.5, 0.5, 0.5], sw=10, sr=2)]},
        {"job_id": 2, "status": "SUCCEEDED", "start": 100.5, "end": 104.0,
         "stages": [_stage(100.5, 103.5, [1.0, 1.0, 3.0], sw=5, sr=1)]},
    ]
    phases = {"analysis": 10.0, "optimization": 20.0, "planning": 5.0}
    nodes = [
        {"node": "MapInArrow", "python_s": 2.0, "boot_s": 0.1, "bytes_sent": 100.0,
         "bytes_received": 50.0, "rows_received": 7.0, "rows_in": 9.0},
        {"node": "MapInPandas", "python_s": 1.0, "boot_s": 0.0, "bytes_sent": 10.0,
         "bytes_received": 5.0, "rows_received": 3.0, "rows_in": 4.0},
    ]
    rec = sparkstats.pass_layers(5.0, jobs, phases, nodes)
    assert rec["driver.gap_s"] == pytest.approx(5.0 - 3.5)  # stage union 100..103.5
    assert rec["task.skew_ratio"] == pytest.approx(3.0)  # slowest stage: max 3 / median 1
    assert rec["driver.plan_ms"] == 35.0
    assert (rec["driver.n_jobs"], rec["driver.n_stages"]) == (2, 2)
    assert (rec["shuffle.write_bytes"], rec["shuffle.records"]) == (15, 3)
    assert rec["stage.exec_run_s"] == 2.0 and rec["stage.exec_cpu_s"] == 1.0
    assert rec["arrow.python_s"] == 3.0 and rec["arrow.rows_received"] == 10.0


def test_pass_layers_reasons_instead_of_nulls():
    rec = sparkstats.pass_layers(1.0, [], {"analysis": 3.0}, [])
    assert rec["driver.gap_s"] == 1.0
    for key in ("driver.plan_ms", "driver.planning_ms", "task.skew_ratio", "arrow.python_s"):
        assert isinstance(rec[key], str) and rec[key]
    assert None not in rec.values()
