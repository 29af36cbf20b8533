"""Read what Spark did in one pass, from outside the engine.

Three sources, all reached through the JVM gateway:
- the status store (jobs of a job group, their stages, task durations);
- the action DataFrame's QueryExecution tracker (Catalyst phase times);
- the SQL metrics on the executed plan's nodes (the Python boundary).
Anything a source cannot give is returned as a reason string, never a bare
None.
"""

from __future__ import annotations

import statistics

from py4j.protocol import Py4JJavaError

from .spans import covered_length

PYTHON_METRICS = {
    # SQL metric -> (record key, scale to the record's unit)
    "pythonTotalTime": ("python_s", 1e-3),
    "pythonBootTime": ("boot_s", 1e-3),
    "pythonDataSent": ("bytes_sent", 1),
    "pythonDataReceived": ("bytes_received", 1),
    "pythonNumRowsReceived": ("rows_received", 1),
}


def _opt(o):
    """scala Option -> python value or None."""
    return o.get() if o.isDefined() else None


def _ms(date_opt) -> float | None:
    d = _opt(date_opt)
    return None if d is None else d.getTime() / 1000.0


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def group_jobs(sc, group: str) -> list[dict]:
    """Jobs and ran stages of one job group, with epoch-second times."""
    store = sc._jsc.sc().statusStore()
    jobs = []
    for j in _seq(store.jobsList(None)):
        if _opt(j.jobGroup()) != group:
            continue
        stages = []
        for sid in _seq(j.stageIds()):
            try:
                s = store.lastStageAttempt(sid)
            except Py4JJavaError:  # NoSuchElementException: the stage never ran
                continue
            if str(s.status()) == "SKIPPED":
                continue
            start = _ms(s.firstTaskLaunchedTime()) or _ms(s.submissionTime())
            end = _ms(s.completionTime())
            tasks = _seq(store.taskList(s.stageId(), s.attemptId(), 100000))
            durs = [t.duration().get() / 1000.0 for t in tasks if t.duration().isDefined()]
            stages.append({
                "stage_id": int(s.stageId()),
                "name": str(s.name())[:80],
                "status": str(s.status()),
                "start": start,
                "end": end,
                "n_tasks": int(s.numTasks()),
                "exec_run_s": s.executorRunTime() / 1000.0,
                "exec_cpu_s": s.executorCpuTime() / 1e9,
                "shuffle_write_bytes": int(s.shuffleWriteBytes()),
                "shuffle_records": int(s.shuffleWriteRecords()),
                "spill_bytes": int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled()),
                "task_durations_s": durs,
            })
        jobs.append({
            "job_id": int(j.jobId()),
            "status": str(j.status()),
            "start": _ms(j.submissionTime()),
            "end": _ms(j.completionTime()),
            "stages": stages,
        })
    return sorted(jobs, key=lambda r: r["job_id"])


def plan_phases(df) -> dict:
    """Catalyst phase durations (ms) of the DataFrame's QueryExecution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        out[str(kv._1())] = float(kv._2().durationMs())
    return out


def _walk(node):
    yield node
    children = _seq(node.children())
    if "QueryStage" in node.nodeName():
        children.append(node.plan())
    for c in children:
        yield from _walk(c)


def _metric(node, key: str) -> float | None:
    m = node.metrics().get(key)
    return float(m.get().value()) if m.isDefined() else None


def python_nodes(df) -> list[dict]:
    """Per Python node of the executed plan: its Arrow-boundary SQL metrics,
    plus the row count its input child produced (for keep ratios)."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    nodes = []
    for node in _walk(plan):
        if _metric(node, "pythonTotalTime") is None:
            continue
        rec = {"node": str(node.nodeName())}
        for key, (name, scale) in PYTHON_METRICS.items():
            v = _metric(node, key)
            rec[name] = v * scale if v is not None else f"SQL metric {key} absent"
        rec["rows_in"] = _input_rows(node)
        nodes.append(rec)
    return nodes


def _input_rows(node):
    """numOutputRows of the nearest descendant that counts rows."""
    for child in _walk(node):
        if child is node:
            continue
        v = _metric(child, "numOutputRows")
        if v is not None:
            return v
    return "no row-counting node below the Python node"


def union_length(intervals) -> float:
    ivs = [(a, b) for a, b in intervals if a is not None and b is not None]
    if not ivs:
        return 0.0
    return covered_length(ivs, min(a for a, _ in ivs), max(b for _, b in ivs))


def pass_layers(wall_s: float, jobs: list[dict], phases: dict, nodes: list[dict]) -> dict:
    """The per-layer record of one traced pass."""
    stages = [s for j in jobs for s in j["stages"]]
    stage_wall = union_length((s["start"], s["end"]) for s in stages)
    slowest = max(stages, key=lambda s: (s["end"] or 0) - (s["start"] or 0), default=None)
    if slowest and slowest["task_durations_s"]:
        med = statistics.median(slowest["task_durations_s"])
        skew = max(slowest["task_durations_s"]) / med if med > 0 else 1.0
    else:
        skew = "no task durations for the slowest stage"
    rec = {
        "wall_s": wall_s,
        "driver.analysis_ms": phases.get("analysis", "phase absent from tracker"),
        "driver.optimization_ms": phases.get("optimization", "phase absent from tracker"),
        "driver.planning_ms": phases.get("planning", "phase absent from tracker"),
        "driver.n_jobs": len(jobs),
        "driver.n_stages": len(stages),
        "driver.gap_s": max(0.0, wall_s - stage_wall),
        "stage.exec_run_s": sum(s["exec_run_s"] for s in stages),
        "stage.exec_cpu_s": sum(s["exec_cpu_s"] for s in stages),
        "shuffle.write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
        "shuffle.records": sum(s["shuffle_records"] for s in stages),
        "spill.bytes": sum(s["spill_bytes"] for s in stages),
        "task.skew_ratio": skew,
        "python_nodes": nodes,
    }
    parts = [rec[f"driver.{p}_ms"] for p in ("analysis", "optimization", "planning")]
    rec["driver.plan_ms"] = (
        sum(parts) if all(isinstance(p, float) for p in parts) else "phase absent from tracker"
    )
    for name, _ in PYTHON_METRICS.values():
        vals = [n[name] for n in nodes]
        if not nodes:
            rec[f"arrow.{name}"] = "no Python node in the action's plan"
        elif all(isinstance(v, float) for v in vals):
            rec[f"arrow.{name}"] = sum(vals)
        else:
            rec[f"arrow.{name}"] = next(v for v in vals if isinstance(v, str))
    return rec
