"""The metric catalogue: every metric the benchmark reports, with its unit,
which way is better, and — for a per-layer metric — the end-to-end metric it
should move and the workloads it is measured on.

BENCHMARK.json, the printed summary and the trace record all draw their
metric names from here; tests/test_catalog.py pins them against each other.
"""

from __future__ import annotations

from dataclasses import dataclass

WORKLOADS = ("points_tile", "lines_tile", "join_tile", "tiles_overzoom", "docs_dedup")
TILE_WORKLOADS = ("points_tile", "lines_tile", "join_tile", "tiles_overzoom")
WHY = {
    "points_tile": "flagship sink: light image rows to mostly one-feature z10 point tiles; "
                   "encode, shuffle and sort, no geometry kernel, metro tiles capped",
    "lines_tile": "polylines through the fused clip/simplify MapInArrow kernel into z8 tiles; "
                  "the geometry-kernel path, light metadata",
    "join_tile": "pip_join against 48 overlapping star regions with holes, then region-tagged "
                 "z12 point tiles; the spatial-join half, refine-bound, dense tiles",
    "tiles_overzoom": "read path: overzoom a parquet tile set built at setup by one level; "
                      "the only mvt decode and overzoom, no shuffle",
    "docs_dedup": "minhash_near_dups on a synthetic corpus; driver-bound (Catalyst phases, "
                  "many jobs, localCheckpoint), the only dedup workload",
}
# BENCHMARK.json lists the workloads whose regression runs fit the time its
# users allow (4 + 22 runs per listed workload within 3420 s). A run pays
# ~20 s of JVM start and input builds, ~20 s of warm-up passes and
# RUN_SECONDS of timed ones: 45-55 s in all, which leaves room for two.
# points_tile and lines_tile between them run the flagship encode path and
# the clip/simplify kernel; join_tile is left out because its pass walls
# swing most with the host's load (eight jobs per pass, a third of its wall
# in the driver between stages), and tiles_overzoom and docs_dedup for
# time. All three run through the same command.
GATED = ("points_tile", "lines_tile")
RUN_SECONDS = 8


@dataclass(frozen=True)
class Metric:
    name: str
    unit: str
    better: str  # "lower" | "higher"
    doc: str
    bound: float | None = None  # end-to-end only: allowed worsening, share of median
    moves: str = ""  # per-layer only: the end-to-end metric it should move
    on: tuple[str, ...] = WORKLOADS  # workloads the metric is measured on


END_TO_END = (
    Metric("setup_s", "s", "lower", bound=0.25,
           doc="session start plus the median of several input builds"),
    Metric("wall_s", "s", "lower", bound=0.25,
           doc="median wall of the timed pipeline passes"),
    Metric("input_rows_per_s", "1/s", "higher", bound=0.25,
           doc="input rows / wall_s"),
    Metric("output_rows_per_s", "1/s", "higher", bound=0.25,
           doc="output records / wall_s: tiles on tile workloads, pairs on docs_dedup"),
    Metric("peak_rss_mb", "MB", "lower", bound=0.15,
           doc="peak summed RSS of the Spark driver JVM and its Python workers, from /proc"),
)

PER_LAYER = (
    # session / sources: set-up
    Metric("session.start_s", "s", "lower", moves="setup_s",
           doc="time of session.get_spark"),
    Metric("sources.gen_s", "s", "lower", moves="setup_s",
           doc="median time of one input build (synth writers, tile-set build)"),
    # the Spark driver: Catalyst phases of the action's DataFrame, jobs, gap
    Metric("driver.plan_ms", "ms", "lower", moves="wall_s",
           doc="analysis + optimization + planning of the action's DataFrame"),
    Metric("driver.analysis_ms", "ms", "lower", moves="wall_s", doc="Catalyst analysis"),
    Metric("driver.optimization_ms", "ms", "lower", moves="wall_s", doc="Catalyst optimization"),
    Metric("driver.planning_ms", "ms", "lower", moves="wall_s", doc="physical planning"),
    Metric("driver.n_jobs", "count", "lower", moves="wall_s",
           doc="Spark jobs in the pass's job group"),
    Metric("driver.n_stages", "count", "lower", moves="wall_s",
           doc="stages that ran (skipped stages excluded)"),
    Metric("driver.gap_s", "s", "lower", moves="wall_s",
           doc="pass wall minus the union of its stages' run intervals"),
    # stages
    Metric("stage.exec_run_s", "s", "lower", moves="input_rows_per_s",
           doc="summed executor run time of the pass's stages"),
    Metric("stage.exec_cpu_s", "s", "lower", moves="input_rows_per_s",
           doc="summed executor CPU time of the pass's stages"),
    Metric("shuffle.write_bytes", "B", "lower", moves="input_rows_per_s",
           doc="shuffle bytes written (0 on tiles_overzoom)"),
    Metric("shuffle.records", "count", "lower", moves="input_rows_per_s",
           doc="shuffle records written"),
    Metric("spill.bytes", "B", "lower", moves="input_rows_per_s",
           doc="memory plus disk bytes spilled"),
    Metric("task.skew_ratio", "ratio", "lower", moves="wall_s",
           doc="max / median task duration of the slowest stage"),
    # the Arrow boundary, summed over the action plan's Python nodes
    Metric("arrow.python_s", "s", "lower", moves="input_rows_per_s",
           doc="pythonTotalTime over the Python nodes"),
    Metric("arrow.boot_s", "s", "lower", moves="input_rows_per_s",
           doc="pythonBootTime over the Python nodes"),
    Metric("arrow.bytes_sent", "B", "lower", moves="input_rows_per_s",
           doc="pythonDataSent over the Python nodes"),
    Metric("arrow.bytes_received", "B", "lower", moves="input_rows_per_s",
           doc="pythonDataReceived over the Python nodes"),
    Metric("arrow.rows_received", "count", "lower", moves="input_rows_per_s",
           doc="pythonNumRowsReceived over the Python nodes"),
    # kernels, timed from the driver on fixed samples
    Metric("mvt.encode_feat_per_s", "1/s", "higher", moves="output_rows_per_s",
           on=("points_tile", "join_tile"),
           doc="codec.encode_multi_tile_batch features/s on sampled output features"),
    Metric("mvt.decode_tile_ms", "ms", "lower", moves="output_rows_per_s",
           on=("tiles_overzoom",), doc="codec.decode_tile ms per parent tile"),
    Metric("overzoom.blob_tiles_per_s", "1/s", "higher", moves="output_rows_per_s",
           on=("tiles_overzoom",), doc="overzoom_blob parent tiles/s"),
    Metric("clip.polyline_per_s", "1/s", "higher", moves="input_rows_per_s",
           on=("lines_tile",), doc="clip_polyline calls/s on sampled lines"),
    Metric("simplify.dp_pts_per_s", "1/s", "higher", moves="input_rows_per_s",
           on=("lines_tile",), doc="dp_keep_mask_batch points/s on sampled lines"),
    Metric("spatial_join.pip_pts_edges_per_s", "1/s", "higher", moves="input_rows_per_s",
           on=("join_tile",), doc="geometry.points_in_ring point-edge tests/s"),
    # useful / attempted ratios
    Metric("spatial_join.refine_keep_ratio", "ratio", "higher", moves="wall_s",
           on=("join_tile",), doc="refine node rows out / rows in"),
    Metric("tiling.cap_keep_ratio", "ratio", "higher", moves="output_rows_per_s",
           on=("points_tile",), doc="encoded features / features offered"),
    Metric("mvt.bytes_per_feature", "B", "lower", moves="output_rows_per_s",
           on=TILE_WORKLOADS, doc="output MVT bytes / output features"),
    Metric("dedup.pair_keep_ratio", "ratio", "higher", moves="wall_s",
           on=("docs_dedup",), doc="output pairs / LSH bucket candidate pairs"),
    # the tracer itself
    Metric("trace.overhead_s", "s", "lower", moves="wall_s",
           doc="median traced pass wall minus median untraced pass wall"),
)

def not_measured_reason(metric: Metric, workload: str) -> str | None:
    """Why `metric` has no measurement on `workload`, or None if it has one."""
    if workload in metric.on:
        return None
    return f"{workload} does not exercise the layer behind {metric.name}"


def benchmark_json() -> dict:
    """The BENCHMARK.json document these definitions describe."""
    return {
        "command": ["python3", "tilebench/run.py"],
        "paths": ["tilebench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": w, "why": WHY[w]} for w in GATED],
        "end_to_end": [
            {"name": m.name, "unit": m.unit, "better": m.better, "bound": m.bound}
            for m in END_TO_END
        ],
        "per_layer": [
            {"name": m.name, "unit": m.unit, "better": m.better} for m in PER_LAYER
        ],
    }
