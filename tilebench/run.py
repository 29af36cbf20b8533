"""Benchmark of the tiling engine: five pipeline workloads, end-to-end
metrics from untraced passes and a per-layer record from traced ones.

    python3 tilebench/run.py --workload points_tile --seed 1 --seconds 8 --trace 0
    python3 tilebench/run.py --workload all --seed 1 2      # every workload, two seeds
    python3 tilebench/run.py --smoke                        # toy sizes, all workloads

Run it from the root of a checkout of the repository. The load is a closed
loop from this one Python process: one pipeline pass at a time on
local[<cores>]. Each run builds its inputs from --seed, runs untimed
warm-up passes, then timed passes until --seconds have passed (at least
MIN_PASSES of each kind). Every pass is checked; see README.md for what is
checked.

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics. With --trace 0 the metrics are the
end-to-end ones; with --trace 1, untraced and traced passes alternate, and
the metrics are the per-layer ones. Everything else —
spans, per-pass layer records, check results, reasons for metrics that were
not measured — goes to tilebench/out/ and to the summary lines above.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

from tb import catalog, procmon, sparkstats
from tb.procmon import PeakRss
from tb.spans import Tracer

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
MIN_PASSES = 3
# pass walls keep falling over the first seven or so passes after the
# input builds (JIT of the Arrow and codegen paths, Python worker heaps
# growing), by 10-20% after the first two: a fixed count of untimed passes
# comes before any timing, so every run is timed at the same point of that
# curve however fast the host runs
WARMUP_PASSES = 7
SETUP_REPS = 3
DRIVER_MEMORY = "1g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", default=None,
                   help="a workload name, or 'all' (default: all with --smoke)")
    p.add_argument("--seed", type=int, nargs="+", default=[1])
    p.add_argument("--seconds", type=float, default=None,
                   help=f"timed seconds per workload (default {catalog.RUN_SECONDS}, "
                        "2 with --smoke)")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="toy input sizes")
    args = p.parse_args(argv)
    if args.workload is None:
        if not args.smoke:
            p.error("--workload is required without --smoke")
        args.workload = "all"
    if args.seconds is None:
        args.seconds = 2.0 if args.smoke else float(catalog.RUN_SECONDS)
    return args


def prepare_environment(work: Path) -> None:
    """Environment the JVM and the Python workers inherit: the engine on
    PYTHONPATH, one Spark core per CPU, and every temporary file inside the
    run's work directory."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"


def start_session(work: Path):
    from vectortiles_spark.session import get_spark

    # heap 1g + 4 Python workers (a few hundred MB each at these input
    # sizes) + Arrow batches stays near 3 GB: safe on a 15 GB host
    return get_spark(
        app_name="tilebench",
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait until every process
    this run started (the JVM, the Python worker daemon and its workers) has
    ended."""
    from pyspark import SparkContext

    started = procmon.descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
    # the workers outlive the JVM briefly and are re-parented: wait by pid
    deadline = time.monotonic() + 30
    while any(map(procmon.running, started)) and time.monotonic() < deadline:
        time.sleep(0.1)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


class Runner:
    """Runs one workload at one seed inside an open session."""

    def __init__(self, spark, rss, session_start_s: float, work: Path, out: Path):
        self.spark = spark
        self.sc = spark.sparkContext
        self.rss = rss
        self.session_start_s = session_start_s
        self.work = work
        self.out = out
        self.tracer = Tracer()

    def one_pass(self, wl, ctx, group: str, traced: bool):
        """One pipeline pass: (wall seconds, action result, layer record)."""
        self.sc.setJobGroup(group, f"tilebench {group}")
        if not traced:
            t0 = time.perf_counter()
            res, _ = wl.action(ctx, wl.build(ctx))
            return time.perf_counter() - t0, res, None
        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span("pass", group, workload=wl.name) as root:
            with tr.span("plan", group, root) as plan:
                df = wl.build(ctx)
            with tr.span("action", group, root) as action:
                res, ran = wl.action(ctx, df)
        wall = time.perf_counter() - t0
        jobs = sparkstats.group_jobs(self.sc, group)
        for job in jobs:
            parent = plan if job["start"] is not None and job["start"] < plan.end else action
            js = tr.add(f"job {job['job_id']}", group, job["start"] or parent.start,
                        job["end"] or parent.end, parent, status=job["status"])
            for st in job["stages"]:
                tr.add(f"stage {st['stage_id']}", group, st["start"] or js.start,
                       st["end"] or js.end, js, stage_name=st["name"], n_tasks=st["n_tasks"],
                       exec_run_s=st["exec_run_s"])
        layers = sparkstats.pass_layers(
            wall, jobs, sparkstats.plan_phases(ran), sparkstats.python_nodes(ran)
        )
        return wall, res, layers

    def run(self, wl, seed: int, n: int, seconds: float, trace: bool) -> dict:
        from tb import workloads

        ctx = workloads.Ctx(self.spark, n, seed, self.work / f"{wl.name}-s{seed}")
        gen_times = []
        for rep in range(SETUP_REPS):
            d = ctx.work / f"rep{rep}"
            t0 = time.perf_counter()
            ctx.inputs = wl.setup(ctx, d)
            gen_times.append(time.perf_counter() - t0)
            if rep:
                shutil.rmtree(ctx.work / f"rep{rep - 1}")
        wl.prepare(ctx)

        record = {"workload": wl.name, "seed": seed, "n": n, "trace": int(trace),
                  "input_rows": ctx.inputs["input_rows"], "setup_s_reps": gen_times,
                  "passes": [], "errors": []}
        ref = None
        deep_errors: list[str] = []
        attempted = failed = 0
        untraced, traced, layer_recs = [], [], []

        def do_pass(label: str, traced_pass: bool):
            nonlocal ref, deep_errors, attempted, failed
            attempted += 1
            group = f"{wl.name}#s{seed}#{label}"
            entry = {"group": group, "traced": traced_pass}
            try:
                wall, res, layers = self.one_pass(wl, ctx, group, traced_pass)
            except Exception:  # noqa: BLE001 — a failed pass is counted, the run goes on
                failed += 1
                entry["error"] = traceback.format_exc()[-4000:]
                record["passes"].append(entry)
                return None
            entry.update(wall_s=wall, n_out=res["n_out"], digest=res["digest"])
            if ref is None:
                ref = (res, workloads.sample_digest(res))
                deep_errors = wl.check(ctx, res)
            problems = list(deep_errors)
            if res["digest"] != ref[0]["digest"]:
                problems.append(f"digest {res['digest']} != first pass {ref[0]['digest']}")
            if workloads.sample_digest(res) != ref[1]:
                problems.append("sampled output differs from the first pass")
            if problems:
                failed += 1
                entry["check_errors"] = problems[:20]
            if layers is not None:
                entry["layers"] = layers
            record["passes"].append(entry)
            return wall, res, layers

        for w in range(WARMUP_PASSES):
            do_pass(f"warmup{w}", False)
        record["warmup_passes"] = WARMUP_PASSES
        self.rss.reset()
        # traced runs alternate untraced and traced passes, so warm-up drift
        # over the run biases neither side of the tracing overhead
        kinds = (False, True) if trace else (False,)
        t_end = time.perf_counter() + seconds
        i = 0
        max_attempts = 3 * MIN_PASSES * len(kinds)  # bounds a run whose passes keep failing

        def short():
            return min(len(untraced), len(traced) if trace else MIN_PASSES) < MIN_PASSES

        while time.perf_counter() < t_end or (short() and i < max_attempts):
            traced_pass = kinds[i % len(kinds)]
            out = do_pass(f"{'t' if traced_pass else 'u'}{i}", traced_pass)
            i += 1
            if out is not None:
                (traced if traced_pass else untraced).append(out[0])
                if traced_pass:
                    layer_recs.append(out[2])
        peak_rss = self.rss.read()

        if ref is not None:
            pin = self.pin_digest(wl.name, seed, n, ref[0]["digest"])
            if pin:
                failed = attempted
                record["errors"].append(pin)
        record["errors"] += deep_errors
        res = ref[0] if ref else None
        wall = median(untraced)
        metrics: dict[str, float] = {
            "setup_s": self.session_start_s + median(gen_times),
            "wall_s": wall,
            "input_rows_per_s": ctx.inputs["input_rows"] / wall,
            "output_rows_per_s": (res["n_out"] if res else 0) / wall,
            "peak_rss_mb": peak_rss,
        }
        layer: dict[str, object] = {}
        if trace:
            layer = median_layers(layer_recs)
            layer.update({
                "session.start_s": self.session_start_s,
                "sources.gen_s": median(gen_times),
                "trace.overhead_s": (median(traced) - wall if traced and untraced
                                     else "needs a traced and an untraced pass"),
            })
            if res is not None:
                nodes = layer_recs[-1]["python_nodes"] if layer_recs else []
                layer.update(wl.ratios(ctx, res, nodes))
                if res.get("n_features"):
                    layer["mvt.bytes_per_feature"] = res["bytes"] / res["n_features"]
                layer.update(wl.kernels(ctx))
            layer = with_reasons(layer, wl.name)
        record.update(
            attempted=attempted, failed=failed, untraced_walls_s=untraced, traced_walls_s=traced,
            end_to_end=metrics, per_layer=layer, spans=self.tracer.records(),
        )
        self.tracer = Tracer()
        self.out.mkdir(exist_ok=True)
        (self.out / f"record-{wl.name}-seed{seed}-trace{int(trace)}.json").write_text(
            json.dumps(record, indent=1, default=str)
        )
        shutil.rmtree(ctx.work, ignore_errors=True)
        return record

    def pin_digest(self, workload: str, seed: int, n: int, digest: str) -> str | None:
        """Digests seen at one (workload, seed, size) must agree across runs."""
        path = self.out / "digests.json"
        pins = json.loads(path.read_text()) if path.exists() else {}
        key = f"{workload}/seed{seed}/n{n}"
        if pins.setdefault(key, digest) != digest:
            return f"output digest {digest} differs from {pins[key]} of an earlier run"
        self.out.mkdir(exist_ok=True)
        path.write_text(json.dumps(pins, indent=1, sort_keys=True))
        return None


def median_layers(layer_recs: list[dict]) -> dict:
    """Per-layer metrics over the traced passes: the median of each numeric
    entry; an entry that is a reason string on any pass stays a reason."""
    out: dict[str, object] = {}
    for key in layer_recs[0] if layer_recs else ():
        if key in ("python_nodes", "wall_s"):
            continue
        vals = [r[key] for r in layer_recs]
        reasons = [v for v in vals if isinstance(v, str)]
        out[key] = reasons[0] if reasons else median(vals)
    return out


def with_reasons(layer: dict, workload: str) -> dict:
    """Every per-layer metric of the catalogue: measured values as they are,
    and a reason string for each one this workload cannot measure."""
    out = {}
    for m in catalog.PER_LAYER:
        reason = catalog.not_measured_reason(m, workload)
        out[m.name] = reason or layer.get(m.name, "no traced pass completed")
    return out


def result_line(records: list[dict], trace: bool) -> dict:
    """The last stdout line: correct/attempted/failed and the end-to-end
    (trace off) or per-layer (trace on) metrics. A metric without a
    measurement reads 0 here; the record and the summary carry the reason.
    With several (workload, seed) runs, names get a "<workload>.s<seed>."
    prefix."""
    section, defs = ("per_layer", catalog.PER_LAYER) if trace else ("end_to_end", catalog.END_TO_END)
    metrics = {}
    for rec in records:
        prefix = "" if len(records) == 1 else f"{rec['workload']}.s{rec['seed']}."
        for m in defs:
            v = rec[section][m.name]
            ok = isinstance(v, (int, float)) and math.isfinite(v)
            metrics[prefix + m.name] = {"value": v if ok else 0, "unit": m.unit}
    attempted = sum(r["attempted"] for r in records)
    failed = sum(r["failed"] for r in records)
    return {"correct": failed == 0 and attempted > 0, "attempted": attempted,
            "failed": failed, "metrics": metrics}


def summarize(rec: dict) -> list[str]:
    """Human-readable lines: every metric by name, value and unit."""
    head = (f"# {rec['workload']} seed={rec['seed']} n={rec['n']} "
            f"input_rows={rec['input_rows']} passes={len(rec['untraced_walls_s'])} untraced"
            f" + {len(rec['traced_walls_s'])} traced + {rec['warmup_passes']} warm-up")
    lines = [head]
    for m in catalog.END_TO_END:
        lines.append(f"{m.name:<34} {rec['end_to_end'][m.name]:>16.6g} {m.unit}")
    err = rec["failed"] / rec["attempted"] if rec["attempted"] else 1.0
    lines.append(f"{'error_rate':<34} {err:>16.6g} ratio ({rec['failed']}/{rec['attempted']} passes)")
    for m in catalog.PER_LAYER if rec["trace"] else ():
        v = rec["per_layer"][m.name]
        lines.append(f"{m.name:<34} {v:>16.6g} {m.unit}" if not isinstance(v, str)
                     else f"{m.name:<34} {'-':>16} {m.unit}  ({v})")
    for e in rec["errors"][:10]:
        lines.append(f"! {e}")
    return lines


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    try:
        import vectortiles_spark
    except ImportError as exc:
        print(f"tilebench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 3
    if not Path(vectortiles_spark.__file__).resolve().is_relative_to(ROOT):
        print(f"tilebench: the engine imported from {vectortiles_spark.__file__}, "
              f"not from the checkout at {ROOT}", file=sys.stderr)
        return 3
    from tb.workloads import WORKLOADS

    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    unknown = [w for w in names if w not in WORKLOADS]
    if unknown:
        print(f"tilebench: unknown workload {unknown[0]!r}; pick from {list(WORKLOADS)}",
              file=sys.stderr)
        return 2

    work = BENCH_DIR / ".work" / f"run-{os.getpid()}"
    prepare_environment(work)
    rss = PeakRss().start()
    spark = None
    records = []
    try:
        t0 = time.perf_counter()
        spark = start_session(work)
        session_start_s = time.perf_counter() - t0
        runner = Runner(spark, rss, session_start_s, work, BENCH_DIR / "out")
        for seed in args.seed:
            for name in names:
                wl = WORKLOADS[name]
                rec = runner.run(wl, seed, wl.smoke_n if args.smoke else wl.n,
                                 args.seconds, bool(args.trace))
                print("\n".join(summarize(rec)), flush=True)
                records.append(rec)
    finally:
        rss.stop()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps(result_line(records, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
