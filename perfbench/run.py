"""Benchmark of the engine, measured from outside the package.

Run from the root of a checkout:

    python3 perfbench/run.py --workload llm_text --seed 1 --seconds 6 --trace 0

One process, one operation in flight at a time, on ``local[<cpus>]``.  The
run generates (or reuses) the seeded inputs, sets up a SparkSession, makes a
cold first pass, warms up, then repeats whole passes for about
``--seconds`` (it stops when one more pass would end more than half a pass
late).  Every operation's output is checked.  ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics from traced
passes interleaved with untraced ones.  The last line of stdout is the JSON
result; the line before it holds the run's details (inputs, environment,
tail percentile, sample counts).  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "map_reduce485_spark"


def _env(work: Path) -> dict:
    """The process environment the engine runs under, set before Spark
    starts and recorded in the output.  Package code is not changed."""
    cpus = len(os.sched_getaffinity(0))
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    env = {
        # Python workers import the package and the word-count callables by
        # module reference
        "PYTHONPATH": os.pathsep.join([str(ROOT), str(HERE)]),
        # session.get_spark defaults to 48g; size the driver to the machine
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(4, round(mem_gb / 8)))}g",
        "SPARK_GRAFT_CPUS": str(cpus),
        # measure the scans, not an in-memory table cache
        "SPARK_GRAFT_CACHE_TABLES": "0",
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(work / "tmp"),
        # every JVM, the launcher's too, keeps its temporary files in the run
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    }
    os.environ.update(env)
    return env


def _setup_session(work: Path, tracer) -> tuple[object, dict]:
    """get_spark, registry import, one trivial action; returns the session
    and the time of each step."""
    a = time.perf_counter()
    with tracer.span("get_spark", "session"):
        from map_reduce485_spark import get_spark

        spark = get_spark("perfbench", extra_conf={"spark.sql.warehouse.dir": str(work / "warehouse")})
    b = time.perf_counter()
    with tracer.span("registry import", "queries"):
        from map_reduce485_spark.queries import _load_all

        _load_all()
    c = time.perf_counter()
    with tracer.span("first action", "session"):
        spark.range(1).count()
    d = time.perf_counter()
    return spark, {"get_spark_s": b - a, "import_s": c - b, "first_action_s": d - c}


def _wrap_public(ctx, module_prefix: str, fn_name: str, layer: str) -> None:
    """Record a span around every call of a public function, wherever a
    module of the package has bound it by name.  Spans go to the pass's
    tracer, so untraced passes record nothing."""
    targets = [
        m for name, m in list(sys.modules.items())
        if name.startswith(module_prefix) and m is not None and hasattr(m, fn_name)
    ]
    if not targets:
        return
    original = getattr(targets[0], fn_name)

    def traced(*a, **k):
        with ctx.tracer.span(fn_name, layer):
            return original(*a, **k)

    for m in targets:
        if getattr(m, fn_name) is original:
            setattr(m, fn_name, traced)


def _stop_spark() -> None:
    """Stop the active session, if any, and the JVM, and wait for both."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def _reap_children() -> None:
    import signal

    from measure import process_tree

    me = os.getpid()
    for pid in process_tree()[1:]:
        try:
            os.kill(pid, signal.SIGTERM)
        except OSError:
            pass
    deadline = time.monotonic() + 10
    while [p for p in process_tree() if p != me] and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in process_tree()[1:]:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"error: no {PACKAGE} package next to {HERE.name}/; run from a checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(HERE)]

    import gen
    import measure
    from workloads import WORKLOADS, outcome

    host0 = measure.host_cpu_ticks()

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    specs = json.loads((ROOT / "BENCHMARK.json").read_text())

    data_root = ROOT / ".perfbench_data"
    g = time.perf_counter()
    inputs, manifest = gen.ensure_inputs(data_root, args.workload, args.seed)
    gen_wall = time.perf_counter() - g
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for d in ("spark-local", "tmp", "warehouse"):
        (work / d).mkdir(parents=True)
    env = _env(work)

    tracer = measure.Tracer() if args.trace else measure.NullTracer()
    try:
        spark, steps = _setup_session(work, tracer)
        # set-up counts from process start, interpreter start-up and imports
        # included; only finding or generating the inputs is left out
        setup = measure.process_age_s() - gen_wall
        result = _measure(args, spark, steps, setup, tracer, inputs, manifest, work)
    finally:
        _stop_spark()
        _reap_children()
    details, metrics, ops = result["details"], result["metrics"], result["ops"]
    details.update(workload=args.workload, seed=args.seed, trace=args.trace, env=env)
    details["host_steal_share"] = measure.steal_share(host0, measure.host_cpu_ticks())
    if args.trace:
        details["trace_file"] = _write_trace(tracer, args)
    shutil.rmtree(work, ignore_errors=True)
    summary = outcome(ops)
    details["failed_op_ratio"] = summary["failed_op_ratio"]
    print(json.dumps(details))
    print(
        json.dumps(
            {
                "correct": summary["correct"],
                "attempted": summary["attempted"],
                "failed": summary["failed"],
                "metrics": {
                    # a layer that does no work on this workload reports 0
                    m["name"]: {"value": metrics.get(m["name"], 0) if args.trace else metrics[m["name"]], "unit": m["unit"]}
                    for m in specs["per_layer" if args.trace else "end_to_end"]
                },
            }
        )
    )
    return 0


def _measure(args, spark, steps, setup, tracer, inputs, manifest, work) -> dict:
    """Everything after the cold set-up: oracles, first pass, warm-up and
    measured passes."""
    import measure
    from workloads import WORKLOADS, Ctx

    phase = {"setup_s": setup}
    mark = time.perf_counter()

    def lap(name: str) -> None:
        nonlocal mark
        now = time.perf_counter()
        phase[name] = now - mark
        mark = now

    off = measure.NullTracer()
    wl = WORKLOADS[args.workload]()
    ctx = Ctx(spark=spark, tracer=off, inputs=inputs, work=work)
    wl.setup(ctx, manifest)
    if args.trace:  # after setup, which imports the modules that bind these
        _wrap_public(ctx, PACKAGE, "load_table", "catalog")
        _wrap_public(ctx, f"{PACKAGE}.mapreduce", "delete_output_dir", "mapreduce")
    lap("oracle_s")

    all_ops = []

    def one_pass(traced: bool) -> tuple[float, list, dict]:
        ctx.tracer = tracer if traced else off
        ctx.layer = {}
        ctx.check_s = 0.0
        ctx.pass_id += 1
        tracer.pass_id = ctx.pass_id
        a = time.perf_counter()
        ops = wl.run_pass(ctx)
        wall = time.perf_counter() - a - ctx.check_s
        all_ops.extend(ops)
        return wall, ops, ctx.layer

    first_wall, first_ops, _ = one_pass(False)
    lap("first_pass_s")
    for _ in range(wl.warmup_passes):
        one_pass(False)
    lap("warmup_s")

    cpu0 = measure.tree_cpu_s()
    walls = {False: [], True: []}
    layers, measured_ops = [], []
    m0 = time.perf_counter()
    traced = False
    while True:
        wall, ops, layer = one_pass(traced)
        walls[traced].append(wall)
        if traced:
            layers.append(layer)
        else:
            measured_ops.extend(ops)
        if args.trace:
            traced = not traced
        # whole passes only: stop when one more would end more than half a
        # pass past the measured window
        elapsed = time.perf_counter() - m0
        n = len(walls[False]) + len(walls[True])
        if elapsed + elapsed / n / 2 >= args.seconds and (not args.trace or walls[True]):
            break
    cpu_per_pass = (measure.tree_cpu_s() - cpu0) / (len(walls[False]) + len(walls[True]))
    peak_rss = measure.tree_peak_rss_mb()
    lap("measured_s")

    op_walls = [o.wall for o in measured_ops]
    by_name: dict[str, list[float]] = {}
    for o in measured_ops:
        by_name.setdefault(o.name.split("#")[0], []).append(o.wall)
    tail_v, tail_p, n_ops = measure.tail(op_walls)
    if args.trace:
        metrics = _per_layer(layers, walls)
        metrics.update(
            {
                "session.get_spark_s": steps["get_spark_s"],
                "session.first_action_s": steps["first_action_s"],
                "queries.import_s": steps["import_s"],
            }
        )
    else:
        metrics = {
            "setup_s": setup,
            "first_pass_s": first_wall,
            "throughput_rows_per_s": wl.rows_per_pass / statistics.median(walls[False]),
            "op_p50_s": statistics.median(op_walls),
            "cpu_s_per_pass": cpu_per_pass,
            "peak_rss_mb": peak_rss,
        }
    details = {
        "inputs": manifest["inputs"],
        "gen_s": manifest["gen_s"],
        "input_rows_per_pass": wl.rows_per_pass,
        "phases_s": phase,
        "setup_steps_s": steps,
        "warm_pass_walls_s": walls[False],
        "first_pass_ops_s": {o.name: o.wall for o in first_ops},
        "warm_op_median_s": {k: statistics.median(v) for k, v in by_name.items()},
        "op_tail_s": tail_v,
        "op_tail_percentile": tail_p,
        "op_samples": n_ops,
        "failures": [f"{o.name}: {o.detail}" for o in all_ops if not o.ok][:5],
    }
    return {"details": details, "metrics": metrics, "ops": all_ops}


def _per_layer(layers: list[dict], walls: dict) -> dict:
    """Per-pass means of the traced passes."""
    keys = {k for layer in layers for k in layer}
    out = {k: sum(layer.get(k, 0) for layer in layers) / len(layers) for k in keys}
    run_s = out.get("exec.run_s", 0)
    out["exec.cpu_per_run"] = out.get("exec.cpu_s", 0) / run_s if run_s else 0
    op_wall = out.pop("trace.op_wall_s", 0)
    out["trace.child_cover"] = out.pop("trace.covered_s", 0) / op_wall if op_wall else 0
    out["trace.overhead_s"] = statistics.median(walls[True]) - statistics.median(walls[False])
    return out


def _write_trace(tracer, args) -> str:
    """Write the run's spans next to the checkout's other benchmark output."""
    out_dir = ROOT / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    path = out_dir / f"trace-{args.workload}-s{args.seed}-{os.getpid()}.json"
    spans = [
        {
            "name": s.name,
            "layer": s.layer,
            "start": s.start,
            "end": s.end,
            "parent": s.parent,
            "pass": s.pass_id,
            **({"attrs": s.attrs} if s.attrs else {}),
        }
        for s in tracer.spans
    ]
    path.write_text(json.dumps(spans))
    return str(path.relative_to(ROOT))


if __name__ == "__main__":
    sys.exit(main())
