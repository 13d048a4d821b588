"""Repository benchmark: one workload per run, on local[nproc] from one
driver process.

    python3 perfbench/run.py --workload pyramid --seed 1 --seconds 5 --trace 0

Run from the repository root. Set-up (Spark session start, warm-up,
seeded input generation) is timed as `setup_s`; then the workload's
operation runs in a closed loop for `--seconds`, every output is
checked, and the last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the run alternates
untraced and traced operations and reports the per-layer metrics,
writing every span to .perfbench_work/traces/.

Everything the run writes stays under .perfbench_work/ in the
repository root; the Spark JVM and its Python workers are stopped and
waited for before the result is printed.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEM_MB = 3072  # leaves room for nproc Python workers on a 15 GB host

END_TO_END = {
    "setup_s": "s",
    "op_cpu_s": "s",
    "peak_rss_mb": "MB",
}


def _args():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _isolate(run_dir: str) -> None:
    """Point every scratch location the run touches into the checkout:
    the JVM's and Python's temp dirs, Spark's block/shuffle dirs and
    the native-kernel build cache (which lives under TMPDIR, kept
    across runs so only the first run of a checkout compiles)."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(run_dir, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = f"{DRIVER_MEM_MB}m"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = None


class Context:
    """What every workload shares: the session, the seeded generator,
    the run's scratch dir, the core count, the Spark counters and an
    untraced (no-op) tracer."""

    def __init__(self, spark, rng, run_dir, cores, counters, untraced):
        self.spark = spark
        self.rng = rng
        self.run_dir = run_dir
        self.cores = cores
        self.counters = counters
        self.untraced = untraced


def _stop(spark) -> None:
    """Stop Spark and wait until the JVM and every Python worker ended."""
    from perfbench.probes import descendants

    kids = descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 20
    while time.time() < deadline:
        alive = [p for p in kids if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def main() -> int:
    args = _args()
    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("tin_terrain_spark") is None:
        print("perfbench: the program (tin_terrain_spark) is not in this checkout",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    _isolate(run_dir)
    import numpy as np

    from tin_terrain_spark.kernels import native
    from tin_terrain_spark.session import get_spark

    from perfbench.probes import PeakRss, SparkCounters, Tracer, cpu_seconds
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    rss = PeakRss()
    # the native mesh kernel compiles once per checkout (cached under
    # .perfbench_work/tmp); building it here keeps that one-off out of
    # setup_s, so the first run of a checkout sets up like the others
    b0 = time.perf_counter()
    native.native_available()
    native_build_s = time.perf_counter() - b0
    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        cores=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # the heap is fixed and touched at start, so it is resident
            # on every run alike and peak_rss_mb can leave it out
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData "
                f"-Xms{DRIVER_MEM_MB}m -XX:+AlwaysPreTouch"
            ),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        tracer = Tracer(args.trace == 1)
        ctx = Context(spark, np.random.default_rng(args.seed), run_dir, cores,
                      SparkCounters(spark), Tracer(False))
        wl = WORKLOADS[args.workload](ctx)
        t1 = time.perf_counter()
        wl.setup()
        t2 = time.perf_counter()
        wl.warmup()
        setup_s = time.perf_counter() - t0
        rss.sample()
        c0 = cpu_seconds()
        result = _measure(args, wl, ctx, tracer, rss)
        result["cpu_s"] = cpu_seconds() - c0
        t3 = time.perf_counter()
        result["setup_s"] = setup_s
        result["setup_phases_s"] = {"native_build": native_build_s, "session": t1 - t0,
                                    "inputs": t2 - t1, "warmup": t0 + setup_s - t2}
    except Exception:
        traceback.print_exc()
        _stop(spark)
        return 1
    _stop(spark)
    shutil.rmtree(run_dir, ignore_errors=True)
    if not result["walls"]:
        print("perfbench: no operation completed:", *result["failures"][:20],
              sep="\n  ", file=sys.stderr)
        return 1
    result["teardown_s"] = time.perf_counter() - t3
    out = _report(args, wl, result, tracer, rss)
    print(json.dumps(out))
    return 0


def _measure(args, wl, ctx, tracer, rss) -> dict:
    """Closed loop: the next operation starts when the previous one
    (and its output check) is done, until --seconds of operations ran.
    In a traced run, untraced and traced operations alternate."""
    from perfbench.probes import cpu_seconds, cpu_ticks

    walls, traced_walls, failures, layer, steal, op_cpu = [], [], [], {}, [], []
    spark_tot: dict[str, int] = {}
    items = attempted = failed = n_traced = 0
    busy = 0.0
    while busy < args.seconds or (args.trace and not n_traced):
        traced = args.trace == 1 and len(walls) > n_traced
        attempted += 1
        group = ctx.counters.start_group() if args.trace and not traced else None
        try:
            ticks, cpu = cpu_ticks(), cpu_seconds()
            a = time.perf_counter()
            if traced:
                n_traced += 1
                tracer.op_id += 1
                with tracer.span("op"):
                    n, res = wl.traced_op(tracer, layer)
            else:
                n, res = wl.op(ctx.untraced)
            wall = time.perf_counter() - a
            busy += wall
            if traced:
                traced_walls.append(wall)
            else:
                walls.append(wall)
                items += n
                op_cpu.append(cpu_seconds() - cpu)
                # the host's steal share during the op: on a shared
                # virtual machine it explains most of the wall drift
                end = cpu_ticks()
                steal.append((end[0] - ticks[0]) / max(end[1] - ticks[1], 1))
            if group is not None:
                for k, v in ctx.counters.group_totals(group).items():
                    spark_tot[k] = spark_tot.get(k, 0) + v
            bad = wl.check(res)
        except Exception as e:
            traceback.print_exc()
            busy += time.perf_counter() - a  # a failing op still uses the window
            bad = [f"{type(e).__name__}: {e}"]
        rss.sample()
        if bad:
            failed += 1
            failures.extend(bad)
    bad = wl.final_checks()
    if bad:
        failed += 1
        failures.extend(bad)
    if args.trace and walls:
        for k, v in spark_tot.items():
            layer[f"spark.{k}"] = v / len(walls)
        if traced_walls:
            layer["trace.overhead_s"] = (
                statistics.median(traced_walls) - statistics.median(walls)
            )
    return {
        "walls": walls, "items": items, "attempted": attempted, "failed": failed,
        "failures": failures, "layer": layer, "traced_walls": traced_walls,
        "steal": steal, "op_cpu": op_cpu,
    }


def _report(args, wl, r, tracer, rss) -> dict:
    walls = r["walls"]
    busy = sum(walls)
    summary = {
        "workload": args.workload, "seed": args.seed, "item": wl.item,
        "ops": len(walls), "items": r["items"], "setup_phases_s": r["setup_phases_s"],
        "busy_s": busy, "cpu_s": r["cpu_s"], "teardown_s": r["teardown_s"],
        "rss_parts_mb": [round(k / 1024) for k in rss.parts_kb],
        "wall_s": {"p50": statistics.median(walls), "samples": len(walls)},
        "items_per_s": r["items"] / busy, "steal_share": r["steal"],
        "failures": r["failures"][:20],
    }
    print(json.dumps(summary))
    for f in r["failures"][:20]:
        print(f"CHECK FAILED: {f}", file=sys.stderr)
    if args.trace == 0:
        values = {
            "setup_s": r["setup_s"],
            "op_cpu_s": statistics.median(r["op_cpu"]),
            "peak_rss_mb": rss.mb - DRIVER_MEM_MB,
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
    else:
        metrics = _layer_metrics(args, r, tracer)
    return {
        "correct": r["failed"] == 0,
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": metrics,
    }


def _layer_metrics(args, r, tracer) -> dict:
    from tin_terrain_spark.kernels import native

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer"]
    layer = dict(r["layer"])
    layer["kernels.native"] = 1 if native.native_available() else 0
    selfs = tracer.self_times(tracer.op_id)
    layer["trace.op_self_s"] = selfs.get("op", 0.0)
    tracer.write(
        os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json"),
        {"workload": args.workload, "seed": args.seed,
         "untraced_walls": r["walls"], "traced_walls": r["traced_walls"],
         "self_s": {op: tracer.self_times(op) for op in range(1, tracer.op_id + 1)},
         "values": layer},
    )
    return {
        m["name"]: {"value": float(layer.get(m["name"], 0)), "unit": m["unit"]}
        for m in spec
    }


if __name__ == "__main__":
    sys.exit(main())
