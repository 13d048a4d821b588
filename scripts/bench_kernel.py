"""Single-core kernel throughput — the figure comparable to the
reference's published terra number (tntn_benchmarks.csv: 17.0M cells in
16.4 s single-thread ≈ 1.03M cells/s/core on a smooth real DEM).

Workloads (default: smooth + noise; `tile`, `worker`, `mesh-rss` on request):
  smooth   512x512 smooth synthetic DEM (Crater-Lake-like relief,
           ~3% of cells inserted at max_error=2) — the apples-to-apples
           case: greedy meshing cost is dominated by triangle scans.
  noise    68x68 hash-noise tile (the engine's actual web-point
           workload shape, ~70% of cells inserted) — the worst case
           for greedy refinement; no published reference figure exists
           for this regime.
  tile     `python scripts/bench_kernel.py tile`: the pyramid's whole
           per-tile kernel (meshing._make_tile_fn: grid assembly, terra,
           normalize, clip, quantized-mesh encode) on seeded sparse
           36x36 zoom-6 tiles with ~15 and ~60 occupied cells, the
           pyramid's shape. Reports per-tile CPU-ms for the native path
           and for the pure-Python fallback (TTS_NO_NATIVE=1), each in
           its own process.
  worker   `python scripts/bench_kernel.py worker`: the fixed cost of a
           Python task in a reused worker. Python-worker CPU-ms per task
           of an empty mapInPandas over 32 partitions in a get_spark
           session, read from /proc of the session's non-JVM descendant
           processes (the daemon and its workers) over 4 such jobs
           after a warm-up job. ~20 s.
  mesh-rss `python scripts/bench_kernel.py mesh-rss`: the memory of the
           mesh stage's Python workers. mesh_tiles (terra) over 48k
           seeded pages at the pyramid benchmark's shape (zoom 6, grid
           5, buffer 2) in a fresh get_spark session, then each Python
           worker's peak RSS (VmHWM) and whether it maps pandas'
           compiled libraries, from /proc of the session's non-JVM
           descendant processes. ~20 s.

Prints one JSON line; run_scaling.py embeds it in BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tin_terrain_spark.kernels.raster import Grid  # noqa: E402
from tin_terrain_spark.kernels.terra import generate_tin_terra  # noqa: E402
from tin_terrain_spark.kernels.zemlya import generate_tin_zemlya  # noqa: E402


def best_of(fn, reps=3):
    best = float("inf")
    out = None
    for _ in range(reps):
        t0 = time.time()
        out = fn()
        best = min(best, time.time() - t0)
    return best, out


def main() -> None:
    n = 512
    x = np.linspace(0, 6, n)
    X, Y = np.meshgrid(x, x)
    smooth = (
        np.sin(X) * np.cos(Y * 0.7) * 400
        + np.exp(-((X - 3) ** 2 + (Y - 3) ** 2)) * 800
        + X * 30
    )
    t_s, (v_s, f_s) = best_of(lambda: generate_tin_terra(Grid(smooth.copy()), 2.0))
    t_s_py, (v_s_py, _) = best_of(
        lambda: generate_tin_terra(Grid(smooth.copy()), 2.0, use_native=False), 1
    )
    assert len(v_s_py) == len(v_s)

    m = 68
    rng = np.random.RandomState(7)
    xx = np.linspace(0, 1, m)
    XX, YY = np.meshgrid(xx, xx)
    noise = np.sin(XX * 9) * np.cos(YY * 7) * 30 + rng.rand(m, m) * 8
    t_n, (v_n, f_n) = best_of(lambda: generate_tin_terra(Grid(noise.copy()), 2.0), 5)
    t_z, (v_z, f_z) = best_of(lambda: generate_tin_zemlya(Grid(noise.copy()), 2.0))

    print(
        json.dumps(
            {
                "terra_smooth_512": {
                    "sec": round(t_s, 3),
                    "cells_per_sec": round(n * n / t_s),
                    "verts": len(v_s),
                    "insert_frac": round(len(v_s) / (n * n), 4),
                },
                "terra_noise_68": {
                    "sec": round(t_n, 4),
                    "cells_per_sec": round(m * m / t_n),
                    "verts": len(v_n),
                    "insert_frac": round(len(v_n) / (m * m), 4),
                },
                "zemlya_noise_68": {"sec": round(t_z, 4), "verts": len(v_z)},
                "terra_smooth_512_python_fallback": {
                    "sec": round(t_s_py, 3),
                    "cells_per_sec": round(n * n / t_s_py),
                },
                "native_kernel": __import__(
                    "tin_terrain_spark.kernels.native", fromlist=["native_available"]
                ).native_available(),
                "reference_terra_cells_per_sec_per_core": 1030000,
            }
        )
    )


TILE_ZOOM, TILE_GRID_BITS, TILE_BUFFER = 6, 5, 2


def _tile_inputs(n_tiles: int, n_cells: int, seed: int):
    """Seeded sparse tiles in _make_tile_fn's input form: (tile_x,
    tile_y, row_b, col_b, z_sum, z_cnt), `n_cells` occupied cells of the
    buffered 36x36 raster, heights in the pyramid DEM's +-110 m band."""
    rng = np.random.RandomState(seed)
    size = (1 << TILE_GRID_BITS) + 2 * TILE_BUFFER
    tiles = []
    for _ in range(n_tiles):
        idx = np.sort(rng.choice(size * size, n_cells, replace=False))
        cnt = rng.randint(1, 4, n_cells).astype(np.int64)
        z_sum = (rng.rand(n_cells) * 220.0 - 110.0) * cnt
        tx, ty = (int(v) for v in rng.randint(0, 1 << TILE_ZOOM, 2))
        tiles.append((tx, ty, (idx // size).astype(np.int32),
                      (idx % size).astype(np.int32), z_sum, cnt))
    return tiles


def tile_run(n_tiles: int) -> dict:
    """Per-tile CPU-ms of the tile kernel in THIS process (native or
    fallback, whichever kernels.native resolved), best of 3 passes."""
    from tin_terrain_spark.functions.geocode_exprs import tile_size_meters
    from tin_terrain_spark.kernels import native
    from tin_terrain_spark.operators.meshing import _make_tile_fn

    # the pyramid's per-zoom default max_error (dem2tintiles)
    max_error = tile_size_meters(TILE_ZOOM + TILE_GRID_BITS) / 10000.0
    fn = _make_tile_fn(TILE_ZOOM, TILE_GRID_BITS, TILE_BUFFER, "terra",
                       max_error, 1, False, True)
    out = {"native_kernel": native.native_available()}
    for n_cells, seed in ((15, 1), (60, 2)):
        tiles = _tile_inputs(n_tiles, n_cells, seed)
        best = float("inf")
        for _ in range(3):
            t0 = time.process_time()
            rows = [fn(*t) for t in tiles]
            best = min(best, time.process_time() - t0)
        out[f"cells_{n_cells}"] = {
            "cpu_ms_per_tile": round(1000 * best / n_tiles, 4),
            "tiles": n_tiles,
            "mean_faces": round(sum(r["n_faces"] for r in rows) / n_tiles, 1),
        }
    return out


def tile_main() -> None:
    """The `tile` workload: one child process per backend, so the
    native library's once-per-process gating sees TTS_NO_NATIVE."""
    res = {}
    for name, extra, n_tiles in (("native", {}, 2000),
                                 ("no_native", {"TTS_NO_NATIVE": "1"}, 100)):
        env = {k: v for k, v in os.environ.items() if k != "TTS_NO_NATIVE"}
        env.update(extra)
        r = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "tile-run", str(n_tiles)],
            env=env, capture_output=True, text=True, check=True,
        )
        res[name] = json.loads(r.stdout.strip().splitlines()[-1])
    print(json.dumps({"tile": res}))


WORKER_TASKS, WORKER_JOBS = 32, 4


def _passthrough(batches):
    yield from batches


def _python_procs(*names: str):
    """(pid, {name: text of /proc/<pid>/<name>}) for each live non-JVM
    descendant of this process: the Python worker daemon and its forked
    workers."""
    from perfbench.probes import descendants

    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    continue
            files = {}
            for name in names:
                with open(f"/proc/{pid}/{name}") as f:
                    files[name] = f.read()
        except OSError:
            continue
        yield pid, files


def _python_worker_cpu_s() -> dict[int, float]:
    """User + system CPU-s of each Python worker process."""
    tick = os.sysconf("SC_CLK_TCK")
    out = {}
    for pid, files in _python_procs("stat"):
        fields = files["stat"].rsplit(")", 1)[1].split()
        out[pid] = (int(fields[11]) + int(fields[12])) / tick
    return out


def worker_main() -> None:
    """The `worker` workload (see the module docstring)."""
    from tin_terrain_spark.session import get_spark

    spark = get_spark("bench_worker", cores=len(os.sched_getaffinity(0)))
    df = spark.range(0, WORKER_TASKS, 1, WORKER_TASKS).mapInPandas(_passthrough, "id long")
    df.collect()  # warm-up: starts the daemon and its workers
    before = _python_worker_cpu_s()
    for _ in range(WORKER_JOBS):
        df.collect()
    after = _python_worker_cpu_s()
    daemon = spark.conf.get("spark.python.daemon.module", "pyspark.daemon")
    spark.stop()
    cpu_s = sum(t - before.get(pid, 0.0) for pid, t in after.items())
    print(json.dumps({"worker": {
        "daemon_module": daemon,
        "tasks": WORKER_TASKS * WORKER_JOBS,
        "processes": len(after),
        "cpu_ms_per_task": round(1000 * cpu_s / (WORKER_TASKS * WORKER_JOBS), 2),
    }}))


MESH_RSS_PAGES, MESH_RSS_SEED = 48_000, 9001


def _python_processes() -> list[dict]:
    """Each Python worker process: role (the daemon, or a worker it
    forked), peak RSS in MB, whether it maps pandas' compiled
    libraries."""
    out = []
    for pid, files in _python_procs("status", "maps"):
        status = dict(line.split(":", 1) for line in files["status"].splitlines())
        if "VmHWM" not in status:  # a zombie: no memory left to read
            continue
        out.append({"pid": pid, "ppid": int(status["PPid"]),
                    "vmhwm_mb": round(int(status["VmHWM"].split()[0]) / 1024, 1),
                    "pandas": "pandas/_libs" in files["maps"]})
    pids = {p["pid"] for p in out}
    for p in out:
        p["role"] = "worker" if p.pop("ppid") in pids else "daemon"
    return out


def mesh_rss_main() -> None:
    """The `mesh-rss` workload (see the module docstring)."""
    from perfbench.inputs import id_space
    from tin_terrain_spark.functions.geocode_exprs import tile_size_meters
    from tin_terrain_spark.operators.geocode import geocode_points
    from tin_terrain_spark.operators.meshing import mesh_tiles
    from tin_terrain_spark.session import get_spark

    ids = id_space(np.random.default_rng(MESH_RSS_SEED), MESH_RSS_PAGES)
    base, stride = int(ids[0]), int(ids[1] - ids[0])
    spark = get_spark("bench_mesh_rss", cores=len(os.sched_getaffinity(0)))
    docs = spark.range(MESH_RSS_PAGES).selectExpr(f"{base} + {stride} * id AS doc_id")
    pts = geocode_points(docs, zoom=TILE_ZOOM, grid_bits=TILE_GRID_BITS)
    max_error = tile_size_meters(TILE_ZOOM + TILE_GRID_BITS) / 10000.0
    tiles = mesh_tiles(pts, TILE_ZOOM, TILE_GRID_BITS, TILE_BUFFER, "terra", max_error).count()
    procs = _python_processes()
    spark.stop()
    workers = [p for p in procs if p["role"] == "worker"]
    print(json.dumps({"mesh_rss": {
        "tiles": tiles,
        "workers": len(workers),
        "workers_mapping_pandas": sum(p["pandas"] for p in workers),
        "processes": procs,
    }}))


if __name__ == "__main__":
    if sys.argv[1:2] == ["worker"]:
        worker_main()
    elif sys.argv[1:2] == ["mesh-rss"]:
        mesh_rss_main()
    elif sys.argv[1:2] == ["tile"]:
        tile_main()
    elif sys.argv[1:2] == ["tile-run"]:
        print(json.dumps(tile_run(int(sys.argv[2]))))
    else:
        main()
