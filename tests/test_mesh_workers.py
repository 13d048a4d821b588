"""The mesh stage's Python workers stay pandas-free.

The stage is a mapInArrow over NumPy views of the Arrow buffers; a
worker that unpickles the kernel imports `operators.meshing`, so one
pandas import there (or a pyarrow call that imports it lazily) would
load pandas into every mesh worker again (~37 MB of RSS each). The
check runs in a fresh session: the workers of a shared test session
may hold pandas from other tests.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DRIVER = textwrap.dedent("""
    import os, sys
    sys.path.insert(0, os.environ["TTS_REPO"])
    from perfbench.probes import descendants
    from tin_terrain_spark.pipeline.dem2tintiles import build_tile_pyramid
    from tin_terrain_spark.session import get_spark

    spark = get_spark("mesh_workers", cores=2)
    docs = spark.range(2000).selectExpr("id * 7919 + 1 AS doc_id")
    manifest = build_tile_pyramid(spark, docs, os.environ["TTS_OUT"],
                                  min_zoom=2, max_zoom=2, resume=False)
    print("TILES", manifest[2]["n_tiles"])
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{pid}/maps") as f:
                maps = f.read()
        except OSError:
            continue
        if comm != "java":
            print("PYTHON", pid, "pandas/_libs" in maps)
    spark.stop()
""")


def test_pyramid_mesh_workers_do_not_load_pandas(tmp_path):
    driver = tmp_path / "driver.py"
    driver.write_text(DRIVER)
    env = dict(os.environ, TTS_REPO=ROOT, TTS_OUT=str(tmp_path / "tiles"),
               SPARK_DRIVER_MEM="1g")
    out = subprocess.run([sys.executable, str(driver)], env=env, capture_output=True,
                         text=True, timeout=600, cwd=tmp_path)
    assert "TILES 16" in out.stdout, out.stdout + out.stderr[-3000:]
    procs = [line.split()[1:] for line in out.stdout.splitlines()
             if line.startswith("PYTHON ")]
    # the worker daemon and at least one forked mesh worker
    assert len(procs) >= 2, out.stdout
    assert [pid for pid, pandas in procs if pandas == "True"] == [], out.stdout
