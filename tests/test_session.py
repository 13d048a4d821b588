"""The JVM that `get_spark` builds: the Parallel collector, the metaspace
GC threshold, the JIT compile thresholds scaled ×4, the young generation
cap of a heap over 3 GB and the malloc arena cap.

Each flag is checked in the running JVM where it can be read back: the
collector by its GC MXBeans, the compile threshold scaling by the
HotSpot diagnostic MXBean's value of the flag (not only its presence in
the argument list), the arena cap in `/proc/<jvm>/environ`.

`get_spark` sets `jvm_options(<driver memory>)` as Spark's
`defaultJavaOptions`, which Spark puts before a caller's
`extraJavaOptions`, so perfbench's own flags add to them. spark-submit
starts its JVM before the driver calls `get_spark`;
`scripts/run_scaling.submit` passes the same flags and environment on
its command line.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import textwrap

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def spark():
    from tin_terrain_spark.session import get_spark

    s = get_spark("session", cores=4)
    yield s
    s.stop()


def _jvm_facts(spark) -> dict:
    mf = spark._jvm.java.lang.management.ManagementFactory
    runtime = mf.getRuntimeMXBean()
    with open(f"/proc/{runtime.getPid()}/environ", "rb") as f:
        environ = f.read().decode(errors="replace").split("\0")
    diag = mf.getPlatformMXBean(
        spark._jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
    return {
        "gc": sorted(b.getName() for b in mf.getGarbageCollectorMXBeans()),
        "jit_scaling": float(diag.getVMOption("CompileThresholdScaling").getValue()),
        "args": list(runtime.getInputArguments()),
        "arena": [e for e in environ if e.startswith("MALLOC_ARENA_MAX=")],
    }


def _check(facts: dict, driver_memory: str, arena: str = "2") -> None:
    from tin_terrain_spark.session import jvm_options

    assert facts["gc"] == ["PS MarkSweep", "PS Scavenge"], facts["gc"]
    assert "-XX:+UseParallelGC" in facts["args"], facts["args"]
    assert "-XX:MetaspaceSize=256m" in facts["args"], facts["args"]
    assert facts["jit_scaling"] == 4.0, facts["jit_scaling"]
    young = [a for a in facts["args"] if a.startswith("-XX:MaxNewSize=")]
    assert young == [a for a in jvm_options(driver_memory).split()
                     if a.startswith("-XX:MaxNewSize=")], facts["args"]
    assert facts["arena"] == [f"MALLOC_ARENA_MAX={arena}"], facts["arena"]


def test_jvm_options_cap_the_young_generation_over_3g():
    from tin_terrain_spark.session import JVM_OPTIONS, jvm_options

    capped = JVM_OPTIONS + " -XX:MaxNewSize=1024m"
    for mem in ("12g", "12G", "4096", "3073m", "1t"):
        assert jvm_options(mem) == capped, mem
    # perfbench's fixed 3 GB heap and the tests' 1 GB subprocesses: the
    # collector's default young generation, a third of the heap
    for mem in ("3072m", "3g", "1g", "512m", "1024"):
        assert jvm_options(mem) == JVM_OPTIONS, mem


def test_suite_jvm_runs_parallel_gc_and_arena_cap(spark):
    # get_spark lets a value already in the environment stand; the
    # subprocess cases below check the default of 2
    arena = os.environ["MALLOC_ARENA_MAX"]
    _check(_jvm_facts(spark), os.environ.get("SPARK_DRIVER_MEM", "12g"), arena)
    # the Python workers inherit the JVM's environment
    arenas = spark.range(0, 2, 1, 2).rdd.map(
        lambda _: os.environ.get("MALLOC_ARENA_MAX")).collect()
    assert arenas == [arena, arena]


DRIVER = textwrap.dedent("""
    import json, os, sys
    sys.path.insert(0, os.environ["TTS_REPO"])
    sys.path.insert(0, os.path.join(os.environ["TTS_REPO"], "tests"))
    from tin_terrain_spark.session import get_spark
    from test_session import _jvm_facts

    conf = json.loads(os.environ.get("TTS_EXTRA_CONF", "{}"))
    spark = get_spark("session_subprocess", cores=1, extra_conf=conf)
    print("FACTS", json.dumps(_jvm_facts(spark)))
    spark.stop()
""")


def _facts(out: subprocess.CompletedProcess) -> dict:
    for line in out.stdout.splitlines():
        if line.startswith("FACTS "):
            return json.loads(line[len("FACTS "):])
    raise AssertionError(out.stdout + out.stderr[-3000:])


def _env(**extra: str) -> dict:
    env = {k: v for k, v in os.environ.items() if k != "MALLOC_ARENA_MAX"}
    env.update(TTS_REPO=ROOT, SPARK_DRIVER_MEM="1g")
    env.update(extra)
    return env


def test_caller_java_options_add_to_the_defaults(tmp_path):
    """perfbench's shape: a caller's `extraJavaOptions` keep the defaults."""
    driver = tmp_path / "driver.py"
    driver.write_text(DRIVER)
    conf = json.dumps({"spark.driver.extraJavaOptions": "-XX:-UsePerfData"})
    out = subprocess.run([sys.executable, str(driver)], env=_env(TTS_EXTRA_CONF=conf),
                         capture_output=True, text=True, timeout=600, cwd=tmp_path)
    facts = _facts(out)
    _check(facts, "1g")
    assert "-XX:-UsePerfData" in facts["args"], facts["args"]


@pytest.mark.skipif(shutil.which("spark-submit") is None, reason="no spark-submit")
def test_scaling_legs_run_the_same_jvm(tmp_path):
    """run_scaling.py's legs: spark-submit launches the JVM, get_spark's
    builder conf comes too late, `submit` passes the flags itself."""
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    try:
        from run_scaling import build_pyfiles_zip, submit
    finally:
        sys.path.pop(0)
    zip_path = build_pyfiles_zip(str(tmp_path / "tin_terrain_spark.zip"))
    driver = tmp_path / "driver.py"
    driver.write_text(DRIVER)
    # 4g: over 3 GB, so the young generation cap must come too
    _check(_facts(submit(str(driver), zip_path, _env(SPARK_DRIVER_MEM="4g"))), "4g")
