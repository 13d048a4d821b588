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

The class-data archive runs its whole life in subprocess drivers that
share one cache (`TMPDIR`): the first session records, the second
promotes and maps the archive (read back in `/proc/<jvm>/maps`), and a
truncated or unmappable archive never fails a session.

SQL kernels and RDD-path Python share one Python worker pool: a
subprocess driver runs both kinds of job and counts the worker daemons
among the JVM's children. Task errors still name the user's exception,
with pyspark's own frames cut from the traceback.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import textwrap
import zipfile

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
    with open(f"/proc/{runtime.getPid()}/maps") as f:
        archives = sorted({line.split()[-1] for line in f if line.rstrip().endswith(".jsa")})
    return {
        "gc": sorted(b.getName() for b in mf.getGarbageCollectorMXBeans()),
        "jit_scaling": float(diag.getVMOption("CompileThresholdScaling").getValue()),
        "args": list(runtime.getInputArguments()),
        "arena": [e for e in environ if e.startswith("MALLOC_ARENA_MAX=")],
        "conf_dir": [e for e in environ if e.startswith("SPARK_CONF_DIR=")],
        "archives": archives,
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
    # an archive flag comes with the archive's log tags off stdout
    if _archive_flags(facts):
        assert "-Xlog:cds*=off" in facts["args"], facts["args"]


def _archive_flags(facts: dict) -> list[str]:
    return [a for a in facts["args"] if a.startswith(
        ("-XX:SharedArchiveFile=", "-XX:ArchiveClassesAtExit="))]


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
    facts = _jvm_facts(spark)
    facts["count"] = spark.range(3).count()
    facts["marker"] = spark.sparkContext.getConf().get("spark.tts.marker", "")
    facts["java_options"] = spark.sparkContext.getConf().get(
        "spark.driver.defaultJavaOptions")
    print("FACTS", json.dumps(facts))
    spark.stop()
""")


def _facts(out: subprocess.CompletedProcess) -> dict:
    for line in out.stdout.splitlines():
        if line.startswith("FACTS "):
            facts = json.loads(line[len("FACTS "):])
            facts["notes"] = [e for e in out.stderr.splitlines()
                              if e.startswith("tin_terrain_spark:")]
            return facts
    raise AssertionError(out.stdout + out.stderr[-3000:])


def _env(**extra: str) -> dict:
    env = {k: v for k, v in os.environ.items() if k != "MALLOC_ARENA_MAX"}
    env.update(TTS_REPO=ROOT, SPARK_DRIVER_MEM="1g")
    env.update(extra)
    return env


def test_caller_java_options_add_to_the_defaults(tmp_path):
    """perfbench's shape: a caller's `extraJavaOptions` keep the defaults,
    and its heap, SPARK_DRIVER_MEM=3072m with no `spark.driver.memory` in
    the caller's conf, gets `JVM_OPTIONS` as they are."""
    from tin_terrain_spark.session import JVM_OPTIONS

    driver = tmp_path / "driver.py"
    driver.write_text(DRIVER)
    conf = json.dumps({"spark.driver.extraJavaOptions": "-XX:-UsePerfData"})
    out = subprocess.run([sys.executable, str(driver)],
                         env=_env(TTS_EXTRA_CONF=conf, SPARK_DRIVER_MEM="3072m"),
                         capture_output=True, text=True, timeout=600, cwd=tmp_path)
    facts = _facts(out)
    _check(facts, "3072m")
    assert "-XX:-UsePerfData" in facts["args"], facts["args"]
    archive = " ".join(a for a in facts["java_options"].split()
                       if a.startswith(("-XX:SharedArchiveFile=", "-XX:ArchiveClassesAtExit=",
                                        "-Xlog:cds")))
    assert facts["java_options"] == f"{JVM_OPTIONS} {archive}".strip(), facts["java_options"]


def test_caller_driver_memory_sizes_the_flags(tmp_path):
    """A caller's `spark.driver.memory` sizes the flags, not SPARK_DRIVER_MEM:
    a 1g heap gets no young-generation cap, though the environment says 12g."""
    driver = tmp_path / "driver.py"
    driver.write_text(DRIVER)
    conf = json.dumps({"spark.driver.memory": "1g"})
    out = subprocess.run([sys.executable, str(driver)],
                         env=_env(TTS_EXTRA_CONF=conf, SPARK_DRIVER_MEM="12g"),
                         capture_output=True, text=True, timeout=600, cwd=tmp_path)
    facts = _facts(out)
    _check(facts, "1g")
    assert "MaxNewSize" not in facts["java_options"], facts["java_options"]
    assert "gc,ergo" not in out.stdout, out.stdout


def _run(tmp_path, cache: str, **extra: str) -> dict:
    """One driver session with its archive cache under ``cache``."""
    driver = tmp_path / "driver.py"
    driver.write_text(DRIVER)
    out = subprocess.run([sys.executable, str(driver)], env=_env(TMPDIR=cache, **extra),
                         capture_output=True, text=True, timeout=600, cwd=tmp_path)
    return _facts(out)


@pytest.fixture(scope="module")
def archive(tmp_path_factory):
    """A cache in which one session recorded an archive and the next one
    promoted and mapped it; a pristine copy of the archive and the
    recording's claim are kept for the tests that damage them."""
    from tin_terrain_spark import session

    tmp = tmp_path_factory.mktemp("cds")
    cache = str(tmp)
    recorder = _run(tmp, cache)
    cds = os.path.join(cache, f"tts_cds_{os.getuid()}")
    (claim_path,) = [os.path.join(cds, f) for f in os.listdir(cds) if f.endswith(".json")]
    with open(claim_path) as f:
        claim = json.load(f)
    mapper = _run(tmp, cache)
    published = os.path.join(cds, f"{session._cds_key()}.jsa")
    pristine = str(tmp / "pristine.jsa")
    shutil.copy2(published, pristine)
    return {"cache": cache, "dir": cds, "published": published, "pristine": pristine,
            "claim": claim, "recorder": recorder, "mapper": mapper}


def _republish(archive: dict) -> None:
    """Put the pristine archive back at the published name, stamped as a
    promotion stamps it."""
    from tin_terrain_spark import session

    shutil.copy2(archive["pristine"], archive["published"])
    session._write_json(archive["published"] + ".ok", session._stamp(archive["published"]))


def test_second_session_maps_the_archive_the_first_recorded(archive):
    recorder, mapper, published = archive["recorder"], archive["mapper"], archive["published"]
    (flag,) = _archive_flags(recorder)
    assert flag.startswith(f"-XX:ArchiveClassesAtExit={archive['dir']}/"), flag
    assert recorder["conf_dir"] == [f"SPARK_CONF_DIR={archive['dir']}/conf"]
    assert recorder["count"] == 3 and recorder["notes"] == []
    assert archive["claim"]["classpath"].startswith(f"{archive['dir']}/conf/:")
    # the recording JVM wrote its own name; the next session promoted it
    assert _archive_flags(mapper) == [f"-XX:SharedArchiveFile={published}"]
    assert published in mapper["archives"], mapper["archives"]
    assert mapper["count"] == 3 and mapper["notes"] == []
    _check(mapper, "1g")
    # the recording's claim went with the promotion
    assert sorted(os.listdir(archive["dir"])) == sorted(
        ["conf", os.path.basename(published), os.path.basename(published) + ".ok"])


def test_truncated_archive_never_reaches_a_jvm(archive, tmp_path):
    """A truncated archive, published or pending, is removed before any
    session's JVM sees it; mapped, it would crash that JVM."""
    from tin_terrain_spark import session

    cds, published, claim = archive["dir"], archive["published"], archive["claim"]
    _republish(archive)
    key = os.path.basename(published).removesuffix(".jsa")
    half = os.path.getsize(published) // 2
    # published: cut in place after its promotion
    os.chmod(published, 0o644)
    os.truncate(published, half)
    # pending: a finished recording (its JVM exited) cut short
    pending = os.path.join(cds, f"{key}.rec-truncated.jsa")
    shutil.copy(archive["pristine"], pending)
    os.truncate(pending, half)
    with open(os.path.join(cds, f"{key}.rec-truncated.json"), "w") as f:
        json.dump(claim, f)
    # a JVM that maps it dies instead of falling back
    crash = subprocess.run([claim["java"], f"-XX:SharedArchiveFile={pending}",
                            "-XX:-CreateCoredumpOnCrash", "-XX:+SuppressFatalErrorMessage",
                            "-cp", claim["classpath"], "-version"],
                           capture_output=True, timeout=120, cwd=tmp_path)
    assert crash.returncode != 0
    # another JVM records (this process stands in for it), so the session
    # neither maps nor records: only the checks run
    live = os.path.join(cds, f"{key}.rec-live.json")
    with open(live, "w") as f:
        json.dump({"pid": os.getpid(), "start": session._started(os.getpid())}, f)
    try:
        facts = _run(tmp_path, archive["cache"])
    finally:
        os.remove(live)
    assert facts["count"] == 3 and facts["notes"] == []
    assert _archive_flags(facts) == []
    assert facts["conf_dir"] != [f"SPARK_CONF_DIR={cds}/conf"], facts["conf_dir"]
    assert not any(f.endswith(".jsa") for f in os.listdir(cds)), os.listdir(cds)


def test_unmapped_archive_is_reported_and_removed(archive, tmp_path):
    """A session whose JVM falls back without its archive (here: a
    classpath the archive was not recorded on) says so on stderr and
    removes the archive, so that the next session records a new one."""
    _republish(archive)
    extra = tmp_path / "extra.jar"
    with zipfile.ZipFile(extra, "w") as z:
        z.writestr("META-INF/MANIFEST.MF", "Manifest-Version: 1.0\n")
    conf = json.dumps({"spark.driver.extraClassPath": str(extra)})
    facts = _run(tmp_path, archive["cache"], TTS_EXTRA_CONF=conf)
    assert facts["count"] == 3
    assert _archive_flags(facts) == [f"-XX:SharedArchiveFile={archive['published']}"]
    assert archive["published"] not in facts["archives"], facts["archives"]
    assert len(facts["notes"]) == 1 and "did not map" in facts["notes"][0], facts["notes"]
    assert not os.path.exists(archive["published"])


def test_user_spark_conf_dir_skips_the_archive(archive, tmp_path):
    """A user's SPARK_CONF_DIR stays the JVM's: its spark-defaults.conf is
    read, and the session runs without an archive and says so once."""
    _republish(archive)
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf").write_text("spark.tts.marker yes\n")
    facts = _run(tmp_path, archive["cache"], SPARK_CONF_DIR=str(conf_dir))
    assert facts["count"] == 3 and facts["marker"] == "yes"
    assert facts["conf_dir"] == [f"SPARK_CONF_DIR={conf_dir}"]
    assert _archive_flags(facts) == []
    assert facts["notes"] == ["tin_terrain_spark: SPARK_CONF_DIR is set; "
                              "the JVM starts without a class-data archive"]


@pytest.mark.skipif(shutil.which("spark-submit") is None, reason="no spark-submit")
def test_scaling_legs_run_the_same_jvm(archive, tmp_path, monkeypatch):
    """run_scaling.py's legs: spark-submit launches the JVM, get_spark's
    builder conf comes too late, `submit` passes the flags itself, the
    class-data archive's included: the leg maps the archive that
    get_spark's sessions recorded."""
    import tempfile

    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    try:
        from run_scaling import build_pyfiles_zip, submit
    finally:
        sys.path.pop(0)
    _republish(archive)
    zip_path = build_pyfiles_zip(str(tmp_path / "tin_terrain_spark.zip"))
    driver = tmp_path / "driver.py"
    driver.write_text(DRIVER)
    # submit finds the archive where this process's temp dir is
    monkeypatch.setattr(tempfile, "tempdir", archive["cache"])
    # 4g: over 3 GB, so the young generation cap must come too
    facts = _facts(submit(str(driver), zip_path, _env(SPARK_DRIVER_MEM="4g")))
    _check(facts, "4g")
    assert _archive_flags(facts) == [f"-XX:SharedArchiveFile={archive['published']}"]
    assert archive["published"] in facts["archives"], facts["archives"]
    assert facts["notes"] == []


POOL_DRIVER = textwrap.dedent("""
    import json, os, sys
    sys.path.insert(0, os.environ["TTS_REPO"])
    from pyspark.sql import functions as F
    from tin_terrain_spark.session import get_spark

    spark = get_spark("session_pool", cores=2)
    facts = {}
    # the SQL runners (Arrow and pickled UDFs) and the RDD path
    df = spark.range(0, 8, 1, 2)
    facts["arrow"] = df.mapInArrow(lambda it: it, "id long").count()
    plus = F.pandas_udf(lambda s: s + 1, "long")
    facts["pandas"] = sum(r[0] for r in df.select(plus("id")).collect())
    facts["udf"] = sum(r[0] for r in df.select(F.udf(lambda x: x + 1, "long")("id")).collect())
    facts["rows"] = spark.createDataFrame([(1, "a"), (2, "b")], "a int, b string").count()
    jvm = spark._jvm.java.lang.ProcessHandle.current().pid()
    facts["children"] = []
    for task in os.listdir(f"/proc/{jvm}/task"):
        with open(f"/proc/{jvm}/task/{task}/children") as f:
            for pid in f.read().split():
                with open(f"/proc/{pid}/cmdline", "rb") as g:
                    facts["children"].append(g.read().decode().split("\\0"))

    def boom(batches):
        for b in batches:
            1 // 0
            yield b

    for name, job in (
        ("rdd_error", lambda: spark.sparkContext.parallelize([1]).map(lambda x: 1 // 0).collect()),
        ("arrow_error", lambda: spark.range(1).mapInArrow(boom, "id long").collect()),
    ):
        try:
            job()
        except Exception as e:
            facts[name] = str(e)
    print("FACTS", json.dumps(facts))
    spark.stop()
""")


@pytest.fixture(scope="module")
def pool(tmp_path_factory):
    """Facts of one subprocess session that ran a mapInArrow, a pandas_udf,
    an F.udf and a list-form createDataFrame job, then two failing jobs."""
    tmp = tmp_path_factory.mktemp("pool")
    driver = tmp / "driver.py"
    driver.write_text(POOL_DRIVER)
    out = subprocess.run([sys.executable, str(driver)], env=_env(), capture_output=True,
                         text=True, timeout=600, cwd=tmp)
    return _facts(out)


def test_sql_and_rdd_python_share_one_worker_pool(pool):
    assert (pool["arrow"], pool["pandas"], pool["udf"], pool["rows"]) == (8, 36, 36, 2)
    daemons = [c for c in pool["children"] if "-m tin_terrain_spark.pyworker" in " ".join(c)]
    assert len(daemons) == 1, pool["children"]


def test_rdd_task_error_names_the_user_exception(pool):
    assert "ZeroDivisionError" in pool["rdd_error"], pool["rdd_error"]
    assert "in <lambda>" in pool["rdd_error"], pool["rdd_error"]


def test_sql_task_error_keeps_the_simplified_traceback(pool):
    err = pool["arrow_error"]
    assert "ZeroDivisionError" in err and "in boom" in err, err
    # pyspark's own frames are cut: the traceback starts at the user's code
    assert "pyspark/worker.py" not in err and "pyspark/sql/" not in err, err
