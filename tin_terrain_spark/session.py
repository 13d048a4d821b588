"""SparkSession builder with the engine's standard configuration.

Every caller (the CLI, ``bench.py``, ``perfbench``, the tests) builds
its session here, so JVM-wide settings are fixed in one place. One of
them is the size of Spark's generated-code cache: Spark compiles each
whole-stage-codegen plan to a Java class with Janino and keeps the
compiled class in a cache keyed on the generated source. The cache is
a static of the JVM, sized once at the JVM's first codegen from the
static conf ``spark.sql.codegen.cache.maxEntries``; a session built
later in the same JVM cannot resize it. When one operation's plans
need more classes than the cache holds, the classes evict one another
and every call compiles (and the JIT recompiles) its plans again. The
catalog benchmark operation needs 132 classes, more than Spark's
default of 100; ``CODEGEN_CACHE_ENTRIES`` records the measurement.

Another is the Python worker daemon, ``PYTHON_DAEMON_MODULE``.
Pyspark reuses its Python workers across tasks but charges each task a
fixed cost that does not depend on the task: on CPython 3.11,
``setup_spark_files`` calls ``importlib.invalidate_caches()``, which
makes every ``zipimporter`` re-read its archive's directory (~195 ms a
task), and the daemon's ``gc.collect()`` after each task walks every
object pandas, pyarrow and numpy created (~55 ms). ``pyworker`` skips
the re-read of an unchanged archive and freezes a worker's objects
after its first task. Measured on a 4-core host: an empty
``mapInPandas`` task cost 217-336 Python-worker CPU-ms with the stock
daemon and 4.0-4.1 ms with this one (``scripts/bench_kernel.py
worker``), and the pyramid benchmark operation's Python-worker CPU fell
from 3.2-4.0 to 1.8 CPU-s. Avoiding the re-reads also lowers each
worker's peak RSS, as every re-read left a separate copy of the
directory (mesh workers 130 -> 116 MB, the check's workers 62 -> 49);
since the mesh stage became a pandas-free mapInArrow, a mesh worker
peaks at 79-81 MB and the daemon at 61-62. On a cluster the package
must be importable on the executors when the daemon starts (installed there,
or on ``spark.executorEnv.PYTHONPATH``), not only through per-task
``--py-files``, which reach ``sys.path`` after the daemon has started.

SQL kernels and RDD-path Python share one worker pool. Spark keeps one
daemon, with its own workers, per (Python executable, worker module,
daemon module, environment) of a Python function. The SQL runners
(``mapInArrow``, ``mapInPandas``, ``applyInPandas``, ``pandas_udf``,
``udf``) add ``SPARK_SIMPLIFIED_TRACEBACK=1`` to a function's
environment (``spark.sql.execution.pyspark.udf.simplifiedTraceback.enabled``,
on by default); the RDD path (``rdd.map``, the list form of
``createDataFrame``) does not. So a session that ran both kinds of
task held two daemons and two sets of ``cores`` workers. The session
puts the variable into every function's environment
(``spark.executorEnv.SPARK_SIMPLIFIED_TRACEBACK``): both kinds map to
one pool, and an RDD task's traceback is simplified as a SQL task's is.
Measured on a 4-core host, 10 alternating pyramid benchmark pairs
(seeds 11-20, every run correct, 0 failed ops), medians parent ->
change: ``peak_rss_mb`` 1189.0 -> 927.3 MB (lower in 10/10), the
summary's ``rss_parts_mb`` from [151, 3465, 62, 62, 81 x 4, 49 x 4] to
[151, 3462, 62, 81 x 4]; ``setup_s`` 17.4 -> 16.1 s (9/10; the warm-up
starts one daemon fewer), ``op_cpu_s`` 8.15 -> 8.16 (3/10).

The last is the JVM itself: ``JVM_OPTIONS`` (the Parallel collector
instead of G1, a metaspace GC threshold, and JIT compile thresholds
scaled ×4), ``EXCHANGE_THREADS`` (the cap of Spark's two exchange
thread pools and of its result-query-stage pool), ``MAX_NEW_SIZE_MB``
(a young generation cap for a heap over 3 GB, so that a heap that
starts small does not outgrow G1's) and ``MALLOC_ARENA_MAX``; their
comments hold the measurements. Outside its heap the JVM holds its
collector's data structures, metaspace, the code cache, thread stacks
and the malloc arenas of its threads, which was most of the catalog
benchmark's peak RSS. ``jvm_options`` puts the
flags for the session's heap in
``spark.driver.defaultJavaOptions``, which Spark puts before a caller's
``spark.driver.extraJavaOptions``, so a caller's own JVM options
(perfbench's fixed heap) add to them; a caller replaces them through
``extra_conf``. A JVM that spark-submit starts has its options before
``get_spark`` runs: ``scripts/run_scaling.py`` passes them itself.

Most of an early operation's CPU is the JIT, not task work. A
per-thread ledger (``/proc/<jvm>/task/*/stat`` diffed around the
catalog benchmark's first measured operation, 4 seeds) read, as
medians of CPU-s: C2 compiler threads 10.3 and C1 1.4 of a 19.9 CPU-s
JVM total, executor tasks 4.1, the py4j call thread that plans the
queries 1.9. With ``-XX:CompileThresholdScaling=4`` the same ledger
read C2 3.3, C1 1.0, executor tasks 5.0, py4j 2.4, JVM total 16.3:
fewer methods reach C2, and the tasks run somewhat colder code.
Alternating benchmark pairs put ``op_cpu_s`` 14 % lower on catalog
(10/10 pairs) and 17 % on pyramid (6/6); the ``JVM_OPTIONS`` comment
holds the numbers.

A new driver JVM starts from a class-data-sharing archive (AppCDS,
``cds_java_options``). Every start loaded and verified the same ~20k
Spark classes; JDK 17 can write the loaded classes to a dynamic
archive at exit (``-XX:ArchiveClassesAtExit``) and map it in a later
JVM (``-XX:SharedArchiveFile``). The session keeps one archive per JDK
build and classpath in ``<tempdir>/tts_cds_<uid>/``, as the native
kernel keeps its ``.so``; for perfbench that is ``.perfbench_work/tmp``,
so the first run of a checkout records it and later runs map it. Spark
puts its conf dir on the JVM's classpath and JDK 17 dumps no archive
when a classpath entry is a non-empty directory (``/opt/spark/conf``
holds templates), so the session points ``SPARK_CONF_DIR`` at an empty
dir in the cache; with a user's ``SPARK_CONF_DIR`` (or Hadoop/YARN conf
dir, or a configuration in Spark's own conf dir) it runs without an
archive and says so on stderr. Measured on a 4-core host, 10 alternating
perfbench pairs a workload (every run correct, 0 failed ops), the
archive recorded by one earlier pyramid run, medians parent -> archive:
``setup_s`` 23.1 -> 17.7 s on pyramid (9/10 pairs lower) and 27.1 ->
22.3 s on catalog (10/10), the session phase ~6.2 -> 3.5 s and the
input phase ~5.7 -> 3.5 s (pyramid; catalog 4.7 -> 3.0); ``op_cpu_s``
+3 % and +1 %, ``peak_rss_mb`` 0 % and +2 %, within the run-to-run
spread. Recording costs once: the recording run set up 3.2 s
slower (28.0 against 24.8 s), and its JVM wrote 177 MB at exit, 11.7 s
more teardown. A truncated archive is no safe fallback: a file cut to
half made every JVM that mapped it die of SIGBUS instead of falling
back, and a flipped byte inside a region shows only under
``-XX:+VerifySharedSpaces``. So no JVM dumps to the published name:
each recording gets a name of its own and a claim file, and a later
session promotes a finished recording with ``os.replace`` only after
one short ``-Xshare:on -XX:+VerifySharedSpaces`` start of the recording
JVM's java on its classpath passed (~0.3 s). A session's own JVM does
not verify, as that reads all 177 MB into its RSS. A published archive
is mapped only while its inode, size and mtime match the promotion's
stamp, and after start the session looks for it in
``/proc/<jvm>/maps``: a JVM that fell back without it (a classpath it
was not recorded on) gets a stderr line and the archive is removed, so
the next session records a new one.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import secrets
import shutil
import subprocess
import sys
import tempfile

from pyspark import SparkContext
from pyspark.sql import SparkSession

# Entries in Spark's generated-code cache (Spark's default is 100).
# The cache holds one compiled class per distinct generated source and
# is LRU. One catalog benchmark operation (knn_ring, pip_join,
# near_dup_pairs, the LSH store write and probe) needs 132 classes, and
# a session's first operation about 145: at 100, the cyclic plan
# sequence evicted each class before its next use, so every call
# recompiled all 132 with Janino and the JIT compiled them again. At
# 1000 a session compiles each class once and later calls compile 0
# (counted with CodegenMetrics' compilation-time histogram). The
# pyramid operation compiles 0 per call either way: its 44 classes fit.
# Keeping them moved the benchmark's median peak RSS by +5 MB (catalog)
# and +13 MB (pyramid).
CODEGEN_CACHE_ENTRIES = 1000

# The driver JVM's flags (Spark's ``spark.driver.defaultJavaOptions``).
# Measured together with MALLOC_ARENA_MAX on a 4-core host, ten
# alternating benchmark pairs (seeds 301-310, every run correct, 0
# failed ops), medians parent -> change: catalog peak_rss_mb 767 -> 604
# and pyramid 1428 -> 1224 (10/10 pairs each), all of it in the JVM
# process; op_cpu_s and setup_s within their run-to-run spread (pyramid
# op_cpu_s 12.10 -> 12.54, 4/10).
# -XX:+UseParallelGC: the Parallel collector's data structures are
# smaller than G1's remembered sets and card tables (NMT's GC line after
# one catalog benchmark operation: 167 MB under G1, 131 MB under
# Parallel). Its GC threads cost CPU: in three GC-logged pairs per
# workload (first operation of each run) they used 0.37-0.45 CPU-s, G1's
# 0.01-0.31; per pair +0.32-0.44 CPU-s on pyramid, which is the size of
# its op_cpu_s median gap, and +0.06-0.33 on catalog.
# -XX:MetaspaceSize=256m only moves the metaspace size at which class
# loading first triggers a collection: without it the Parallel
# collector ran a full GC at each metaspace threshold (5 "Metadata GC
# Threshold" full GCs in a GC-logged catalog run, the longest 203 ms);
# with it 0 full GCs and 10 young pauses, at the same RSS.
# -XX:CompileThresholdScaling=4: a method must run 4x as often before C1,
# and then C2, compiles it, so lukewarm planner and generated-code
# methods stay in the cheaper tiers instead of costing C2 time in every
# early operation. Sweep on catalog's first measured operation, 4
# alternated seeds, op_cpu_s medians: scaling 1 (HotSpot's default)
# 20.46, 2 19.05, 4 16.76 (4 below 2 on 4/4 seeds). An earlier sweep
# read 8 at 16.5 against 4's 16.1, its executor tasks paying for the
# colder code (5.9 against 4.5 CPU-s), as C1-only compilation
# (-XX:TieredStopAtLevel=1) did. Ten alternating catalog pairs (seeds
# 1401-1410) and six pyramid pairs (1411-1416), every run correct with
# 0 failed ops, parent median [quartiles] -> median, pairs lower:
# catalog op_cpu_s 20.55 [20.18-21.51] -> 17.67 (10/10), peak_rss_mb
# 605.8 [604.0-608.0] -> 581.7 (9/10), setup_s 24.17 [23.58-25.82] ->
# 27.18 (1/10); pyramid op_cpu_s 9.71 [9.40-10.39] -> 8.10 (6/6),
# peak_rss_mb 1236.0 [1230.6-1241.1] -> 1195.0 (6/6), setup_s 20.50
# [20.26-23.17] -> 23.03 (3/6). Less compiled code is the RSS drop (the
# JVM's entry of rss_parts_mb); set-up and the early operations' wall
# time rise, as they run colder code (catalog op wall 6.4 -> 7.4 s).
# Spark's jobs, tasks and shuffle bytes per operation do not move.
JVM_OPTIONS = "-XX:+UseParallelGC -XX:MetaspaceSize=256m -XX:CompileThresholdScaling=4"

# Largest young generation, in MB, of a driver heap over 3 GB (see
# jvm_options). The Parallel collector lets its young generation reach
# a third of the heap, and grows it while collections take over 1 % of
# the time; a heap that starts small grows its old generation by full
# collections. Uncapped, bench.py at sf0.001 on a 4-core host (default
# 12 GB heap) grew the young generation to ~4 GB and the JVM's peak RSS
# past G1's (2 alternating pairs: 5427 and 5956 MB against 5189 and
# 3844). Capped at 1 GB, which is the default young generation of
# perfbench's fixed 3 GB heap, over 10 alternating pairs against G1
# (medians): JVM peak RSS 3224 against 5246 MB and the process tree's
# 4589 against 6852 (lower in 10/10); wall unchanged (lower in 5/10,
# median pair difference +0.8 s on 93-269 s runs); GC pauses 5.0
# against 2.4 s in all, of them 8-16 full collections (longest pause
# 498 ms) where G1 had none (longest 101 ms).
MAX_NEW_SIZE_MB = 1024

# glibc's malloc arena cap for the JVM and the Python workers (glibc's
# default is 8 per core, and a thread that meets a locked arena makes a
# new one). On catalog the cap took a further ~76 MB off peak RSS
# (medians of 3 seeds: 684 MB with the collector alone, 608 with both;
# ranges 654-707 and 599-617).
MALLOC_ARENA_MAX = "2"

# Threads in each of Spark's two exchange pools, shuffle-exchange and
# broadcast-exchange (static confs: the pools are JVM-wide, sized at
# their first use). A pool starts a new thread per submission until it
# holds its cap and drops a thread only after 60 s idle, so at Spark's
# caps (1024 and 128) the pools grew with the call count: 200 and 128
# threads after 20 knn_ring calls, and in one catalog benchmark session
# of 14 operations 326 and 128 (849 JVM threads, peak_rss_mb 785). With
# 16, an 11-operation session held 16 and 16 (404 threads, 619 MB), and
# four alternating catalog pairs read peak_rss_mb 594.6 -> 578.0 (4/4)
# against the same JVM flags uncapped. A broadcast collects its child
# in its pool's thread and a nested broadcast waits on the same pool,
# so the cap must stay above the depth to which plans nest broadcasts:
# keep it at 16 or more. The same cap holds the result-query-stage
# pool (spark.sql.resultQueryStage.maxThreadThreshold, default 1024),
# which grew the same way: in a 60 s catalog benchmark session with the
# exchange pools capped it went from 8 to 84 threads over 11
# operations (JVM 326 -> 401 threads); capped, it held 16 and the JVM
# 333-334 threads over 12.
EXCHANGE_THREADS = 16

# pyspark.daemon with stat-checked zip invalidation and gc.freeze after
# a worker's first task (see the module docstring and pyworker).
PYTHON_DAEMON_MODULE = "tin_terrain_spark.pyworker"


def jvm_options(driver_memory: str) -> str:
    """The driver JVM's flags for a heap of ``driver_memory``, a Spark size
    string ("12g", "3072m"; MB without a unit): ``JVM_OPTIONS``, with the
    young generation capped at ``MAX_NEW_SIZE_MB`` where the Parallel
    collector's default, a third of the heap, is larger."""
    s = driver_memory.strip().lower().removesuffix("b")
    to_mb = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}
    heap_mb = float(s[:-1]) * to_mb[s[-1]] if s[-1] in to_mb else float(s)
    if heap_mb <= 3 * MAX_NEW_SIZE_MB:
        return JVM_OPTIONS
    return f"{JVM_OPTIONS} -XX:MaxNewSize={MAX_NEW_SIZE_MB}m"


# Off for the archive's log tags: a recording JVM logs ~1,100 "[warning][cds]
# Skipping ..." lines (classes an archive cannot hold) and a JVM that
# cannot use its archive one more, all on stdout, where bench.py and
# perfbench print their result. _cds_after_start reports a fallback.
CDS_LOG = "-Xlog:cds*=off"


def _spark_home() -> str:
    from pyspark.find_spark_home import _find_spark_home

    return _find_spark_home()


def _cds_dir() -> str:
    """The archive cache, one per temp dir and user, like the native
    kernel's build cache (kernels/native.py)."""
    return os.path.join(tempfile.gettempdir(), f"tts_cds_{os.getuid()}")


def _cds_blocker() -> str | None:
    """Why the driver JVM cannot use an archive here, or None. Spark puts
    its conf dir on the JVM's classpath, and JDK 17 dumps no archive
    over a classpath that holds a non-empty directory, so the session
    points SPARK_CONF_DIR at an empty dir; it does not where that would
    hide a configuration."""
    for var in ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR"):
        if os.environ.get(var):
            return f"{var} is set"
    conf = os.path.join(_spark_home(), "conf")
    if os.path.isdir(conf) and any(not f.endswith(".template") for f in os.listdir(conf)):
        return f"{conf} holds a configuration"
    return None


def _cds_key() -> str | None:
    """One archive per JDK build and classpath: a hash over the java binary
    that spark-class runs, its libjvm.so and Spark's jars (path, size,
    mtime). None without a java binary."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not java or not os.path.exists(java):
        return None
    java = os.path.realpath(java)
    libjvm = os.path.join(os.path.dirname(os.path.dirname(java)), "lib", "server", "libjvm.so")
    jars = sorted(glob.glob(os.path.join(_spark_home(), "jars", "*")))
    h = hashlib.sha256(os.environ.get("SPARK_DIST_CLASSPATH", "").encode())
    for path in [java, libjvm, *jars]:
        if os.path.exists(path):
            st = os.stat(path)
            h.update(f"{path} {st.st_size} {st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def _started(pid: int) -> int | None:
    """Start time of process ``pid`` in clock ticks after boot, or None when
    it does not run (a zombie has exited). A pid and its start time name
    one process, also after the pid is reused."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return None if fields[0] in "ZX" else int(fields[19])
    except (OSError, IndexError, ValueError):
        return None


def _remove(*paths: str) -> None:
    for p in paths:
        try:
            os.remove(p)
        except FileNotFoundError:
            pass


def _write_json(path: str, value) -> None:
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(value, f)
    os.replace(tmp, path)


def _read_json(path: str):
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def _stamp(path: str) -> list[int]:
    st = os.stat(path)
    return [st.st_ino, st.st_size, st.st_mtime_ns]


def _cds_published(published: str) -> bool:
    """Whether ``published`` is the file that passed verification: its
    inode, size and mtime equal the stamp written when it was promoted.
    A published file that does not match (truncated, rewritten or
    planted) is removed and never reaches a JVM."""
    if not os.path.exists(published):
        return False
    if _read_json(f"{published}.ok") == _stamp(published):
        return True
    _remove(published, f"{published}.ok")
    return False


def _cds_verified(rec: str, claim: dict) -> bool:
    """One short start of the recording JVM's java binary on its classpath
    that must map ``rec`` (-Xshare:on) and pass the archive's CRC check
    (-XX:+VerifySharedSpaces, which reads every region once). A truncated
    archive crashes this JVM, not the session's."""
    java, classpath = claim.get("java"), claim.get("classpath")
    if not (java and classpath and os.path.exists(rec)):
        return False
    cmd = [java, "-Xshare:on", f"-XX:SharedArchiveFile={rec}", "-XX:+VerifySharedSpaces",
           "-XX:-CreateCoredumpOnCrash", "-XX:+SuppressFatalErrorMessage",
           "-cp", classpath, "-version"]
    try:
        out = subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                             cwd=os.path.dirname(rec), timeout=120)
    except (OSError, subprocess.TimeoutExpired):
        return False
    return out.returncode == 0


def cds_java_options() -> tuple[str, dict[str, str]]:
    """The class-data archive's flags for a driver JVM about to start, and
    the environment the JVM needs for them (see the module docstring).

    With a published archive whose stamp matches, the JVM maps it. Else
    each finished recording (its JVM exited) is verified once, the first
    that passes is promoted to the published name with ``os.replace``,
    and the rest are removed. With none, and no recording JVM alive, this
    JVM records its own archive at exit under a name of its own. Flags
    and environment are empty where ``_cds_blocker`` says no, or while
    another JVM records."""
    why = _cds_blocker()
    if why:
        print(f"tin_terrain_spark: {why}; the JVM starts without a class-data archive",
              file=sys.stderr)
        return "", {}
    key = _cds_key()
    if key is None:
        return "", {}
    cache = _cds_dir()
    env = {"SPARK_CONF_DIR": os.path.join(cache, "conf")}
    os.makedirs(env["SPARK_CONF_DIR"], exist_ok=True)
    published = os.path.join(cache, f"{key}.jsa")
    recording = False
    if not _cds_published(published):
        for claim_path in sorted(glob.glob(os.path.join(cache, f"{key}.rec-*.json"))):
            claim = _read_json(claim_path) or {}
            if claim.get("pid") and _started(claim["pid"]) == claim.get("start"):
                recording = True
                continue
            rec = claim_path.removesuffix(".json") + ".jsa"
            if not os.path.exists(published) and _cds_verified(rec, claim):
                _write_json(f"{published}.ok", _stamp(rec))
                try:
                    os.replace(rec, published)
                except FileNotFoundError:
                    pass  # another session promoted it first
            _remove(rec, claim_path)
    if _cds_published(published):
        return f"-XX:SharedArchiveFile={published} {CDS_LOG}", env
    if recording:
        return "", {}
    rec = os.path.join(cache, f"{key}.rec-{secrets.token_hex(6)}.jsa")
    # the recording JVM rewrites the claim with its own pid (_cds_after_start)
    _write_json(rec.removesuffix(".jsa") + ".json",
                {"pid": os.getpid(), "start": _started(os.getpid())})
    return f"-XX:ArchiveClassesAtExit={rec} {CDS_LOG}", env


def _cds_after_start(spark: SparkSession) -> None:
    """Check the archive flag of a driver JVM that just started, read back
    from its command line. A JVM given an archive must map it
    (``/proc/<jvm>/maps``); one that did not fell back without it, so
    the archive is removed and the fallback reported on stderr. A
    recording JVM's claim gets its pid, java binary and classpath, which
    the later verification needs."""
    jvm = spark._jvm
    pid = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getPid()
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            args = f.read().decode(errors="replace").split("\0")
    except OSError:
        return
    for arg in args:
        flag, _, path = arg.partition("=")
        if flag == "-XX:SharedArchiveFile":
            with open(f"/proc/{pid}/maps") as f:
                mapped = any(path in line for line in f)
            if not mapped:
                print(f"tin_terrain_spark: the JVM did not map the class-data archive "
                      f"{path}; it is removed and the next session records a new one",
                      file=sys.stderr)
                _remove(path, f"{path}.ok")
        elif flag == "-XX:ArchiveClassesAtExit":
            _write_json(path.removesuffix(".jsa") + ".json", {
                "pid": pid, "start": _started(pid), "java": os.readlink(f"/proc/{pid}/exe"),
                "classpath": jvm.java.lang.System.getProperty("java.class.path"),
            })


def get_spark(
    app_name: str = "tin_terrain_spark",
    cores: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """local[N] session tuned for the sandbox (single JVM). On a real
    cluster the same code runs unchanged — partitioning is controlled
    via spark.sql.shuffle.partitions + explicit repartition/broadcast,
    with AQE handling runtime coalescing and skew-join splitting.

    Every session's Python workers run under ``PYTHON_DAEMON_MODULE``,
    which cuts the fixed cost of a task in a reused worker from ~220-340
    to ~4 CPU-ms (no zip directory re-read, no full gc walk per task);
    the repo root is set as the executors' PYTHONPATH so that the daemon
    can import it, also in a JVM that spark-submit started. The JVM runs
    with ``jvm_options(<driver memory>)``, the driver memory being the
    caller's ``spark.driver.memory`` in ``extra_conf``, else
    ``SPARK_DRIVER_MEM``, else 12g, and its exchange and
    result-query-stage thread pools capped at ``EXCHANGE_THREADS``, and
    it and its Python workers with at most ``MALLOC_ARENA_MAX`` malloc
    arenas (a value already in the environment wins). A JVM that this
    call starts maps the class-data archive or records one
    (``cds_java_options``); see the module docstring."""
    # make the package importable in the processes this driver starts
    # (a local JVM and its Python workers inherit the environment)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(":"):
        os.environ["PYTHONPATH"] = f"{repo_root}:{existing}" if existing else repo_root
    # read by glibc when a process starts: the local JVM and its Python
    # workers inherit it, the driver's own Python has already started
    os.environ.setdefault("MALLOC_ARENA_MAX", MALLOC_ARENA_MAX)

    # the heap the JVM gets: a caller's spark.driver.memory wins (it is
    # applied last, below), and the flags are sized for that heap
    driver_memory = ((extra_conf or {}).get("spark.driver.memory")
                     or os.environ.get("SPARK_DRIVER_MEM", "12g"))
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cores, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 12g, not "as much as the box has": under G1 the same
        # 80-query bench ran 89 s at 12g vs 171 s at 48g (worst line
        # 42.7 s → 2.0 s), rare full GCs of a huge heap stalling
        # Python-worker stages. Under the Parallel collector the 12g
        # heap starts small and grows by full GCs; with the young
        # generation capped (MAX_NEW_SIZE_MB) the integration tests
        # at sf0.001 paused 2.8 s in all (4 full, longest 355 ms, heap
        # at most 1.9 GB) against G1's 3.2 s (longest 111 ms, 5.5 GB);
        # bench.py is measured at MAX_NEW_SIZE_MB. 48g was not measured
        # under Parallel. Override with SPARK_DRIVER_MEM for jobs that
        # truly need more.
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.shuffleExchange.maxThreadThreshold", str(EXCHANGE_THREADS))
        .config("spark.sql.broadcastExchange.maxThreadThreshold", str(EXCHANGE_THREADS))
        .config("spark.sql.resultQueryStage.maxThreadThreshold", str(EXCHANGE_THREADS))
        .config("spark.python.daemon.module", PYTHON_DAEMON_MODULE)
        # the daemon imports the package before any task's --py-files
        # reach sys.path; a JVM started by spark-submit does not inherit
        # the os.environ set above
        .config("spark.executorEnv.PYTHONPATH", repo_root)
        # one Python worker pool for SQL and RDD-path tasks (module
        # docstring): the SQL runners add this variable to a function's
        # environment, and Spark keys its worker pools on that environment
        .config("spark.executorEnv.SPARK_SIMPLIFIED_TRACEBACK", "1")
    )
    # a JVM starts here unless this process has one already; one that
    # spark-submit started (PYSPARK_GATEWAY_PORT) got its flags there
    new_jvm = SparkContext._gateway is None
    cds_flags, cds_env = (cds_java_options() if new_jvm and "PYSPARK_GATEWAY_PORT"
                          not in os.environ else ("", {}))
    b = b.config("spark.driver.defaultJavaOptions",
                 f"{jvm_options(driver_memory)} {cds_flags}".strip())
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    # the launched JVM inherits os.environ; this process's later children
    # must not (their SPARK_CONF_DIR would read as the user's)
    os.environ.update(cds_env)
    try:
        spark = b.getOrCreate()
    finally:
        for k in cds_env:
            del os.environ[k]
    if new_jvm:
        _cds_after_start(spark)
    spark.sparkContext.setLogLevel("WARN")
    return spark
