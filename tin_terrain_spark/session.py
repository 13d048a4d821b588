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

The other is the Python worker daemon, ``PYTHON_DAEMON_MODULE``.
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
directory (mesh workers 130 -> 116 MB, the check's workers 62 -> 49). On a cluster the package must be
importable on the executors when the daemon starts (installed there,
or on ``spark.executorEnv.PYTHONPATH``), not only through per-task
``--py-files``, which reach ``sys.path`` after the daemon has started.
"""

from __future__ import annotations

import os

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

# pyspark.daemon with stat-checked zip invalidation and gc.freeze after
# a worker's first task (see the module docstring and pyworker).
PYTHON_DAEMON_MODULE = "tin_terrain_spark.pyworker"


def get_spark(
    app_name: str = "tin_terrain_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
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
    can import it, also in a JVM that spark-submit started."""
    # make the package importable in the processes this driver starts
    # (a local JVM and its Python workers inherit the environment)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(":"):
        os.environ["PYTHONPATH"] = f"{repo_root}:{existing}" if existing else repo_root

    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 12g, not "as much as the box has": measured on this sandbox,
        # the same 80-query bench ran 89 s at 12g vs 171 s at 48g —
        # huge heaps turn rare full GCs into multi-second stalls that
        # land randomly on Python-worker stages (worst line 42.7 s →
        # 2.0 s). Override with SPARK_DRIVER_MEM for jobs that truly
        # need more.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "12g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.python.daemon.module", PYTHON_DAEMON_MODULE)
        # the daemon imports the package before any task's --py-files
        # reach sys.path; a JVM started by spark-submit does not inherit
        # the os.environ set above
        .config("spark.executorEnv.PYTHONPATH", repo_root)
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
