"""The kNN operators return plans and leave nothing behind.

`knn_ring` over both cell joins and `knn_hex` are each called 20 times
in one session with the density-sized ring, and on every fourth call
also with a given first ring of 1 that leaves some queries to the brute
branch; every result is collected. Building a plan may run only the
`_density_ring` aggregate (no job at all when the ring is given), no
RDD may stay persisted after a collect, no call after the first may
compile a generated class, and every result must equal `knn_brute`'s
rows. After the calls, each of Spark's two exchange thread pools
(`shuffle-exchange`, `broadcast-exchange`, counted by thread name in
`/proc/<jvm>/task/*/comm`) holds at most `session.EXCHANGE_THREADS`
threads: uncapped, they grew by about 10 threads a call.
"""

import os

import numpy as np
import pytest

K, ZOOM, GRID_BITS, CALLS, GIVEN_RING_EVERY = 5, 2, 5, 20, 4


@pytest.fixture(scope="module")
def spark():
    from tin_terrain_spark.session import get_spark

    s = get_spark("knn_plans", cores=4)
    yield s
    s.stop()


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _executions_since(spark, since: int) -> list[list[str]]:
    """Plan node names of every SQL execution newer than `since`."""
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    store = spark._jsparkSession.sharedState().statusStore()
    return [
        [n.name() for n in conv.asJava(store.planGraph(e.executionId()).allNodes())]
        for e in conv.asJava(store.executionsList()) if e.executionId() > since
    ]


def _last_execution(spark) -> int:
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    store = spark._jsparkSession.sharedState().statusStore()
    return max((e.executionId() for e in conv.asJava(store.executionsList())), default=-1)


def _exchange_threads(spark) -> dict[str, int]:
    """Live threads of the JVM's exchange pools. Thread names are
    `<pool>-<n>`, cut at 15 characters in `comm`."""
    pid = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getPid()
    counts = {"shuffle-exchange": 0, "broadcast-exchange": 0}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                comm = f.read().rstrip("\n")
        except OSError:  # the thread exited
            continue
        for pool in counts:
            counts[pool] += comm.startswith(pool[:15])
    return counts


def _corpus(spark):
    """2,000 points uniform in a 4,000 km square; 12 queries inside it
    (the density ring resolves them) and 6 more 1,500 km or further
    outside it (open at any ring of 1 or 2 cells, 313 km each)."""
    import pyspark.sql.functions as F

    from tin_terrain_spark.functions.geocode_exprs import tile_sql

    rng = np.random.default_rng(41)
    lo, hi = 1.0e6, 5.0e6
    pts = [(i, float(x), float(y)) for i, (x, y) in enumerate(rng.uniform(lo, hi, (2000, 2)))]
    near = [(i, float(x), float(y)) for i, (x, y) in
            enumerate(rng.uniform(lo + 5e5, hi - 5e5, (12, 2)), start=100)]
    far = [(i, float(x), float(y)) for i, (x, y) in
           enumerate(rng.uniform(-1.2e7, -0.5e6, (6, 2)), start=200)]

    def cells(rows, id_col):
        df = spark.createDataFrame(rows, f"{id_col} BIGINT, x DOUBLE, y DOUBLE")
        return df.select(
            id_col, "x", "y",
            F.expr(tile_sql("x", ZOOM + GRID_BITS)).alias("cell_x"),
            F.expr(tile_sql("y", ZOOM + GRID_BITS)).alias("cell_y"),
        )

    return cells(pts, "doc_id"), cells(near, "q_id"), cells(near + far, "q_id")


def test_knn_operators_are_plans(spark):
    from tin_terrain_spark.functions.geocode_exprs import tile_size_meters
    from tin_terrain_spark.operators import joins as J
    from tin_terrain_spark.session import EXCHANGE_THREADS

    pts, near, mixed = _corpus(spark)
    hex_size = tile_size_meters(ZOOM + GRID_BITS)
    ops = {}
    for ring in (None, 1):
        q = near if ring is None else mixed
        ops[f"ring_broadcast@{ring}"] = (q, lambda q=q, ring=ring: J.knn_ring(
            pts, q, ZOOM, GRID_BITS, k=K, initial_ring=ring))
        ops[f"ring_shuffle@{ring}"] = (q, lambda q=q, ring=ring: J.knn_ring(
            pts, q, ZOOM, GRID_BITS, k=K, initial_ring=ring, cell_join="shuffle"))
        ops[f"hex@{ring}"] = (q, lambda q=q, ring=ring: J.knn_hex(
            pts, q.select("q_id", "x", "y"), hex_size, k=K, initial_ring=ring))
    cols = ("q_id", "rank", "doc_id", "dist2")
    brute = {
        name: sorted(map(tuple, J.knn_brute(pts, q.select("q_id", "x", "y"), K)
                         .select(*cols).collect()))
        for name, (q, _) in ops.items()
    }

    sc = spark.sparkContext
    compiled = {}
    for call in range(CALLS):
        before = _compiles(spark)
        for name, (_, build) in ops.items():
            if name.endswith("@1") and call % GIVEN_RING_EVERY:
                continue
            group = f"build-{name}-{call}"
            sc.setJobGroup(group, group)
            mark = _last_execution(spark)
            plan = build()
            built = _executions_since(spark, mark)
            if name.endswith("@1"):
                assert sc.statusTracker().getJobIdsForGroup(group) == [], (
                    f"building {name} (call {call + 1}) launched a Spark job"
                )
            else:  # only the density aggregate: one execution, no join
                assert len(built) == 1 and "HashAggregate" in built[0], (name, built)
                assert not any("Join" in n for n in built[0]), (name, built)
            rows = sorted(map(tuple, plan.select(*cols).collect()))
            assert sc._jsc.getPersistentRDDs().isEmpty(), (
                f"{name} (call {call + 1}) left a persisted RDD"
            )
            assert rows == brute[name], f"{name} call {call + 1} differs from knn_brute"
        compiled[call + 1] = _compiles(spark) - before
    assert all(n == 0 for c, n in compiled.items() if c > 1), f"classes compiled per call: {compiled}"
    assert len(brute["hex@1"]) == 18 * K
    for key in ("spark.sql.shuffleExchange.maxThreadThreshold",
                "spark.sql.broadcastExchange.maxThreadThreshold"):
        assert spark.conf.get(key) == str(EXCHANGE_THREADS), key
    threads = _exchange_threads(spark)
    assert all(n <= EXCHANGE_THREADS for n in threads.values()), threads
