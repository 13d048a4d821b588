"""The dedup operators return plans and leave nothing behind.

Each of `near_dup_pairs`, `lsh_candidates`, `band_keys` and
`dedup_against_store` is called 20 times in one session, in rounds, and
every result is collected. Building a plan must launch no Spark job,
no RDD may stay persisted after a collect, and once every operator has
run once, no further call may compile a generated class.
"""

import numpy as np
import pytest

THRESHOLD, CALLS = 0.5, 20


@pytest.fixture(scope="module")
def spark():
    from tin_terrain_spark.session import get_spark

    s = get_spark("dedup_plans", cores=4)
    yield s
    s.stop()


def _texts(rng, n: int) -> list[str]:
    """A hot bucket (110 copies of one page, past BUCKET_CAP), fresh
    docs, and one-word edits of earlier fresh docs."""
    hot = " ".join(f"w{t}" for t in rng.integers(0, 400, 25))
    out = [hot] * 110
    fresh: list[list[str]] = []
    while len(out) < n:
        if fresh and rng.random() < 0.3:
            d = list(fresh[rng.integers(len(fresh))])
            d[rng.integers(len(d))] = f"w{rng.integers(10_000)}"
        else:
            d = [f"w{t}" for t in rng.integers(0, 400, rng.integers(2, 30))]
            fresh.append(d)
        out.append(" ".join(d))
    return out


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_dedup_operators_leave_no_residue(spark, tmp_path):
    from tin_terrain_spark.operators import dedup as D

    rng = np.random.default_rng(29)
    texts = _texts(rng, 300)
    batch = spark.createDataFrame(list(enumerate(texts)), "doc_id bigint, text string")
    probe = spark.createDataFrame(
        [(1000 + i, t) for i, t in enumerate(texts[100:180])], "doc_id bigint, text string"
    )
    D.band_keys(batch).write.parquet(str(tmp_path / "bands"))
    D.shingles_df(batch).write.parquet(str(tmp_path / "shingles"))
    store_bands = spark.read.parquet(str(tmp_path / "bands"))
    store_shingles = spark.read.parquet(str(tmp_path / "shingles"))
    ops = {
        "near_dup_pairs": lambda: D.near_dup_pairs(batch, THRESHOLD),
        "lsh_candidates": lambda: D.lsh_candidates(batch),
        "band_keys": lambda: D.band_keys(batch),
        "dedup_against_store": lambda: D.dedup_against_store(
            probe, store_bands, store_shingles, THRESHOLD
        ),
    }

    sc = spark.sparkContext
    first, compiled = {}, {}
    for call in range(CALLS):
        before = _compiles(spark)
        for name, build in ops.items():
            group = f"build-{name}-{call}"
            sc.setJobGroup(group, group)
            plan = build()
            assert sc.statusTracker().getJobIdsForGroup(group) == [], (
                f"building {name} (call {call + 1}) launched a Spark job"
            )
            rows = sorted(map(tuple, plan.collect()))
            assert sc._jsc.getPersistentRDDs().isEmpty(), (
                f"{name} (call {call + 1}) left a persisted RDD"
            )
            assert rows == first.setdefault(name, rows), f"{name} call {call + 1} differs"
        compiled[call + 1] = _compiles(spark) - before
    assert all(n == 0 for c, n in compiled.items() if c > 1), f"classes compiled per call: {compiled}"
    # the batch holds near duplicates, and the probe re-sends stored docs
    assert first["near_dup_pairs"] and first["lsh_candidates"]
    assert all(r[3] for r in first["dedup_against_store"])
