"""as-of join + range join semantics (operators/temporal.py).

The oracle gate proves hash parity with DuckDB on the events table;
these tests pin the EDGE semantics: ts ties, no-match nulls, multi-
range overlap, and exact [lo, hi) boundary handling."""

import datetime as dt

import pytest


@pytest.fixture(scope="module")
def spark():
    from tin_terrain_spark.session import get_spark

    s = get_spark("temporal", cores=4)
    yield s
    s.stop()


def _ts(minute):
    return dt.datetime(2024, 1, 1, 0, minute)


def test_asof_basic_backward(spark):
    from tin_terrain_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(100, 1, _ts(10), 1.0), (101, 1, _ts(20), 2.0), (102, 2, _ts(5), 3.0)],
        "event_id long, user_id long, ts timestamp, value double",
    )
    right = spark.createDataFrame(
        [(200, 1, _ts(9), 10.0), (201, 1, _ts(15), 20.0), (202, 3, _ts(1), 30.0)],
        "event_id long, user_id long, ts timestamp, value double",
    )
    out = {r["event_id"]: r for r in asof_join(left, right).collect()}
    assert out[100]["r_id"] == 200      # 09:00 <= 10:00
    assert out[101]["r_id"] == 201      # latest of {09, 15} <= 20:00
    assert out[102]["r_id"] is None     # user 2 has no right rows
    assert out[102]["r_value"] is None


def test_asof_tie_on_ts_matches_and_prefers_max_id(spark):
    from tin_terrain_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(100, 1, _ts(10), 1.0)],
        "event_id long, user_id long, ts timestamp, value double",
    )
    right = spark.createDataFrame(
        [(200, 1, _ts(10), 10.0), (201, 1, _ts(10), 20.0), (202, 1, _ts(11), 30.0)],
        "event_id long, user_id long, ts timestamp, value double",
    )
    row = asof_join(left, right).collect()[0]
    # equal ts matches (backward as-of convention); tie → greatest id;
    # the 11:00 row is in the future and must not match
    assert row["r_id"] == 201
    assert row["r_value"] == 20.0


def test_asof_generic_schema(spark):
    """Ids/payloads of other types, different on each side: the join
    derives every type from the input schemas (no hard-coded
    bigint/double)."""
    from tin_terrain_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [("a", 1, _ts(10), 7)],
        "event_id string, user_id long, ts timestamp, value int",
    )
    right = spark.createDataFrame(
        [("r1", 1, _ts(9), "north"), ("r2", 1, _ts(11), "south")],
        "event_id string, user_id long, ts timestamp, value string",
    )
    row = asof_join(left, right).collect()[0]
    assert row["event_id"] == "a" and row["value"] == 7
    assert row["r_id"] == "r1" and row["r_value"] == "north"


def test_range_join_boundaries_and_overlap(spark):
    from tin_terrain_spark.operators.temporal import range_join

    rows = spark.createDataFrame(
        [(1, 5.0), (2, 10.0), (3, 9.999), (4, 50.0)], "event_id long, value double"
    )
    ranges = spark.createDataFrame(
        [(0, 5.0, 10.0), (1, 0.0, 100.0), (2, 10.0, 11.0)],
        "range_id long, lo double, hi double",
    )
    got = sorted(
        (r["event_id"], r["range_id"])
        for r in range_join(rows, ranges).collect()
    )
    # lo inclusive, hi exclusive; overlapping ranges both match
    assert got == [(1, 0), (1, 1), (2, 1), (2, 2), (3, 0), (3, 1), (4, 1)]


def test_range_join_plan_is_hash_join(spark):
    from tin_terrain_spark.operators.temporal import range_join

    rows = spark.range(100).selectExpr("id AS event_id", "CAST(id AS DOUBLE) AS value")
    ranges = spark.createDataFrame(
        [(0, 5.0, 10.0)], "range_id long, lo double, hi double"
    )
    plan = range_join(rows, ranges)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan
