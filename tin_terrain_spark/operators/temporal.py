"""Temporal joins the built-in operators don't express directly:
as-of join and range join (the charter's canonical examples of
operators to re-express Spark-first).

Both avoid the naive theta-join formulation, which Catalyst can only
execute as a BroadcastNestedLoopJoin — O(left x right) predicate
evaluations, the same scale-killer the hex kNN had before the
ring-ball explode:

  - asof_join: union + carry-forward window. ONE shuffle on the join
    key; each side is scanned once; the window is partitioned per key
    (no global sort). This is the standard distributed as-of
    (pandas.merge_asof semantics) and works at any left/right ratio.
  - range_join: bounded bucket-explode + hash equi-join + exact
    refine — identical shape to the hex-ring kNN. The explode factor
    is ceil(span / BUCKET_WIDTH) + 1 per range, so the candidate
    stream is O(rows + ranges x spans/width), not O(rows x ranges).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F


def asof_join(left: DataFrame, right: DataFrame) -> DataFrame:
    """Backward as-of join: for every left row, attach the right row
    with the greatest ts <= left.ts for the same user_id (ties on ts
    broken by greatest right id; no match → nulls).

    Plan shape: union the two sides with a side tag, then ONE window
    per key ordered by (ts, side, right id) with last(..., ignorenulls)
    carrying the most recent right row forward onto each left row.
    Right rows sort BEFORE left rows at equal ts, so ts_r == ts_l
    matches (the usual as-of convention).

    Both sides carry an id `event_id` and a payload `value`. The left
    row keeps its own under those names; the matched right row's come
    out as r_id and r_value, with its ts as r_ts. Id, ts, and payload
    types are taken from the input schemas, never assumed.
    """
    rid_t = right.schema["event_id"].dataType.simpleString()
    lid_t = left.schema["event_id"].dataType.simpleString()
    ts_t = right.schema["ts"].dataType.simpleString()
    rval_t = right.schema["value"].dataType.simpleString()
    lval_t = left.schema["value"].dataType.simpleString()
    r_payload = F.struct(
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_id"),
        F.col("value").alias("r_value"),
    )
    r = right.select(
        F.col("user_id"),
        F.col("ts"),
        F.lit(0).alias("_side"),
        F.col("event_id").alias("_rid"),
        r_payload.alias("_r"),
        F.lit(None).cast(lid_t).alias("_lid"),
        F.lit(None).cast(lval_t).alias("_lval"),
    )
    null_r = F.lit(None).cast(f"struct<r_ts:{ts_t},r_id:{rid_t},r_value:{rval_t}>")
    l = left.select(
        F.col("user_id"),
        F.col("ts"),
        F.lit(1).alias("_side"),
        F.lit(None).cast(rid_t).alias("_rid"),
        null_r.alias("_r"),
        F.col("event_id").alias("_lid"),
        F.col("value").alias("_lval"),
    )
    u = r.unionByName(l)
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("_side").asc(), F.col("_rid").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = u.withColumn("_match", F.last("_r", ignorenulls=True).over(w))
    return carried.filter(F.col("_side") == 1).select(
        F.col("_lid").alias("event_id"),
        F.col("user_id"),
        F.col("ts"),
        F.col("_lval").alias("value"),
        F.col("_match.r_id").alias("r_id"),
        F.col("_match.r_ts").alias("r_ts"),
        F.col("_match.r_value").alias("r_value"),
    )


BUCKET_WIDTH = 10.0  # range_join's bucket width, in value units


def range_join(rows: DataFrame, ranges: DataFrame) -> DataFrame:
    """Interval join: rows.value in [lo, hi) per ranges.range_id — as a
    hash equi-join on a bounded bucket explode, never a nested-loop theta
    join. Each range explodes to the BUCKET_WIDTH-wide buckets it
    covers (bounded by span/width); each row computes its single
    bucket; the equi-join on bucket produces the candidate stream, and
    the exact [lo, hi) predicate refines it. Overlapping ranges are supported (a row can
    match many ranges). Small `ranges` broadcast; at 10^9 ranges the
    same plan degrades gracefully to a shuffled equi-join on bucket."""
    w = BUCKET_WIDTH
    exploded = ranges.select(
        "range_id",
        "lo",
        "hi",
        F.explode(
            F.sequence(
                F.floor(F.col("lo") / w).cast("bigint"),
                F.floor(F.col("hi") / w).cast("bigint"),
            )
        ).alias("_bucket"),
    )
    keyed = rows.withColumn("_bucket", F.floor(F.col("value") / w).cast("bigint"))
    return (
        keyed.join(F.broadcast(exploded), "_bucket")
        .filter((F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")))
        .drop("_bucket")
    )
