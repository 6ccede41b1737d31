"""Event-stream operators (batch + Structured Streaming shared logic).

The reference has no event-time semantics (SURVEY §2.10 — its 'streaming'
is concurrent read-while-write on one node); these operators cover the
stream side a corpus-ingest pipeline needs. The same transformation
functions run on a batch DataFrame (driver correctness gate vs DuckDB) and
on a readStream DataFrame (jvector_spark/streaming/), which is the point of
Structured Streaming's unified API.

Window keys are epoch-hour longs (`floor(epoch/3600)`) rather than
timestamp structs so results hash identically across engines/timezones;
session timezone is pinned to UTC by the caller.

On `round(sum(value), 4)`: float summation is order-dependent, so a
round() of it is engine-invariant ONLY under a data contract — `value`
is a fixed-point quantity with <= 2 decimal digits (the events fixture;
money-like telemetry in general). Then every group's true sum lies on
the 2-dp grid, >= 5e-5 from any 4-dp rounding boundary, while summation
-order error stays ~1e-8 — no ordering can flip the rounding. For
free-form doubles, use the floor-scaled-integer discipline
(textstats.quality_scores) instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hourly_rollup(events: DataFrame, ts_col: str = "ts") -> DataFrame:
    """(bucket_hour, event_type, n_events, sum_value, n_users) — tumbling
    1-hour rollup. Partial+final hash aggregation; group key (hour x type)
    is low-cardinality, no skew concern."""
    return (
        events.withColumn(
            "bucket_hour",
            F.floor(F.unix_timestamp(F.col(ts_col)) / F.lit(3600)).cast("long"),
        )
        .groupBy("bucket_hour", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """(user_id, session_idx, n_events, sum_value, start_sec, end_sec) —
    gap-based sessionization: a session breaks when a user is idle longer
    than `gap_minutes`.

    Timestamps compared at microsecond precision as float64
    epoch seconds (exact below 2^53 micro-units) — never unix_timestamp,
    which truncates to seconds and can move a boundary.

    Shuffle: one hash partition by user_id for the window, then the
    groupBy reuses the same partitioning (no second exchange).
    """
    from pyspark.sql import Window

    # NTZ -> TIMESTAMP (UTC session) -> double: epoch seconds at
    # microsecond precision (exact in float64 below 2^53 micro-units)
    sec = F.col("ts").cast("timestamp").cast("double")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    with_sess = (
        events.withColumn("_sec", sec)
        .withColumn(
            "_new",
            F.when(
                F.lag("_sec").over(w).isNull()
                | ((F.col("_sec") - F.lag("_sec").over(w))
                   > F.lit(gap_minutes * 60.0)),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("session_idx", F.sum("_new").over(run).cast("long"))
    )
    return with_sess.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
        F.floor(F.min("_sec")).cast("long").alias("start_sec"),
        F.floor(F.max("_sec")).cast("long").alias("end_sec"),
    )


def user_activity(events: DataFrame) -> DataFrame:
    """(user_id, n_events, n_types, total_value, first_hour, last_hour) —
    per-user profile aggregation."""
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
        F.round(F.sum("value"), 4).alias("total_value"),
        F.floor(F.unix_timestamp(F.min("ts")) / 3600).cast("long").alias("first_hour"),
        F.floor(F.unix_timestamp(F.max("ts")) / 3600).cast("long").alias("last_hour"),
    )
