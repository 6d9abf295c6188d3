"""Event-stream operators (batch plans over the ``events`` table).

``windowed_agg`` buckets events into tumbling ``F.window`` windows.
``sessionize`` is the gap-based session assignment the reference's follow-up-history logic implies
(most-recent-record per entity over time), generalized to event data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def windowed_agg(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    window_duration: str = "1 hour",
) -> DataFrame:
    """Tumbling-window count/avg per key. Epoch-aligned windows (same
    semantics as date_trunc for whole-unit durations). Map-side partial agg.
    """
    return (
        events.groupBy(F.window(F.col(ts_col), window_duration), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(F.col(value_col)), 6).alias("avg_value"),
        )
        .select(
            F.col("window.start").alias("ws"),
            F.col(key_col),
            F.col("n"),
            F.col("avg_value"),
        )
    )


def sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    gap_minutes: int = 30,
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the time since the
    user's previous event exceeds the gap. lag + conditional cumulative sum —
    one shuffle on the user key, deterministic via the id tiebreak.
    """
    order = [F.col(ts_col), F.col(id_col)]
    w = Window.partitionBy(user_col).orderBy(*order)
    gap = F.lag(F.col(ts_col)).over(w)
    # µs precision — matches the engine's timestamp resolution exactly so
    # boundary cases agree with any µs-precision oracle.
    new_sess = F.when(
        gap.isNull()
        | (
            F.unix_micros(F.col(ts_col)) - F.unix_micros(gap)
            > gap_minutes * 60 * 1_000_000
        ),
        1,
    ).otherwise(0)
    wsum = (
        Window.partitionBy(user_col)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sessions = events.withColumn("__new", new_sess).withColumn(
        "session_num", F.sum("__new").over(wsum)
    )
    return sessions.groupBy(
        F.col(user_col), F.col("session_num").cast("bigint").alias("session_num")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
    )
