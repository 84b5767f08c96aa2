"""Series derivation — long-format (series_id, t, value) frames from raw tables.

The engine's canonical detector input is a keyed, indexed, double-valued
series (SURVEY.md §1.3). These helpers stay entirely in JVM-side column
expressions (window functions), so Catalyst prunes/pushes everything; no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W, functions as F


def events_series(
    events: DataFrame, value_col: str = "value", colocate: int | None = None
) -> DataFrame:
    """events(event_id, ts, user_id, ...) → (series_id, t, value) ordered per
    user; t is the per-user 0-based position by (ts, event_id).

    ``colocate=n`` puts an EXPLICIT ``repartition(n, series_id)`` under the
    window instead of the window's own ENSURE_REQUIREMENTS exchange: the
    same single shuffle, but (a) user-specified, so AQE's byte-based
    coalescing cannot merge the small-but-Python-heavy partitions down to a
    handful, and (b) a co-location guarantee — every partition holds only
    complete series — which the engine's one detect/encode dispatch
    (detect_lockstep_colocated, encode_segments_colocated) requires. Feed
    every detect or encode from ``colocate=n``. Values are identical either
    way."""
    keyed = events.select(
        F.col("user_id").cast("string").alias("series_id"),
        "ts",
        "event_id",
        F.col(value_col).cast("double").alias("value"),
    )
    if colocate is not None:
        keyed = keyed.repartition(colocate, "series_id")
    w = W.partitionBy("series_id").orderBy("ts", "event_id")
    return keyed.select(
        "series_id",
        (F.row_number().over(w) - F.lit(1)).alias("t"),
        "value",
    )


def turn_rate_series(
    transcripts: DataFrame,
    key: str = "conv_id",
    order: str = "turn_idx",
    ts: str = "ts",
) -> DataFrame:
    """Per-conversation turn-rate series: value_t = 1 / seconds(ts_t - ts_{t-1}).

    The derived `input_hint` series for transcripts: a change in inter-turn
    gap distribution shows up as a level shift in the rate.
    """
    w = W.partitionBy(key).orderBy(order)
    gap = F.col(ts).cast("timestamp").cast("double") - F.lag(F.col(ts).cast("timestamp").cast("double")).over(w)
    return (
        transcripts.select(
            F.col(key).alias("series_id"),
            F.col(order).alias("t"),
            gap.alias("gap_s"),
        )
        .filter(F.col("gap_s").isNotNull() & (F.col("gap_s") > 0))
        .select("series_id", "t", (F.lit(1.0) / F.col("gap_s")).alias("value"))
    )


def tool_call_rate_series(
    transcripts: DataFrame,
    bucket_turns: int = 20,
    key: str = "conv_id",
    order: str = "turn_idx",
) -> DataFrame:
    """Per-conversation tool-call-rate over fixed micro-buckets of turns:
    fraction of turns in each ``bucket_turns`` block that carry a tool call."""
    bucket = (F.col(order) / bucket_turns).cast("long")
    return (
        transcripts.groupBy(F.col(key).alias("series_id"), bucket.alias("t"))
        .agg(
            (
                F.sum(F.when(F.col("tool").isNotNull(), 1).otherwise(0))
                / F.count(F.lit(1))
            ).alias("value")
        )
    )


def inter_event_gap_series(events: DataFrame) -> DataFrame:
    """Per-user inter-event gap (seconds) series from the events table."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap: Column = F.col("ts").cast("timestamp").cast("double") - F.lag(F.col("ts").cast("timestamp").cast("double")).over(w)
    return (
        events.select(
            F.col("user_id").cast("string").alias("series_id"),
            (F.row_number().over(w) - F.lit(1)).alias("t"),
            gap.alias("value"),
        )
        .filter(F.col("value").isNotNull())
    )
