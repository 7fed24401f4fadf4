"""Streaming window operators (SURVEY.md §2.9 I2–I5).

jane's rolling index stats and gap bookkeeping, as Structured Streaming
windowed aggregations. Each has a batch twin with identical semantics
(the contract oracle runs the batch form; availableNow ≡ batch).

Watermark posture (I5): late rows *within* the watermark update their
window; rows later than the watermark are dropped — the streaming
translation of jane's mtime-based late-reindex, with an explicit
lateness bound so state is finite at 100 TB/day rates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _with_event_time(df: DataFrame, ts: str, watermark: str | None) -> DataFrame:
    """Watermarks require TIMESTAMP (LTZ); our canonical event time is
    TIMESTAMP_NTZ. With the session timezone pinned UTC (engine.session)
    the NTZ→LTZ cast is value-preserving, so on the streaming path we
    cast before watermarking and cast window bounds back to NTZ on the
    way out — batch and stream results stay bit-identical."""
    if df.isStreaming:
        df = df.withColumn(ts, F.col(ts).cast("timestamp"))
        if watermark is not None:
            df = df.withWatermark(ts, watermark)
    return df


def tumbling_stats(
    df: DataFrame,
    ts: str,
    width: str = "1 hour",
    watermark: str | None = None,
    value: str = "value",
) -> DataFrame:
    """I2: per-window count + sum. On a stream pass ``watermark`` to
    bound state; on a batch frame leave it None (identical results)."""
    df = _with_event_time(df, ts, watermark)
    return (
        df.groupBy(F.window(ts, width).alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum(value), 3).alias("sum_value"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "n",
            "sum_value",
        )
    )


def session_spans(
    df: DataFrame,
    key: str,
    ts: str,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """I4 streaming form: ``session_window`` merges events with gaps
    below tolerance into spans per key — jane's continuous-coverage
    bookkeeping. The batch twin is operators.sessionize.session_summary
    (same spans; proven equivalent in tests).

    NOTE on semantics: session_window treats a gap EQUAL to the
    tolerance as a new session (strictly-less merges); the batch twin
    uses gap > tolerance as the break. Equal-gap events are measure-zero
    for continuous timestamps; tests avoid the exact boundary.
    """
    df = _with_event_time(df, ts, watermark)
    return (
        df.groupBy(F.col(key), F.session_window(ts, gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.min(ts).alias("session_start"),
             F.max(ts).alias("session_end"))
        .select(
            key,
            "n_events",
            F.col("session_start").cast("timestamp_ntz").alias("session_start"),
            F.col("session_end").cast("timestamp_ntz").alias("session_end"),
        )
    )


def dedup_within_watermark(
    df: DataFrame, keys: list[str], ts: str, watermark: str = "1 hour"
) -> DataFrame:
    """I6: idempotent re-ingest — the same content hash seen again within
    the watermark produces no new row; state expires after it. Batch
    twin: plain dropDuplicates (q_a4 exact dedup)."""
    if df.isStreaming:
        return _with_event_time(df, ts, watermark).dropDuplicatesWithinWatermark(keys)
    return df.dropDuplicates(keys)
