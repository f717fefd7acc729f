"""Streaming windows & stateful ops (SURVEY.md §2.10).

The reference is batch-only; the driver's ``events`` table adds the
streaming surface. Design rule: every transform here takes a DataFrame
and works identically on a batch frame and a ``readStream`` frame — the
batch path is what the DuckDB oracle checks, the streaming path is
verified by the batch-stream equivalence test (same input, availableNow
trigger, identical end-of-stream result).

Session windows have two implementations with intentionally identical
results on bounded data:
- ``sessionize`` — gaps-and-islands via lag + cumulative sum window
  functions (batch; SQL-expressible → oracle-checkable);
- ``stream_session_counts`` — ``F.session_window`` (streaming-native,
  state-store backed, watermark-driven eviction at scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyspark.sql.types import TimestampNTZType

from ..operators.util import epoch_double


def _event_time_ready(df: DataFrame, ts_col: str) -> DataFrame:
    """Watermarks require TIMESTAMP (with local-tz semantics); parquet
    event tables read as TIMESTAMP_NTZ. Reinterpret in the session zone
    (pinned UTC by session.get_spark) on the STREAMING side only — batch
    twins keep their exact source type so oracle compares stay
    bit-identical."""
    if df.isStreaming and isinstance(
        df.schema[ts_col].dataType, TimestampNTZType
    ):
        return df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def tumbling_counts(
    events: DataFrame,
    ts_col: str = "ts",
    unit: str = "hour",
    extra_keys: tuple[str, ...] = ("event_type",),
    value_col: str | None = "value",
) -> DataFrame:
    """Tumbling window aggregate via ``date_trunc`` — identical semantics
    to ``F.window(ts, '1 hour')`` for aligned tumbling windows, but emits
    a flat timestamp column (oracle-friendly, and cheaper: no struct).
    ``value_col=None`` (or a frame without the column) skips the sum.
    """
    bucket = F.date_trunc(unit, F.col(ts_col)).alias("bucket")
    aggs = [F.count(F.lit(1)).alias("n_events")]
    if value_col is not None and value_col in events.columns:
        aggs.append(F.round(F.sum(value_col), 4).alias(f"sum_{value_col}"))
    return events.groupBy(bucket, *[F.col(k) for k in extra_keys]).agg(*aggs)


def sliding_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window_duration: str = "1 hour",
    slide: str = "30 minutes",
) -> DataFrame:
    """Sliding window aggregate via ``F.window`` (each event lands in
    window/slide buckets). Window struct flattened to start/end."""
    w = F.window(F.col(ts_col), window_duration, slide)
    return events.groupBy(w.alias("w"), "event_type").agg(
        F.count(F.lit(1)).alias("n_events")
    ).select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "event_type",
        "n_events",
    )


def sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
    tie_break_col: str | None = "event_id",
) -> DataFrame:
    """Batch sessionization (gaps-and-islands): a new session starts when
    the gap to the previous event of the same user exceeds ``gap_seconds``.

    Two window passes over the same (user, ts) partitioning — Spark
    reuses the single sort+shuffle for both. Emits one row per session:
    (user_id, session_start, session_end, n_events, session_seq).
    ``tie_break_col`` makes ordering deterministic for equal timestamps;
    it is skipped when absent from the frame.
    """
    order_cols = [F.col(ts_col).asc()]
    if tie_break_col is not None and tie_break_col in events.columns:
        order_cols.append(F.col(tie_break_col).asc())
    order = Window.partitionBy(user_col).orderBy(*order_cols)
    ts_sec = epoch_double(F.col(ts_col), events.schema[ts_col].dataType)
    gap = ts_sec - F.lag(ts_sec).over(order)
    marked = events.withColumn(
        "__new_session",
        F.when(gap.isNull() | (gap > gap_seconds), 1).otherwise(0),
    )
    numbered = marked.withColumn(
        "session_seq",
        F.sum("__new_session").over(
            order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        numbered.groupBy(user_col, "session_seq")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def stream_session_counts(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming-native session windows: ``F.session_window`` with a
    watermark bounds state (late events beyond the watermark are dropped —
    the deliberate trade for bounded state at 100 TB/day).

    Filter the result only after materializing it (``collect``,
    ``localCheckpoint`` or a sink). On a batch frame Spark pushes a
    predicate on ``session_end`` below the session merge, so it filters
    the per-event windows, not the merged sessions: for one user's
    events at minutes 0, 20, 40, 60 and 80, ``.where(session_end >
    01:40)`` returns 01:20–01:50 with n=1 instead of the one session
    00:00–01:50 with n=5 (pinned in tests/test_streaming.py)."""
    events = _event_time_ready(events, ts_col)
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap), F.col(user_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            user_col,
            "n_events",
        )
    )


def stream_tumbling_counts(
    events: DataFrame,
    ts_col: str = "ts",
    width: str = "1 hour",
    watermark: str = "1 hour",
    extra_keys: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Watermarked tumbling counts for APPEND-mode streaming — the
    late-data-policy twin of :func:`tumbling_counts` (whose date_trunc
    form serves the batch oracle): ``F.window`` + ``withWatermark``
    means a window is emitted exactly once, when the watermark passes
    its end, and events arriving later than ``watermark`` behind the
    stream's max event time are DROPPED rather than mutating an
    already-emitted row — the deliberate bounded-state trade every
    100 TB/day aggregation makes. The drop semantics are pinned
    end-to-end by
    tests/test_streaming.py::test_late_events_dropped_by_watermark
    (two micro-batches, a straggler in the second), which is in
    ``SLOW_SWEEPS`` and runs only with ``SPARK_GRAFT_FULL_TESTS=1``."""
    events = _event_time_ready(events, ts_col)
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(F.col(ts_col), width).alias("w"),
            *[F.col(k) for k in extra_keys],
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("bucket"), *extra_keys, "n_events"
        )
    )


def dedup_events(
    events: DataFrame,
    keys: tuple[str, ...] = ("event_id",),
    ts_col: str = "ts",
    watermark: str | None = None,
) -> DataFrame:
    """Exactly-once event dedup. Batch: plain ``dropDuplicates``.
    Streaming: pass ``watermark`` → ``dropDuplicatesWithinWatermark``
    keeps state bounded by the watermark horizon instead of growing
    forever (the difference between a demo and a pipeline)."""
    if watermark is not None:
        events = _event_time_ready(events, ts_col)
        return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            list(keys)
        )
    return events.dropDuplicates(list(keys))


def event_correlation_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    max_delay: str = "10 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join: pair each left event with right events
    of the same key occurring within ``[left.ts, left.ts + max_delay]``
    (e.g. "errors within 10 minutes after a click").

    Both sides carry a watermark and the join condition bounds the time
    range in BOTH directions — exactly what Structured Streaming needs
    to evict join state (an unbounded-range stream-stream join would
    buffer forever). On batch frames ``withWatermark`` is a no-op and
    the same plan runs as an ordinary equi join with a range residual —
    that batch twin is the DuckDB-oracle-checked q73. The shuffle key is
    ``key_col`` alone; the range predicate never degenerates to a
    nested loop because the equi key anchors the join.
    """
    lhs = _event_time_ready(left, ts_col).withWatermark(ts_col, watermark).alias("l")
    rhs = _event_time_ready(right, ts_col).withWatermark(ts_col, watermark).alias("r")
    lk, rk = F.col(f"l.{key_col}"), F.col(f"r.{key_col}")
    lt, rt = F.col(f"l.{ts_col}"), F.col(f"r.{ts_col}")
    return lhs.join(
        rhs,
        (lk == rk)
        & (rt >= lt)
        & (rt <= lt + F.expr(f"INTERVAL {max_delay}")),
        "inner",
    )
