"""Structured Streaming queries as catalog entries.

Each entry drives a BOUNDED stream (file source over the events
parquet) to completion into a memory sink, then returns the result
table — so the same correctness gate that checks batch queries proves
**stream/batch agreement**: the streaming result must hash-match a
plain batch SQL oracle over the identical input.

- tumbling + sliding windows run in ``complete`` output mode (time
  windows support it), so every window is emitted and equality with
  the batch oracle is exact;
- session windows only support append/update in streaming, and append
  emits watermark-closed sessions only → rows-only at the gate, with
  exact subset agreement asserted in tests/test_streaming.py.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession

from ..functions.rounding import SQL_MONEY_SUM
from ..streaming.events import (
    dedup_event_stream,
    run_stream_to_memory,
    session_event_stats,
    sliding_event_stats,
    stream_events,
    windowed_event_stats,
)
from .registry import register


_STAGE_CACHE: dict[str, str] = {}


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the file source wants a DIRECTORY; stage a symlink dir holding
    # just the events parquet (cached per sf_dir — no data copy)
    stage = _STAGE_CACHE.get(sf_dir)
    if stage is None or not os.path.isdir(stage):
        stage = tempfile.mkdtemp(prefix="csetl_events_stream_")
        os.symlink(
            os.path.join(sf_dir, "events.parquet"),
            os.path.join(stage, "events.parquet"),
        )
        _STAGE_CACHE[sf_dir] = stage
    return stream_events(spark, stage)


@register(
    "streaming_hourly_stats",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS bucket_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           {SQL_MONEY_SUM("value", "total_value")}
    FROM events GROUP BY 1, 2
    """,
    doc="Tumbling-window streaming aggregate driven to completion and "
    "hash-checked against the BATCH oracle — the stream/batch "
    "agreement proof (complete mode emits every window).",
    tags=("streaming", "window", "agg"),
)
def streaming_hourly_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = windowed_event_stats(
        _events_stream(spark, sf_dir), window="1 hour", watermark="2 hours"
    )
    run_stream_to_memory(agg, "csetl_streaming_hourly", output_mode="complete")
    return spark.table("csetl_streaming_hourly")


@register(
    "streaming_sliding_counts",
    oracle="""
    WITH ex AS (
      SELECT event_type, time_bucket(INTERVAL 30 MINUTE, ts) AS b
      FROM events
      UNION ALL
      SELECT event_type,
             time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE
      FROM events
    )
    SELECT b AS bucket_start, event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM ex GROUP BY 1, 2
    """,
    doc="Sliding-window (1h window / 30m slide) streaming counts — each "
    "event lands in exactly two overlapping windows; oracle expands "
    "the two bucket memberships explicitly.",
    tags=("streaming", "window", "sliding"),
)
def streaming_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = sliding_event_stats(
        _events_stream(spark, sf_dir),
        window="1 hour",
        slide="30 minutes",
        watermark="2 hours",
    )
    run_stream_to_memory(agg, "csetl_streaming_sliding", output_mode="complete")
    return spark.table("csetl_streaming_sliding")


@register(
    "streaming_dedup_events",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    doc="Streaming deduplication (dropDuplicates on the state store) "
    "driven to completion and hash-checked against batch DISTINCT — "
    "only the key columns are emitted, so the result is deterministic; "
    "the bounded-state production variant is "
    "dropDuplicatesWithinWatermark (dedup_event_stream "
    "within_watermark=True).",
    tags=("streaming", "dedup"),
)
def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    deduped = dedup_event_stream(_events_stream(spark, sf_dir))
    run_stream_to_memory(deduped, "csetl_streaming_dedup", output_mode="append")
    return spark.table("csetl_streaming_dedup")


@register(
    "streaming_session_windows",
    # Append mode emits exactly the watermark-closed sessions, and for
    # a bounded replay that set IS deterministic: a session (end =
    # last event + gap, half-open window ⇒ an event AT the boundary
    # starts a NEW session, hence >= in the island mark) is emitted iff
    # its end < final watermark = max(ts) - 1 minute. Verified
    # row-identical at sf0.001 and sf0.01. NOTE: the batch user_sessions
    # query uses the strict-> gap (> 1800) per its own definition; the
    # session_window operator's half-open semantics give >=.
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR epoch(ts) - epoch(LAG(ts) OVER w) >= 1800
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), numbered AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS sid
      FROM marked
    ), sess AS (
      SELECT user_id, MIN(ts) AS session_start,
             MAX(ts) + INTERVAL 30 MINUTE AS session_end,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM numbered GROUP BY user_id, sid
    ), wm AS (SELECT MAX(ts) - INTERVAL 1 MINUTE AS w FROM events)
    SELECT session_start, session_end, user_id, n_events FROM sess, wm
    WHERE session_end < w
    """,
    doc="Per-user session windows (30m inactivity gap) over the event "
    "stream — dynamic-width windows merged by the state store; append "
    "mode emits sessions once the watermark passes their end. Oracled: "
    "for a bounded replay the emitted set is exactly the islands-form "
    "sessions whose end precedes the final watermark.",
    tags=("streaming", "window", "session"),
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = session_event_stats(
        _events_stream(spark, sf_dir), gap="30 minutes", watermark="1 minute"
    )
    run_stream_to_memory(agg, "csetl_streaming_sessions", output_mode="append")
    return spark.table("csetl_streaming_sessions")
