"""B-stream batch-equivalent queries (SURVEY.md §2): tumbling, sliding and
session event-time windows over the events table.

These use the same ``F.window``/``F.session_window`` operators Structured
Streaming executes incrementally; run in batch mode they are deterministic
and oracle-checkable (DuckDB time_bucket / gaps-and-islands SQL).  The
true-streaming behaviors (watermarks, late data, stateful ops) live in
``harness.py`` as rows-only checks.

events.ts rule (SURVEY.md §5.3): parquet stores ns, Spark truncates to µs —
every query second-truncates in-plan so both engines see equal values; all
window starts/ends leave the plan as strings.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from ..operators._util import T
from ..plans.registry import register


def _events_trunc(spark, d):
    return T(spark, d, "events").select(
        "event_id", "user_id", "event_type", "value",
        F.date_trunc("second", "ts").alias("tss"))


@register(
    "stream_tumbling_window",
    oracle="""
    SELECT CAST(time_bucket(INTERVAL 1 HOUR, date_trunc('second', ts)) AS VARCHAR)
               AS window_start,
           event_type,
           count(*) AS cnt,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling_window(spark, d):
    """1-hour tumbling window per event type.  In streaming this is an
    incremental stateful aggregate; partial aggregation keeps the shuffle
    bounded by |windows × types|."""
    e = _events_trunc(spark, d)
    return (
        e.groupBy(F.window("tss", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").cast("string").alias("window_start"),
                "event_type", "cnt", "total_value")
    )


@register(
    "stream_sliding_window",
    oracle="""
    WITH shifted AS (
        SELECT time_bucket(INTERVAL 15 MINUTE, date_trunc('second', ts))
                   - k.off * INTERVAL 15 MINUTE AS window_start,
               value
        FROM events, (SELECT unnest([0, 1, 2, 3]) AS off) k
    )
    SELECT CAST(window_start AS VARCHAR) AS window_start,
           count(*) AS cnt,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_value
    FROM shifted
    GROUP BY 1
    """,
)
def stream_sliding_window(spark, d):
    """1-hour window sliding every 15 min — each event lands in 4 windows.
    The oracle reproduces Spark's window assignment by shifting the 15-min
    bucket 0..3 slides back."""
    e = _events_trunc(spark, d)
    return (
        e.groupBy(F.window("tss", "1 hour", "15 minutes").alias("w"))
        .agg(F.count("*").alias("cnt"),
             (F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
              / F.count("*")).alias("avg_value"))
        .select(F.col("w.start").cast("string").alias("window_start"), "cnt", "avg_value")
    )


@register(
    "stream_session_window",
    oracle="""
    WITH ordered AS (
        SELECT user_id, date_trunc('second', ts) AS tss, event_id,
               lag(date_trunc('second', ts)) OVER (
                   PARTITION BY user_id
                   ORDER BY date_trunc('second', ts), event_id) AS prev_ts
        FROM events
    ), flagged AS (
        -- strictly greater: Spark's session_window MERGES an event landing
        -- exactly on the session end (end >= nextStart), so a gap of
        -- exactly 30min continues the session
        SELECT user_id, tss, event_id,
               CASE WHEN prev_ts IS NULL
                         OR tss > prev_ts + INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM ordered
    ), sessioned AS (
        SELECT user_id, tss, event_id,
               sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY tss, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM flagged
    )
    SELECT user_id, CAST(min(tss) AS VARCHAR) AS session_start,
           count(*) AS n_events, min(event_id) AS first_event
    FROM sessioned
    GROUP BY user_id, session_id
    """,
)
def stream_session_window(spark, d):
    """Session windows with a 30-minute gap per user (F.session_window).
    Oracle reproduces the merge semantics with gaps-and-islands SQL: a new
    session starts only when the gap to the previous event EXCEEDS 30 min
    (Spark merges an event landing exactly on the session end)."""
    e = _events_trunc(spark, d)
    return (
        e.groupBy(F.session_window("tss", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.min("event_id").alias("first_event"))
        .select("user_id", F.col("w.start").cast("string").alias("session_start"),
                "n_events", "first_event")
    )


@register(
    "stream_static_join",
    oracle="""
    SELECT e.event_id, e.event_type, c.c_name, c.c_mktsegment
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_type IN ('purchase', 'signup')
    """,
)
def stream_static_join(spark, d):
    """Stream-static enrichment join, executed via a real readStream over
    the parquet file source with an availableNow trigger (the batch join is
    the oracle — stream-static inner join semantics are identical)."""
    from .harness import run_stream_to_df

    def build(stream_df):
        static_c = T(stream_df.sparkSession, d, "customer").select(
            "c_custkey", "c_name", "c_mktsegment")
        return (stream_df
                .filter(F.col("event_type").isin("purchase", "signup"))
                .join(static_c, F.col("user_id") == F.col("c_custkey"))
                .select("event_id", "event_type", "c_name", "c_mktsegment"))

    return run_stream_to_df(spark, d, build, name="stream_static_join")


@register(
    "stream_topk_per_window",
    oracle="""
    WITH a AS (
        SELECT time_bucket(INTERVAL 1 HOUR, date_trunc('second', ts))
                   AS ws,
               event_type, count(*) AS cnt
        FROM events
        WHERE ts IS NOT NULL AND event_type IS NOT NULL
        GROUP BY 1, 2
    ), r AS (
        SELECT ws, event_type, cnt,
               row_number() OVER (PARTITION BY ws
                                  ORDER BY cnt DESC, event_type ASC)
                   AS rnk
        FROM a
    )
    SELECT CAST(ws AS VARCHAR) AS window_start, event_type,
           CAST(cnt AS BIGINT) AS cnt, CAST(rnk AS BIGINT) AS rnk
    FROM r WHERE rnk <= 2
    """,
)
def stream_topk_per_window(spark, d):
    """Per-window top-k: the 2 busiest event types in every 1-hour
    tumbling window, with their rank — the trending-topics shape.  In
    production streaming this splits exactly here: the windowed count
    is the incremental stateful aggregate (update mode, watermark
    bounds state), and the ranking runs over the AGGREGATED relation in
    the sink/foreachBatch — which is why the batch form below ranks
    after the groupBy rather than windowing the raw events.  The rank's
    input is bounded by |windows x types|, never the event volume, so
    the per-window sort is metadata-sized at any corpus scale; ties
    break to event_type ASC for an engine-stable hash."""
    from pyspark.sql import Window

    e = _events_trunc(spark, d).filter(
        F.col("tss").isNotNull() & F.col("event_type").isNotNull())
    agg = (e.groupBy(F.window("tss", "1 hour").alias("w"), "event_type")
           .agg(F.count("*").alias("cnt")))
    rnk = F.row_number().over(
        Window.partitionBy("w").orderBy(F.col("cnt").desc(),
                                        F.col("event_type").asc()))
    return (agg.withColumn("rnk", rnk)
            .filter(F.col("rnk") <= 2)
            .select(F.col("w.start").cast("string").alias("window_start"),
                    "event_type", F.col("cnt").cast("bigint").alias("cnt"),
                    F.col("rnk").cast("bigint").alias("rnk")))
