"""Q2 — global session stats per 10 s tumbling window.

Reference: ClickstreamProcessor.java:141-144 — Q1's output keyed by the
constant ``eventKey`` (all-to-one shuffle), 10 s tumbling event-time
windows, counting (sessions, buy-sessions) and an integer-truncated
percentage (UserSessionAggregates.java:16-29; UserSessionWindowFunction
decoration).

Spark-first design: a *global* streaming aggregate needs no constant-key
hack — ``groupBy(window(...))`` with no key column is the native form.
Sessions are bucketed by Flink's window-output timestamp convention
(``window.maxTimestamp()`` = session end − 1 ms); Spark's ``window_time``
(end − 1 µs) lands every session in the same 10 s bucket, so batch and
streaming agree (SURVEY.md §2.3.7).

Quirk replicated deliberately (SURVEY.md §2.3.1): the reference computes
``buy*100/total`` in Java integer math — truncation — then stores it in a
double; we use ``floor()`` for oracle parity.

Scale notes: partial aggregation makes the all-to-one funnel cheap (each
task pre-aggregates its partition to one row per window before the
exchange); state is one small row per live 10 s window.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_WINDOW = "10 seconds"


def percent_sessions_with_buy(buy_count, total_count):
    """THE percent formula (UserSessionAggregates.java:16-29): Java integer
    division ``buy*100/total`` — truncation — stored in a double. One
    definition shared by the direct Q2 aggregate and the partial-merge path
    (streaming.pipeline.merge_session_stats_partials), so the two cannot
    desync."""
    return F.floor(buy_count * 100 / total_count).cast("double")


def think_time_stats(clickevents: DataFrame) -> DataFrame:
    """Per-event-type inter-event gap statistics — the time since the SAME
    user's previous event (any type), attributed to the later event's
    type: the classic clickstream "think time" metric, and the engine's
    explicit lag()/analytic-window demonstration (the reference has no
    analytic functions at all, SURVEY §2.2).

    Scale shape: ONE shuffle on userid + a per-partition sort feeds the
    lag window (identical partitioning to the sessionizer — on a bucketed
    events table even that exchange disappears, tests/test_bucketing.py);
    the per-type aggregate is map-side-combined into ≤|event types| rows.
    avg is one sum/count double division (correctly rounded, so the DuckDB
    twin replays it exactly); min/max/count are integers."""
    from pyspark.sql import Window

    w = Window.partitionBy("userid").orderBy("eventtimestamp", "globalseq")
    gap = F.col("eventtimestamp") - F.lag("eventtimestamp").over(w)
    return (
        clickevents.select("event_type", gap.alias("gap_ms"))
        .filter(F.col("gap_ms").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.min("gap_ms").alias("min_gap_ms"),
            F.max("gap_ms").alias("max_gap_ms"),
            (F.sum("gap_ms") / F.count(F.lit(1))).alias("avg_gap_ms"),
        )
    )


def session_stats_plan(
    window: str = DEFAULT_WINDOW,
) -> Callable[[DataFrame], DataFrame]:
    """Q2 as a once-built plan: UserIdSessionEvent rows (with the
    ``_session`` window col) → UserIdAggEvent rows.

    Buckets each session at window_time(_session) = session end − 1 µs; this
    is also the streaming-correct chained-stateful form (Spark ≥ 3.4).
    Every Catalyst expression is built here, once; applying the returned
    plan only chains DataFrame calls, so a per-micro-batch caller
    (streaming.pipeline.session_fanout) pays no expression building.
    """
    buy = F.col("orderCheckoutEventCount") != 0
    bucket = F.window(F.window_time("_session"), window).alias("bucket")
    aggregates = (
        F.count(F.lit(1)).cast("int").alias("userSessionCount"),
        F.count(F.when(buy, F.lit(1)))
        .cast("int")
        .alias("userSessionCountWithOrderCheckout"),
    )
    output = (
        F.col("userSessionCount"),
        F.col("userSessionCountWithOrderCheckout"),
        # integer-division truncation kept for reference parity
        percent_sessions_with_buy(
            F.col("userSessionCountWithOrderCheckout"),
            F.col("userSessionCount"),
        ).alias("percentSessionswithBuy"),
        F.unix_millis(F.col("bucket.start")).alias("windowBeginTime"),
        F.unix_millis(F.col("bucket.end")).alias("windowEndTime"),
    )

    def plan(user_sessions: DataFrame) -> DataFrame:
        return user_sessions.groupBy(bucket).agg(*aggregates).select(*output)

    return plan
