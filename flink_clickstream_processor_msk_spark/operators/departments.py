"""Q3 — per-department session counts per 10 s tumbling window.

Reference: ClickstreamProcessor.java:149-154 — Q1's output flat-mapped to
``(department, 1)`` pairs (DepartmentsFlatMap.java:7-12), re-keyed by
department, 10 s tumbling windows, incremental sum
(DepartmentsAggReduceFunction.java:6-11), window-bounds decoration.

Spark-first: ``explode(deptList)`` is the flatMap; ``groupBy(department,
window(...)).count()`` is the keyed reduce — partial/final aggregation
replaces the hand-written ReduceFunction, and the (dept, 1) pair never
materializes.

Scale notes: explode is narrow (no shuffle); the single shuffle is the
groupBy on (department, bucket). Low-cardinality skewed departments get
map-side combine (each upstream task emits ≤ |departments| rows per window)
so the hot reducer receives pre-aggregated counts, not raw sessions.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_clickstream_processor_msk_spark.functions.predicates import (
    is_real_product,
)
from flink_clickstream_processor_msk_spark.operators.session_stats import (
    DEFAULT_WINDOW,
)


def department_counts_plan(
    window: str = DEFAULT_WINDOW,
) -> Callable[[DataFrame], DataFrame]:
    """Q3 as a once-built plan: UserIdSessionEvent rows (with the
    ``_session`` col) → DepartmentsAggEvent rows. Like
    session_stats.session_stats_plan, every expression is built here and
    the returned plan only chains DataFrame calls."""
    exploded = (
        F.explode(F.col("deptList")).alias("departmentName"),
        F.window_time("_session").alias("_wt"),
    )
    keys = (F.col("departmentName"), F.window(F.col("_wt"), window).alias("bucket"))
    count = F.count(F.lit(1)).cast("int").alias("departmentCount")
    output = (
        F.col("departmentName"),
        F.col("departmentCount"),
        F.unix_millis(F.col("bucket.start")).alias("windowBeginTime"),
        F.unix_millis(F.col("bucket.end")).alias("windowEndTime"),
    )

    def plan(user_sessions: DataFrame) -> DataFrame:
        return (
            user_sessions.select(*exploded)
            .groupBy(*keys)
            .agg(count)
            .select(*output)
        )

    return plan


def sliding_department_activity(
    clickevents: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
) -> DataFrame:
    """Per-department event counts over SLIDING event-time windows — the
    one streaming-window kind the reference lacks entirely (SURVEY §2.2:
    session + tumbling only). Each event lands in window/slide overlapping
    buckets; the same declaration runs batch or streaming (`F.window`'s
    slide form is Spark's native sliding window; with a watermark it is
    the streaming trending-view).

    Scale shape: the window expression EXPANDS each row to window/slide
    (here 2) bucket rows before the one (department, bucket) shuffle —
    cost is a constant small multiple of the tumbling plan, and map-side
    combine still caps the exchange at |departments| × |live windows| rows
    per task. Filter (real products only) pushes into the scan.

    Windows ride the ``ts`` event-time column when present (streaming mode
    needs the WATERMARKED attribute itself — an equal-valued fresh
    expression would not carry the watermark and append mode would
    reject the aggregate); batch callers without ``ts`` get the identical
    value derived from ``eventtimestamp``."""
    event_time = (
        F.col("ts")
        if "ts" in clickevents.columns
        else F.timestamp_millis("eventtimestamp")
    )
    return (
        clickevents.filter(is_real_product())
        .groupBy(
            F.window(event_time, window, slide).alias("bucket"),
            F.col("product_type").alias("departmentName"),
        )
        .agg(F.count(F.lit(1)).cast("int").alias("eventCount"))
        .select(
            "departmentName",
            "eventCount",
            F.unix_millis(F.col("bucket.start")).alias("windowBeginTime"),
            F.unix_millis(F.col("bucket.end")).alias("windowEndTime"),
        )
    )
