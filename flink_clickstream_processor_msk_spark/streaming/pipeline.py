"""The streaming job: Q1 → {F1, Q2, Q3} fan-out.

Reference shape (ClickstreamProcessor.java:57-272): one source, the Q1
session aggregation feeding three downstream pipelines, each with its own
sink. Spark equivalent: the sessionized streaming DataFrame is *declared
once* and referenced by three ``writeStream`` queries — each query gets its
own checkpoint and re-executes the shared plan (micro-batch sources are
replayable, so this is correct; state is per-query).

Q2/Q3 chain a second stateful operator (tumbling window) after the session
window inside one query — Spark >= 3.4 chained-stateful semantics, with the
bucket keyed on ``window_time(session)`` = session end − 1 µs, matching
Flink's window.maxTimestamp() bucketing (SURVEY.md §2.3.7).

The reference's zero-slack watermark (ClickEventTimestampWatermarkGenerator
.java:14-16) maps to ``withWatermark(ts, '0 seconds')``: out-of-order events
behind the max seen timestamp are dropped at the session operator, late
windows are finalized exactly once.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor, wait
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from flink_clickstream_processor_msk_spark.operators.departments import (
    department_counts_plan,
)
from flink_clickstream_processor_msk_spark.operators.session_stats import (
    percent_sessions_with_buy,
    session_stats_plan,
)
from flink_clickstream_processor_msk_spark.operators.sessionize import (
    buy_sessions_plan,
    drop_internal,
    sessionize,
)


@dataclass
class ClickstreamStreams:
    """The three output streams of the reference job."""

    user_sessions: DataFrame  # Q1 (UserIdSessionEvent)
    buy_sessions: DataFrame  # F1 -> K3/E3 (CP:133-134, 243-251)
    session_stats: DataFrame  # Q2 -> K2/E2 (CP:141-144, 231-239)
    department_counts: DataFrame  # Q3 -> K1/E1 (CP:149-154, 208-227)


def build_streams(
    clickevents: DataFrame,
    gap: str = "1 second",
    window: str = "10 seconds",
) -> ClickstreamStreams:
    """Declare the full dataflow over a (batch or streaming) ClickEvent DF.

    ``clickevents`` must carry the event-time column ``ts`` (see
    sources.clickevents.with_event_time); in streaming mode it must also
    have a watermark or the stateful operators cannot finalize windows.
    """
    sessions = sessionize(clickevents, gap=gap)
    return ClickstreamStreams(
        user_sessions=drop_internal(sessions),
        buy_sessions=buy_sessions_plan()(sessions),
        session_stats=session_stats_plan(window)(sessions),
        department_counts=department_counts_plan(window)(sessions),
    )


# --- single-pass fan-out (SURVEY §7.1 M5 alternative) ----------------------
#
# The multi-query fan-out above re-reads and re-sessionizes the source once
# per sink (three session-window state stores, three source passes —
# measured ~2.3× slower end-to-end than a single Q1 query, BASELINE.md).
# The single-pass form runs ONE streaming query — sessionize once — and
# fans out inside foreachBatch: each micro-batch of FINALIZED sessions
# (append mode emits a session exactly once, when the watermark passes) is
# filtered/aggregated with the same batch operator plans and handed to
# three writer callables.
#
# Per micro-batch: the batch is persisted and materialized by ONE action,
# the only run of the session-window stage (and of its state-store
# commit); the three writers then run CONCURRENTLY on a process-wide pool
# of three threads, each reading the cached batch, each job still in the
# streaming query's job group (so query.stop() cancels them). At this
# batch size the per-trigger coordination sets the throughput, not the
# data (Drizzle, PAPERS.md): the two small Q2/Q3 shuffle jobs overlap
# instead of queueing, and the derivations' Catalyst expressions are built
# once per session_fanout() call, not once per batch. The cache is dropped
# only after every writer has returned — a writer reading an unpersisted
# batch would silently re-run the stateful stage.
#
# Failure semantics: each writer stays at-least-once, as with sequential
# writers (a failed batch fails the query, and a restart replays it whole
# under the same epoch id, so writers that succeeded see it again —
# sinks.dedup_epochs is the guard). A failing writer does not stop the
# other two; the first error, in writer order (buy, Q2, Q3), is raised
# once all three have returned.
#
# Semantics trade, stated precisely: buy-sessions are exact (a stateless
# filter over finalized sessions). Q2/Q3 rows become PER-BATCH PARTIAL
# window aggregates — sessions of one 10 s bucket can finalize across
# several micro-batches, so a bucket may be emitted more than once with
# disjoint contributions. The counts are additive, so an additive-merge
# sink (e.g. an upsert-with-add keyed on the window bounds — the natural
# Elasticsearch/keyed-compacted-topic form) reconstructs the exact totals;
# merge_*_partials below ARE that merge, and the streaming test pins
# merged(single-pass) == multi-query == batch. The reference itself leans
# on idempotent ES doc-ids for its sink semantics (SURVEY §2.1 E1-E3).

BatchWriter = Callable[[DataFrame, int], None]

#: name prefix of the fan-out writer threads
FANOUT_THREAD_PREFIX = "session-fanout"

#: one pool for every fan-out in the process, one thread per writer;
#: threads start on first use
_WRITER_POOL = ThreadPoolExecutor(
    max_workers=3, thread_name_prefix=FANOUT_THREAD_PREFIX
)


def session_fanout(
    write_buy: BatchWriter,
    write_session_stats: BatchWriter,
    write_department_counts: BatchWriter,
    window: str = "10 seconds",
) -> BatchWriter:
    """foreachBatch callable for the single-pass fan-out over a sessionized
    stream (``sessionize(clickevents)`` in append mode).

    The three derivations (buy projection, Q2, Q3) are built here, once.
    Per micro-batch the batch of finalized sessions is persisted and
    materialized by one ``count()`` — the single run of the session-window
    stage — and the three writers then run concurrently on the process-wide
    writer pool, each on its derivation of the cached batch. Each writer
    task inherits the calling thread's Spark local properties, so its jobs
    stay in the streaming query's job group and ``query.stop()`` cancels
    them. The batch is unpersisted only after all three writers return.

    On failure each writer stays at-least-once, as before: a failing
    writer does not stop the others, and once all three have returned the
    first error in writer order (buy, Q2, Q3) is raised. That fails the
    query; a restart from its checkpoint replays the batch whole, under
    the same epoch id."""
    writers = (
        (write_buy, buy_sessions_plan()),
        (write_session_stats, session_stats_plan(window)),
        (write_department_counts, department_counts_plan(window)),
    )

    def fan_out(sessions_batch: DataFrame, epoch_id: int) -> None:
        def write_derived(write: BatchWriter, plan) -> None:
            write(plan(sessions_batch), epoch_id)

        sessions_batch.persist()
        try:
            sessions_batch.count()
            session = sessions_batch.sparkSession
            futures = [
                _WRITER_POOL.submit(
                    inheritable_thread_target(session)(write_derived), write, plan
                )
                for write, plan in writers
            ]
            wait(futures)
        finally:
            sessions_batch.unpersist()
        errors = [e for f in futures if (e := f.exception()) is not None]
        if errors:
            raise errors[0]

    return fan_out


def merge_session_stats_partials(partials: DataFrame) -> DataFrame:
    """Additive merge of per-batch Q2 partials → exact Q2 rows.

    Counts sum; the truncated percent is recomputed from the merged counts
    via the ONE shared formula (operators.session_stats.
    percent_sessions_with_buy) — it is not additive itself."""
    return (
        partials.groupBy("windowBeginTime", "windowEndTime")
        .agg(
            F.sum("userSessionCount").cast("int").alias("userSessionCount"),
            F.sum("userSessionCountWithOrderCheckout")
            .cast("int")
            .alias("userSessionCountWithOrderCheckout"),
        )
        .select(
            "userSessionCount",
            "userSessionCountWithOrderCheckout",
            percent_sessions_with_buy(
                F.col("userSessionCountWithOrderCheckout"),
                F.col("userSessionCount"),
            ).alias("percentSessionswithBuy"),
            "windowBeginTime",
            "windowEndTime",
        )
    )


def merge_department_counts_partials(partials: DataFrame) -> DataFrame:
    """Additive merge of per-batch Q3 partials → exact Q3 rows."""
    return (
        partials.groupBy("departmentName", "windowBeginTime", "windowEndTime")
        .agg(F.sum("departmentCount").cast("int").alias("departmentCount"))
        .select(
            "departmentName",
            "departmentCount",
            "windowBeginTime",
            "windowEndTime",
        )
    )
