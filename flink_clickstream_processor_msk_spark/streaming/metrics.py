"""Streaming observability — per-micro-batch metrics capture.

The reference runs on Kinesis Data Analytics, which exports Flink job
metrics (records in/out, state size, watermark lag) to CloudWatch for
free; a Spark deployment gets the same signals from
``StreamingQueryListener`` progress events. This module packages the
listener so every job built on this engine can record throughput and
state-store growth per micro-batch — the two numbers that predict trouble
at scale (falling processedRowsPerSecond = the job can't keep up;
unbounded state rows = a missing watermark or an unclosable window).

Driver-side and allocation-light: one small dict per micro-batch, kept in
a bounded deque — safe to leave attached for the life of a job. For a
real deployment, subclass and forward to the metrics system of record
instead of (or as well as) the ring buffer.
"""

from __future__ import annotations

import threading
from collections import deque
from typing import Any

from pyspark.sql.streaming import StreamingQueryListener

#: ``durationMs`` phases of one trigger, in execution order;
#: ``triggerExecution`` is the whole trigger, the other five included.
#: A phase a trigger did not run (a trigger with no new offsets skips all
#: but latestOffset) reads 0.
TRIGGER_PHASES = (
    "latestOffset",
    "walCommit",
    "queryPlanning",
    "addBatch",
    "commitOffsets",
    "triggerExecution",
)


class BatchMetricsListener(StreamingQueryListener):
    """Record per-batch progress for every streaming query on the session.

    Each entry: query name/id, batchId, numInputRows, input/processed
    rows-per-second, event-time watermark, total state rows across
    stateful operators (session windows, tumbling aggs, dedup state),
    ``duration_ms`` (the ``TRIGGER_PHASES`` walls) and ``state_commit_ms``
    (state-store commit time summed over the stateful operators).
    ``triggerExecution - addBatch`` is the trigger's fixed cost outside
    the batch's jobs: source listing, offset and commit logs, planning.
    State commits run inside addBatch's tasks, hence their own field."""

    def __init__(self, max_entries: int = 10_000) -> None:
        # the listener bus appends from its own thread while callers read;
        # snapshot/append under a lock (iterating a deque that another
        # thread mutates raises RuntimeError)
        self._lock = threading.Condition()
        self.records: deque[dict[str, Any]] = deque(maxlen=max_entries)
        self._terminated: set[str] = set()

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        state_rows = sum(op.numRowsTotal for op in p.stateOperators)
        with self._lock:
            self.records.append(
                {
                    "name": p.name,
                    "id": str(p.id),
                    "batch_id": p.batchId,
                    "num_input_rows": p.numInputRows,
                    "input_rows_per_sec": p.inputRowsPerSecond,
                    "processed_rows_per_sec": p.processedRowsPerSecond,
                    "watermark": p.eventTime.get("watermark"),
                    "state_rows": state_rows,
                    "duration_ms": {
                        phase: p.durationMs.get(phase, 0)
                        for phase in TRIGGER_PHASES
                    },
                    "state_commit_ms": sum(
                        op.commitTimeMs for op in p.stateOperators
                    ),
                }
            )

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        with self._lock:
            self._terminated.add(str(event.id))
            self._lock.notify_all()

    def for_query(self, name: str) -> list[dict[str, Any]]:
        with self._lock:
            snapshot = list(self.records)
        return [r for r in snapshot if r["name"] == name]

    def for_stopped(self, ids, timeout: float = 60.0) -> list[dict[str, Any]]:
        """Records of the stopped queries ``ids``, once the bus has
        delivered each one's termination event (it follows the query's
        last progress event); raises ``TimeoutError`` otherwise."""
        ids = {str(i) for i in ids}
        with self._lock:
            if not self._lock.wait_for(
                lambda: ids <= self._terminated, timeout=timeout
            ):
                raise TimeoutError(
                    f"no termination event for {sorted(ids - self._terminated)}"
                )
            return [r for r in self.records if r["id"] in ids]


def attach_metrics(spark, max_entries: int = 10_000) -> BatchMetricsListener:
    """Attach a fresh recorder to the session; detach with
    ``spark.streams.removeListener(listener)`` when done."""
    listener = BatchMetricsListener(max_entries)
    spark.streams.addListener(listener)
    return listener
