"""Streaming throughput benchmark — the self-set baseline BASELINE.md records.

Replays the sf-tier `events` table through the full micro-batch pipeline
(source shim → watermark → Q1 session windows → {buy filter, Q2, Q3}) with
noop sinks, in BOTH fan-out architectures (SURVEY §7.1 M5):

- ``multi_query``: three independent streaming queries, each re-reading and
  re-sessionizing the source (exact finalized windows, per-sink isolation —
  streaming/job.py run());
- ``single_pass``: one streaming query, sessionize once, foreachBatch fans
  out buy-filter/Q2/Q3 per micro-batch (Q2/Q3 as additive partials —
  streaming/job.py run_single_pass()).

The reference publishes no numbers (BASELINE.md); these measurements are the
repo's own bar: stay within 2× of the recorded value at the same scale
factor. The headline ``value`` is the MEDIAN of the per-mode runs for the
production-default mode (single_pass — the measured winner; decision
recorded in BASELINE.md/PLANS.md), so the regression check is not anchored
to a lucky best-of-N run; best/min sit in the spread.

Each ``modes`` entry also carries the trigger's fixed cost, read from
``streaming/metrics.BatchMetricsListener`` over the mode's timed runs:
``fixed_ms_p50`` (triggerExecution - addBatch: source listing, offset and
commit logs, planning) and ``state_commit_ms_p50`` (inside addBatch), each
the median over the triggers that read input (all triggers if none did).

Prints one JSON line:
    {"metric": "streaming_events_per_sec", "value": N, "unit": "events/sec",
     "mode": "...", "events": n, "wall_sec": s,
     "modes": {"multi_query": {...}, "single_pass": {...}}, "sf": dir}
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from flink_clickstream_processor_msk_spark.sources.tables import DEFAULT_SF_DIR  # noqa: E402

# the production default fan-out architecture (BASELINE.md decision row)
DEFAULT_MODE = "single_pass"


def _streams(spark, src: str, schema):
    from flink_clickstream_processor_msk_spark.sources.clickevents import (
        clickevents_from_events,
        with_event_time,
    )

    raw = spark.readStream.schema(schema).parquet(src)
    return with_event_time(clickevents_from_events(raw), watermark="0 seconds")


def _run_multi_query(spark, src: str, schema) -> tuple[float, list[str]]:
    """Three-query fan-out (streaming/job.py run() topology, noop sinks);
    returns wall seconds from query start to all-processed, and the query
    ids.

    Sink set matches the reference job graph (CP:227,240,251 — and the same
    three streams again at the ES sinks, CP:265-267): buy-filtered sessions,
    Q2, Q3. The unfiltered Q1 stream is never sunk by the reference.
    """
    from flink_clickstream_processor_msk_spark.streaming.pipeline import (
        build_streams,
    )

    streams = build_streams(_streams(spark, src, schema))
    outputs = [
        streams.buy_sessions,
        streams.session_stats,
        streams.department_counts,
    ]
    # fresh checkpoint dirs per run (a reused dir would resume finished
    # offsets/state and corrupt the measurement)
    ckpts = [
        tempfile.mkdtemp(prefix=f"bench-streaming-ckpt-{i}-")
        for i in range(len(outputs))
    ]
    start = time.perf_counter()
    queries = [
        df.writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
        for df, ckpt in zip(outputs, ckpts)
    ]
    for q in queries:
        q.processAllAvailable()
    for q in queries:
        q.stop()
    wall = time.perf_counter() - start
    for path in ckpts:
        shutil.rmtree(path, ignore_errors=True)
    return wall, [str(q.id) for q in queries]


def _run_single_pass(spark, src: str, schema) -> tuple[float, list[str]]:
    """Single-query foreachBatch fan-out (streaming/job.py run_single_pass()
    topology): sessionize once, derive buy/Q2/Q3 per micro-batch, noop
    batch writes standing in for the three Kafka topics."""
    from flink_clickstream_processor_msk_spark.operators.sessionize import (
        sessionize,
    )
    from flink_clickstream_processor_msk_spark.streaming.pipeline import (
        session_fanout,
    )

    sessions = sessionize(_streams(spark, src, schema))

    def noop_write(df, _epoch) -> None:
        df.write.format("noop").mode("overwrite").save()

    fan_out = session_fanout(noop_write, noop_write, noop_write)
    ckpt = tempfile.mkdtemp(prefix="bench-streaming-ckpt-sp-")
    start = time.perf_counter()
    q = (
        sessions.writeStream.foreachBatch(fan_out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    wall = time.perf_counter() - start
    shutil.rmtree(ckpt, ignore_errors=True)
    return wall, [str(q.id)]


def _run_single_pass_rocksdb(spark, src: str, schema) -> tuple[float, list[str]]:
    """The production-default topology on the DISK-BACKED RocksDB state
    store (session.py ROCKSDB_STATE_STORE_PROVIDER) — the provider a
    100 TB job runs, where session state must not live in executor heap.
    Measured against the default HDFS-backed row to price the trade."""
    from flink_clickstream_processor_msk_spark.session import (
        ROCKSDB_STATE_STORE_PROVIDER,
        state_store_provider,
    )

    with state_store_provider(spark, ROCKSDB_STATE_STORE_PROVIDER):
        return _run_single_pass(spark, src, schema)


def _trigger_costs(records: list[dict]) -> dict:
    """Median fixed cost and state commit time per trigger."""
    data = [r for r in records if r["num_input_rows"] > 0] or records
    return {
        "fixed_ms_p50": statistics.median(
            r["duration_ms"]["triggerExecution"] - r["duration_ms"]["addBatch"]
            for r in data
        ),
        "state_commit_ms_p50": statistics.median(
            r["state_commit_ms"] for r in data
        ),
    }


MODES = {
    "multi_query": _run_multi_query,
    "single_pass": _run_single_pass,
    "single_pass_rocksdb": _run_single_pass_rocksdb,
}


def main() -> None:
    sf_dir = DEFAULT_SF_DIR

    from flink_clickstream_processor_msk_spark import get_spark
    from flink_clickstream_processor_msk_spark.streaming.metrics import (
        attach_metrics,
    )

    spark = get_spark(app_name="bench-streaming")
    src_file = f"{sf_dir}/events.parquet"
    n_events = spark.read.parquet(src_file).count()  # doubles as JVM warmup
    schema = spark.read.parquet(src_file).schema

    # the file stream source wants a directory; stage the table into one
    # (driver tiers ship a single parquet FILE; replicated/scaled tiers
    # like tools/scale10x.py write a parquet DIRECTORY — stage either)
    src = tempfile.mkdtemp(prefix="bench-streaming-src-")
    if os.path.isdir(src_file):
        for i, part in enumerate(sorted(os.listdir(src_file))):
            if part.endswith(".parquet"):
                shutil.copy(
                    os.path.join(src_file, part),
                    os.path.join(src, f"events-{i}.parquet"),
                )
    else:
        shutil.copy(src_file, os.path.join(src, "events.parquet"))

    # warmup: one untimed pass of each topology over a small slice, so the
    # timed runs measure steady-state throughput rather than streaming-plan
    # codegen/JIT (measured ~1.5x on the cold first pass)
    warm_src = tempfile.mkdtemp(prefix="bench-streaming-warm-")
    spark.read.parquet(src_file).limit(5000).write.mode("overwrite").parquet(warm_src)
    for run in MODES.values():
        run(spark, warm_src, schema)
    shutil.rmtree(warm_src, ignore_errors=True)

    # multiple timed passes: this host throttles intermittently under
    # sustained load (BASELINE.md caveat), so a single pass can read 20-30%
    # low; the spread pins the band, the MEDIAN is the reported value
    n_runs = max(1, int(os.environ.get("BENCH_STREAMING_RUNS", "3")))
    listener = attach_metrics(spark)
    modes_out = {}
    for mode, run in MODES.items():
        walls, ids = [], []
        for _ in range(n_runs):
            wall, run_ids = run(spark, src, schema)
            walls.append(wall)
            ids.extend(run_ids)
        walls.sort()
        med_wall = walls[len(walls) // 2]
        modes_out[mode] = {
            "events_per_sec": round(n_events / med_wall, 1),
            "wall_sec": round(med_wall, 3),
            "events_per_sec_spread": {
                "min": round(n_events / walls[-1], 1),
                "med": round(n_events / med_wall, 1),
                "max": round(n_events / walls[0], 1),
                "n": n_runs,
            },
            **_trigger_costs(listener.for_stopped(ids)),
        }
    spark.streams.removeListener(listener)
    shutil.rmtree(src, ignore_errors=True)

    # events/s is pipeline-level: source events fully processed through all
    # three outputs per second (the multi-query form re-reads the replayable
    # source once per query; the single-pass form reads it once)
    head = modes_out[DEFAULT_MODE]
    print(
        json.dumps(
            {
                "metric": "streaming_events_per_sec",
                "value": head["events_per_sec"],
                "unit": "events/sec",
                "mode": DEFAULT_MODE,
                "events": n_events,
                "wall_sec": head["wall_sec"],
                "modes": modes_out,
                "sf": sf_dir,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
