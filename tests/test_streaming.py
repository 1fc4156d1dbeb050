"""Streaming-mode tests: the same operators under Structured Streaming.

Replays crafted ClickEvents through a file source with a 0-second watermark
(reference parity: max-seen watermark, zero slack) into memory sinks, then
asserts equality with batch mode on the same data. A far-future sentinel
event (separate user) advances the watermark so every real session/window
finalizes — the reference needs the same trick to flush its last session
windows on a finite stream (SURVEY.md §7.3).
"""

from __future__ import annotations

import pytest

from flink_clickstream_processor_msk_spark.schema import CLICK_EVENT
from flink_clickstream_processor_msk_spark.sources.clickevents import (
    stream_clickevents,
    with_event_time,
)
from flink_clickstream_processor_msk_spark.streaming.pipeline import build_streams
from flink_clickstream_processor_msk_spark.streaming.sinks import memory_sink
from helpers import BASE_TS, make_clickevents

SENTINEL_USER = 999_999
SENTINEL = {
    "ts": BASE_TS + 10**9,  # ~11.5 days later: flushes every real window
    "seq": 10**9,
    "userid": SENTINEL_USER,
    "event_type": "view",
    "product_type": "sentinel",
}

EVENTS = [
    # user 1, session A: view -> checkout (buy session)
    {"ts": BASE_TS, "seq": 1, "userid": 1, "event_type": "view", "product_type": "books"},
    {"ts": BASE_TS + 200, "seq": 2, "userid": 1, "event_type": "order_checkout", "product_type": "N/A"},
    # user 1, session B (after >1s gap): plain browsing
    {"ts": BASE_TS + 5_000, "seq": 3, "userid": 1, "event_type": "view", "product_type": "garden"},
    # user 2, one session in a later 10s bucket
    {"ts": BASE_TS + 20_000, "seq": 4, "userid": 2, "event_type": "view", "product_type": "books"},
    SENTINEL,
]


@pytest.fixture(scope="module")
def stream_results(spark, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("stream-src"))
    batch_df = make_clickevents(spark, EVENTS)
    batch_df.select(*[f.name for f in CLICK_EVENT.fields]).write.mode(
        "overwrite"
    ).parquet(src)

    streams = build_streams(stream_clickevents(spark, src, watermark="0 seconds"))
    queries = [
        memory_sink(streams.user_sessions, "s_user_sessions"),
        memory_sink(streams.buy_sessions, "s_buy_sessions"),
        memory_sink(streams.session_stats, "s_session_stats"),
        memory_sink(streams.department_counts, "s_department_counts"),
    ]
    for q in queries:
        q.processAllAvailable()
    for q in queries:
        q.stop()

    batch = build_streams(with_event_time(batch_df))
    yield spark, batch


def _rows(spark, table_or_df, drop_sentinel_key):
    df = (
        spark.sql(f"SELECT * FROM {table_or_df}")
        if isinstance(table_or_df, str)
        else table_or_df
    )
    return _sorted_records((r.asDict() for r in df.collect()), drop_sentinel_key)


def _sorted_records(records, drop_sentinel_key):
    return sorted(
        [
            tuple(sorted(r.items(), key=lambda kv: kv[0]))
            for r in records
            if not drop_sentinel_key(r)
        ],
        key=lambda t: tuple(str(x) for x in t),
    )


def _canon(rows):
    return [
        tuple((k, tuple(v) if isinstance(v, list) else v) for k, v in r) for r in rows
    ]


@pytest.mark.parametrize(
    "table, attr, is_sentinel",
    [
        ("s_user_sessions", "user_sessions", lambda r: r["userId"] == SENTINEL_USER),
        ("s_buy_sessions", "buy_sessions", lambda r: r["userId"] == SENTINEL_USER),
        (
            "s_session_stats",
            "session_stats",
            lambda r: r["windowBeginTime"] > BASE_TS + 10**8,
        ),
        (
            "s_department_counts",
            "department_counts",
            lambda r: r["departmentName"] == "sentinel",
        ),
    ],
)
def test_streaming_matches_batch(stream_results, table, attr, is_sentinel):
    spark, batch = stream_results
    got = _canon(_rows(spark, table, is_sentinel))
    want = _canon(_rows(spark, getattr(batch, attr), is_sentinel))
    assert got == want
    assert len(got) > 0


def test_chained_stateful_multi_batch_matches_batch(spark, tmp_path_factory):
    """Q2/Q3 chain a tumbling window after the session window; replaying
    file-at-a-time (watermark advancing between micro-batches) must agree
    with batch mode — the Spark >= 3.4 chained-stateful semantics this
    engine depends on."""
    src = str(tmp_path_factory.mktemp("chain-src"))
    cols = [f.name for f in CLICK_EVENT.fields]
    by_time = sorted(EVENTS, key=lambda e: e["ts"])
    for chunk in (by_time[:2], by_time[2:4], by_time[4:]):
        make_clickevents(spark, chunk).select(*cols).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    stream = stream_clickevents(spark, src, watermark="0 seconds", max_files_per_trigger=1)
    streams = build_streams(stream)
    q2 = memory_sink(streams.session_stats, "chain_q2")
    q3 = memory_sink(streams.department_counts, "chain_q3")
    for q in (q2, q3):
        q.processAllAvailable()
    for q in (q2, q3):
        q.stop()

    batch = build_streams(with_event_time(make_clickevents(spark, EVENTS)))
    sentinel_q2 = lambda r: r["windowBeginTime"] > BASE_TS + 10**8  # noqa: E731
    sentinel_q3 = lambda r: r["departmentName"] == "sentinel"  # noqa: E731
    assert _canon(_rows(spark, "chain_q2", sentinel_q2)) == _canon(
        _rows(spark, batch.session_stats, sentinel_q2)
    )
    assert _canon(_rows(spark, "chain_q3", sentinel_q3)) == _canon(
        _rows(spark, batch.department_counts, sentinel_q3)
    )


def test_single_pass_fanout_matches_batch(spark, tmp_path_factory):
    """The SURVEY §7.1 M5 alternative: ONE streaming query (sessionize
    once) fanning out to three writers inside foreachBatch. Buy-session
    records must equal batch exactly; Q2/Q3 per-batch PARTIAL window rows
    must reconstruct the exact batch rows under the documented additive
    merge — with the fixture crafted so at least one tumbling bucket's
    sessions finalize across DIFFERENT micro-batches (the merge is
    genuinely exercised, not vacuously a pass-through)."""
    from flink_clickstream_processor_msk_spark.operators.sessionize import (
        sessionize,
    )
    from flink_clickstream_processor_msk_spark.streaming.pipeline import (
        merge_department_counts_partials,
        merge_session_stats_partials,
        session_fanout,
    )

    # users 1/2/3 all land in tumbling bucket [BASE_TS, BASE_TS+10s) but
    # their 1 s-gap sessions end at 1.2 s / 4 s / 9 s — replayed
    # file-at-a-time the watermark finalizes them in different micro-batches
    events = [
        {"ts": BASE_TS, "seq": 1, "userid": 1, "event_type": "view", "product_type": "books"},
        {"ts": BASE_TS + 200, "seq": 2, "userid": 1, "event_type": "order_checkout", "product_type": "N/A"},
        {"ts": BASE_TS + 3_000, "seq": 3, "userid": 2, "event_type": "view", "product_type": "garden"},
        {"ts": BASE_TS + 8_000, "seq": 4, "userid": 3, "event_type": "view", "product_type": "books"},
        SENTINEL,
    ]
    src = str(tmp_path_factory.mktemp("fanout-src"))
    cols = [f.name for f in CLICK_EVENT.fields]
    for chunk in ([events[0], events[1]], [events[2]], [events[3]], [events[4]]):
        make_clickevents(spark, chunk).select(*cols).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    stream = stream_clickevents(
        spark, src, watermark="0 seconds", max_files_per_trigger=1
    )
    collected: dict[str, list] = {"buy": [], "q2": [], "q3": []}

    def collector(key):
        def write(df, _epoch):
            collected[key].extend(r.asDict() for r in df.collect())

        return write

    fan_out = session_fanout(collector("buy"), collector("q2"), collector("q3"))
    ckpt = str(tmp_path_factory.mktemp("fanout-ckpt"))
    q = (
        sessionize(stream)
        .writeStream.foreachBatch(fan_out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()

    # the first bucket's sessions really did finalize across micro-batches
    first_bucket = [r for r in collected["q2"] if r["windowBeginTime"] == BASE_TS]
    assert len(first_bucket) > 1, "fixture failed to split a bucket across batches"

    batch = build_streams(with_event_time(make_clickevents(spark, events)))
    not_sentinel_q2 = lambda r: r["windowBeginTime"] > BASE_TS + 10**8  # noqa: E731
    not_sentinel_q3 = lambda r: r["departmentName"] == "sentinel"  # noqa: E731
    not_sentinel_buy = lambda r: r["userId"] == SENTINEL_USER  # noqa: E731

    merged_q2 = merge_session_stats_partials(
        spark.createDataFrame(collected["q2"])
    )
    merged_q3 = merge_department_counts_partials(
        spark.createDataFrame(collected["q3"])
    )
    assert _canon(_rows(spark, merged_q2, not_sentinel_q2)) == _canon(
        _rows(spark, batch.session_stats, not_sentinel_q2)
    )
    assert _canon(_rows(spark, merged_q3, not_sentinel_q3)) == _canon(
        _rows(spark, batch.department_counts, not_sentinel_q3)
    )
    got_buy = _canon(_sorted_records(collected["buy"], not_sentinel_buy))
    want_buy = _canon(_rows(spark, batch.buy_sessions, not_sentinel_buy))
    assert got_buy == want_buy
    assert len(got_buy) > 0


def test_single_pass_fanout_restart_recovery_and_replay_guard(
    spark, tmp_path_factory
):
    """Restart-recovery + replay-safety of the PRODUCTION-DEFAULT topology
    (VERDICT r7 missing #2): the checkpointed single-pass fan-out query is
    stopped mid-stream — with one user's session still OPEN in the
    session-window state store — and restarted from the same checkpoint;
    the merged Q2/Q3 partials and buy records must equal batch exactly
    (state recovery: if the open session split at the restart, the bucket's
    userSessionCount would be off by one and the merge equality fails).
    The writers are wrapped in sinks.dedup_epochs, and an at-least-once
    redelivery of an already-delivered epoch is pinned to be a no-op —
    without the wrapper the additive Q2/Q3 partials would double-add."""
    _restart_fanout_scenario(spark, tmp_path_factory)


def test_restart_recovery_on_rocksdb_state_store(spark, tmp_path_factory):
    """The same stop/restart scenario on the DISK-BACKED provider: the
    open session must be restored from a RocksDB versioned snapshot, the
    production persistence path a large-state job restarts through."""
    from flink_clickstream_processor_msk_spark.session import (
        ROCKSDB_STATE_STORE_PROVIDER,
        state_store_provider,
    )

    with state_store_provider(spark, ROCKSDB_STATE_STORE_PROVIDER):
        _restart_fanout_scenario(spark, tmp_path_factory)


CHECKPOINT_FILE_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
FILE_CONTEXT_CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)


def test_local_session_writes_checkpoints_through_file_system_manager(spark):
    """A local master pins Spark's FileSystem checkpoint manager: the
    FileContext default forks 4 readlink processes per checkpoint file
    on a machine without libhadoop (session.get_spark)."""
    from flink_clickstream_processor_msk_spark.session import (
        FILE_SYSTEM_CHECKPOINT_FILE_MANAGER,
    )

    assert spark.sparkContext.master.startswith("local")
    assert (
        spark.conf.get(CHECKPOINT_FILE_MANAGER_CONF)
        == FILE_SYSTEM_CHECKPOINT_FILE_MANAGER
    )


def test_restart_resumes_checkpoint_written_by_file_context_manager(
    spark, tmp_path_factory
):
    """A checkpoint written under Spark's FileContext default (the manager
    local sessions used before) resumes under the session's FileSystem
    manager with no migration: the open session survives the switch and
    the merged Q2/Q3 and buy records still equal batch."""
    _restart_fanout_scenario(
        spark,
        tmp_path_factory,
        phase1_manager=FILE_CONTEXT_CHECKPOINT_FILE_MANAGER,
    )


def _restart_fanout_scenario(spark, tmp_path_factory, phase1_manager=None):
    """Stop a single-pass fan-out with a session open, restart it from the
    same checkpoint and compare with batch. ``phase1_manager``, if given,
    writes the first query's checkpoint (the conf is read at query start);
    the restarted query uses the session's manager."""
    from flink_clickstream_processor_msk_spark.operators.sessionize import (
        sessionize,
    )
    from flink_clickstream_processor_msk_spark.streaming.pipeline import (
        merge_department_counts_partials,
        merge_session_stats_partials,
        session_fanout,
    )
    from flink_clickstream_processor_msk_spark.streaming.sinks import dedup_epochs

    events = [
        # user 1: buy session, finalized BEFORE the stop
        {"ts": BASE_TS, "seq": 1, "userid": 1, "event_type": "view", "product_type": "books"},
        {"ts": BASE_TS + 200, "seq": 2, "userid": 1, "event_type": "order_checkout", "product_type": "N/A"},
        # user 2: ONE session whose events straddle the restart —
        # ts 3000 arrives pre-stop, ts 3400 (same 1 s-gap session)
        # arrives only after the restarted query resumes
        {"ts": BASE_TS + 3_000, "seq": 3, "userid": 2, "event_type": "view", "product_type": "garden"},
        {"ts": BASE_TS + 3_400, "seq": 4, "userid": 2, "event_type": "view", "product_type": "garden"},
        {"ts": BASE_TS + 8_000, "seq": 5, "userid": 3, "event_type": "view", "product_type": "books"},
        SENTINEL,
    ]
    src = str(tmp_path_factory.mktemp("restart-src"))
    cols = [f.name for f in CLICK_EVENT.fields]

    def append_chunk(chunk):
        make_clickevents(spark, chunk).select(*cols).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    collected: dict[str, list] = {"buy": [], "q2": [], "q3": []}

    def collector(key):
        def write(df, _epoch):
            collected[key].extend(r.asDict() for r in df.collect())

        return write

    delivered_epochs: list[int] = []
    raw_fan_out = session_fanout(
        collector("buy"), collector("q2"), collector("q3")
    )

    def tracking_fan_out(df, epoch_id):
        raw_fan_out(df, epoch_id)
        delivered_epochs.append(epoch_id)

    markers = str(tmp_path_factory.mktemp("restart-markers"))
    fan_out = dedup_epochs(tracking_fan_out, markers)
    ckpt = str(tmp_path_factory.mktemp("restart-ckpt"))

    def start_query():
        stream = stream_clickevents(
            spark, src, watermark="0 seconds", max_files_per_trigger=1
        )
        return (
            sessionize(stream)
            .writeStream.foreachBatch(fan_out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    # phase 1: user 1's whole session + the FIRST half of user 2's
    append_chunk(events[:2])
    append_chunk([events[2]])
    session_manager = spark.conf.get(CHECKPOINT_FILE_MANAGER_CONF)
    spark.conf.set(CHECKPOINT_FILE_MANAGER_CONF, phase1_manager or session_manager)
    try:
        q = start_query()
    finally:
        spark.conf.set(CHECKPOINT_FILE_MANAGER_CONF, session_manager)
    q.processAllAvailable()
    q.stop()
    # user 1's buy session was delivered pre-stop; user 2's is still open
    # in the checkpointed session-window state
    assert any(r["userId"] == 1 for r in collected["buy"])
    pre_stop_counts = {k: len(v) for k, v in collected.items()}

    # phase 2: restart from the same checkpoint, feed the rest
    append_chunk([events[3]])
    append_chunk([events[4]])
    append_chunk([events[5]])
    q = start_query()
    q.processAllAvailable()
    q.stop()
    assert {k: len(v) for k, v in collected.items()} != pre_stop_counts

    # at-least-once redelivery of an already-delivered epoch: a no-op.
    # (The df argument is irrelevant — the guard short-circuits first;
    # an unwrapped redelivery would re-run the writers and double-add.)
    snapshot = {k: len(v) for k, v in collected.items()}
    assert delivered_epochs
    fan_out(
        sessionize(with_event_time(make_clickevents(spark, events[:1]))),
        delivered_epochs[0],
    )
    assert {k: len(v) for k, v in collected.items()} == snapshot

    # exactness across the restart
    batch = build_streams(with_event_time(make_clickevents(spark, events)))
    not_sentinel_q2 = lambda r: r["windowBeginTime"] > BASE_TS + 10**8  # noqa: E731
    not_sentinel_q3 = lambda r: r["departmentName"] == "sentinel"  # noqa: E731
    not_sentinel_buy = lambda r: r["userId"] == SENTINEL_USER  # noqa: E731
    merged_q2 = merge_session_stats_partials(
        spark.createDataFrame(collected["q2"])
    )
    merged_q3 = merge_department_counts_partials(
        spark.createDataFrame(collected["q3"])
    )
    assert _canon(_rows(spark, merged_q2, not_sentinel_q2)) == _canon(
        _rows(spark, batch.session_stats, not_sentinel_q2)
    )
    assert _canon(_rows(spark, merged_q3, not_sentinel_q3)) == _canon(
        _rows(spark, batch.department_counts, not_sentinel_q3)
    )
    got_buy = sorted(
        (r["userId"], r["eventCount"]) for r in collected["buy"]
        if r["userId"] != SENTINEL_USER
    )
    want_buy = sorted(
        (r["userId"], r["eventCount"])
        for r in batch.buy_sessions.collect()
        if r["userId"] != SENTINEL_USER
    )
    assert got_buy == want_buy and len(got_buy) > 0
    # the straddling session recovered as ONE session: bucket 0 merged
    # count covers users 1, 2, 3 exactly once each
    bucket0 = [
        r for r in merged_q2.collect() if r["windowBeginTime"] == BASE_TS
    ]
    assert len(bucket0) == 1 and bucket0[0]["userSessionCount"] == 3


def test_late_event_dropped_at_zero_watermark(spark, tmp_path_factory):
    """An event behind the watermark must be dropped (zero-slack parity).

    Two files replayed in order: the second contains an event whose session
    window was already finalized by the first file's watermark — the
    reference drops it (allowedLateness=0); so must we.
    """
    src = str(tmp_path_factory.mktemp("late-src"))
    cols = [f.name for f in CLICK_EVENT.fields]
    first = [
        {"ts": BASE_TS, "seq": 1, "userid": 1, "event_type": "view", "product_type": "a"},
        {"ts": BASE_TS + 60_000, "seq": 2, "userid": 2, "event_type": "view", "product_type": "b"},
    ]
    late = [
        # lands inside user 1's already-closed session
        {"ts": BASE_TS + 100, "seq": 3, "userid": 1, "event_type": "view", "product_type": "LATE"},
        SENTINEL,
    ]
    make_clickevents(spark, first).select(*cols).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)

    stream = stream_clickevents(spark, src, watermark="0 seconds", max_files_per_trigger=1)
    sessions = build_streams(stream).user_sessions
    q = memory_sink(sessions, "late_sessions")
    q.processAllAvailable()
    make_clickevents(spark, late).select(*cols).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q.processAllAvailable()
    q.stop()

    rows = [r.asDict() for r in spark.sql("SELECT * FROM late_sessions").collect()]
    depts = {d for r in rows for d in r["deptList"]}
    assert "LATE" not in depts  # late event silently dropped
    assert {r["userId"] for r in rows} >= {1, 2}


def test_session_emitted_when_watermark_stops_exactly_at_session_end(
    spark, tmp_path_factory
):
    """The stream's final watermark lands exactly on user 1's session end
    (another user's event at T+gap): the session must still be emitted —
    the built-in session window finalizes at end <= watermark."""
    src = str(tmp_path_factory.mktemp("boundary-src"))
    cols = [f.name for f in CLICK_EVENT.fields]
    events = [
        {"ts": BASE_TS, "seq": 1, "userid": 1, "event_type": "view", "product_type": "books"},
        {"ts": BASE_TS + 1_000, "seq": 2, "userid": 2, "event_type": "view", "product_type": "toys"},
    ]
    make_clickevents(spark, events).select(*cols).write.mode("overwrite").parquet(src)
    stream = stream_clickevents(spark, src, watermark="0 seconds")
    q = memory_sink(build_streams(stream).user_sessions, "boundary_sessions")
    q.processAllAvailable()
    q.stop()

    got = [
        (r["userId"], r["windowBeginTime"], r["windowEndTime"],
         r["eventCount"], list(r["deptList"]))
        for r in spark.sql("SELECT * FROM boundary_sessions").collect()
    ]
    assert (1, BASE_TS, BASE_TS + 1_000, 1, ["books"]) in got


def test_stream_dedup_drops_replayed_events(spark, tmp_path_factory):
    """At-least-once replay: the second file re-delivers (userid, seq)
    pairs from the first within the watermark delay — the dedup operator
    keeps exactly one copy of each and passes genuinely new events, and
    the result equals batch dropDuplicates on the union."""
    from flink_clickstream_processor_msk_spark.streaming.dedup import dedup_events

    src = str(tmp_path_factory.mktemp("dedup-src"))
    cols = [f.name for f in CLICK_EVENT.fields]
    first = [
        {"ts": BASE_TS, "seq": 1, "userid": 1, "event_type": "view", "product_type": "a"},
        {"ts": BASE_TS + 100, "seq": 2, "userid": 1, "event_type": "view", "product_type": "b"},
    ]
    replay = [
        # broker retry: same (userid, seq) delivered again
        {"ts": BASE_TS, "seq": 1, "userid": 1, "event_type": "view", "product_type": "a"},
        # a genuinely new event
        {"ts": BASE_TS + 200, "seq": 3, "userid": 1, "event_type": "view", "product_type": "c"},
        SENTINEL,
    ]
    make_clickevents(spark, first).select(*cols).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    stream = stream_clickevents(
        spark, src, watermark="10 minutes", max_files_per_trigger=1
    )
    q = memory_sink(dedup_events(stream), "dedup_events_out")
    q.processAllAvailable()
    make_clickevents(spark, replay).select(*cols).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q.processAllAvailable()
    q.stop()

    rows = [
        (r["userid"], r["globalseq"])
        for r in spark.sql("SELECT userid, globalseq FROM dedup_events_out").collect()
    ]
    assert sorted(rows) == [(1, 1), (1, 2), (1, 3), (SENTINEL_USER, 10**9)]

    # batch equivalence: same operator over the unioned files
    batch = with_event_time(
        spark.createDataFrame(
            spark.read.parquet(src).collect(), schema=CLICK_EVENT
        )
    )
    batch_rows = [
        (r["userid"], r["globalseq"])
        for r in dedup_events(batch).select("userid", "globalseq").collect()
    ]
    assert sorted(batch_rows) == sorted(rows)


def test_sliding_window_streaming_matches_batch(spark, tmp_path_factory):
    """Sliding windows (the reference has none) under Structured Streaming:
    the same sliding_department_activity declaration over a watermarked
    stream, replayed file-at-a-time, equals batch on the same events —
    overlapping buckets finalize exactly once each."""
    from flink_clickstream_processor_msk_spark.operators.departments import (
        sliding_department_activity,
    )

    src = str(tmp_path_factory.mktemp("sliding-src"))
    cols = [f.name for f in CLICK_EVENT.fields]
    by_time = sorted(EVENTS, key=lambda e: e["ts"])
    for chunk in (by_time[:2], by_time[2:4], by_time[4:]):
        make_clickevents(spark, chunk).select(*cols).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    stream = stream_clickevents(
        spark, src, watermark="0 seconds", max_files_per_trigger=1
    )
    q = memory_sink(
        sliding_department_activity(
            stream, window="10 seconds", slide="5 seconds"
        ),
        "s_sliding",
    )
    q.processAllAvailable()
    q.stop()

    def canon(rows):
        return sorted(
            (
                r["departmentName"],
                r["windowBeginTime"],
                r["windowEndTime"],
                r["eventCount"],
            )
            for r in (x.asDict() for x in rows)
            if r["windowBeginTime"] < BASE_TS + 10**8  # sentinel buckets out
        )

    got = canon(spark.sql("SELECT * FROM s_sliding").collect())
    want = canon(
        sliding_department_activity(
            with_event_time(make_clickevents(spark, EVENTS)),
            window="10 seconds",
            slide="5 seconds",
        ).collect()
    )
    assert got == want
    assert len(got) > 0


def test_es_bulk_sink_wiring_end_to_end(spark, tmp_path_factory):
    """E1-E3 wiring under a REAL streaming query: department counts →
    bulk_foreach_batch_sink(dedup_epochs(make_bulk_writer(...))) — every
    output row is delivered exactly once as a JSON doc through the
    reference-parity flush policy (no live ES client in this environment;
    the transport is a directory-writing `send`)."""
    import json as _json
    import os

    from flink_clickstream_processor_msk_spark.streaming.sinks import (
        BulkFlushPolicy,
        bulk_foreach_batch_sink,
        dedup_epochs,
        make_bulk_writer,
    )

    base = tmp_path_factory.mktemp("es-sink")
    src, out = str(base / "src"), str(base / "out")
    os.makedirs(out)
    cols = [f.name for f in CLICK_EVENT.fields]
    make_clickevents(spark, EVENTS).select(*cols).write.mode(
        "overwrite"
    ).parquet(src)

    def send(chunk, _out=out):
        import uuid

        with open(os.path.join(_out, f"{uuid.uuid4().hex}.jsonl"), "w") as f:
            for doc in chunk:
                f.write(doc + "\n")

    stream = stream_clickevents(spark, src, watermark="0 seconds")
    counts = build_streams(stream).department_counts
    q = bulk_foreach_batch_sink(
        counts,
        dedup_epochs(
            make_bulk_writer(send, BulkFlushPolicy(max_actions=2)),
            str(base / "markers"),
        ),
        checkpoint_dir=str(base / "ckpt"),
    )
    q.processAllAvailable()
    q.stop()

    got = []
    for name in os.listdir(out):
        with open(os.path.join(out, name)) as f:
            got += [_json.loads(line) for line in f]
    # the sentinel's own window stays open in streaming (nothing advances
    # the watermark past it) — exclude it on both sides, as elsewhere
    got = [d for d in got if d["departmentName"] != "sentinel"]
    want = [
        r.asDict()
        for r in build_streams(with_event_time(make_clickevents(spark, EVENTS)))
        .department_counts.collect()
        if r["departmentName"] != "sentinel"
    ]
    key = lambda d: (d["departmentName"], d["windowBeginTime"])  # noqa: E731
    assert sorted(got, key=key) == sorted(want, key=key)
    assert len(got) > 0


def test_elasticsearch_sinks_wire_all_three_reference_indexes(
    spark, tmp_path_factory
):
    """job.elasticsearch_sinks (E1-E3, CP:265-267): with an endpoint
    configured, all three streams start /_bulk sinks to their reference
    index names, each record framed as an action/source pair with the
    deterministic _id; without an endpoint, no ES queries start."""
    import json as _json

    from flink_clickstream_processor_msk_spark.config import AppConfig
    from flink_clickstream_processor_msk_spark.streaming.job import (
        ES_INDEXES,
        elasticsearch_sinks,
    )

    base = tmp_path_factory.mktemp("es-job")
    src = str(base / "src")
    cols = [f.name for f in CLICK_EVENT.fields]
    make_clickevents(spark, EVENTS).select(*cols).write.mode(
        "overwrite"
    ).parquet(src)

    # send runs in executor worker processes — deliver through the
    # filesystem (one dir per index), as the other bulk-sink tests do
    import os

    out_root = str(base / "delivered")

    def send_factory(index):
        out_dir = os.path.join(out_root, index)
        os.makedirs(out_dir, exist_ok=True)

        def send(chunk, _out=out_dir):
            import os as _os
            import uuid as _uuid

            with open(
                _os.path.join(_out, f"{_uuid.uuid4().hex}.ndjson"), "w"
            ) as f:
                f.write("\x00".join(chunk))  # \0-separate chunk entries

        return send

    config = AppConfig(
        {
            "CheckpointDir": str(base / "ckpt"),
            "ElasticsearchEndpoint": "http://example.invalid:9200",
        }
    )
    stream = stream_clickevents(spark, src, watermark="0 seconds")
    queries = elasticsearch_sinks(build_streams(stream), config, send_factory)
    assert len(queries) == 3
    for q in queries:
        q.processAllAvailable()
        q.stop()

    def read_docs(index):
        docs = []
        d = os.path.join(out_root, index)
        for name in os.listdir(d):
            with open(os.path.join(d, name)) as f:
                docs += [x for x in f.read().split("\x00") if x]
        return docs

    assert set(os.listdir(out_root)) == {ix for ix, _ in ES_INDEXES.values()}
    for stream_name, (index, id_cols) in ES_INDEXES.items():
        docs = read_docs(index)
        assert docs, index  # every stream produced records
        for doc in docs:
            action_s, source_s = doc.split("\n")
            action, source = _json.loads(action_s), _json.loads(source_s)
            assert action["index"]["_index"] == index
            want_id = ":".join(str(source[c]) for c in id_cols)
            assert action["index"]["_id"] == want_id

    # no endpoint -> no ES sinks
    assert (
        elasticsearch_sinks(
            build_streams(stream_clickevents(spark, src)),
            AppConfig({"CheckpointDir": str(base / "ckpt2")}),
            send_factory,
        )
        == []
    )


def test_es_sinks_live_http_stub_backoff_and_restart(spark, tmp_path_factory):
    """The three-sink ES leg against a LIVE in-process HTTP ``/_bulk``
    stub (VERDICT r10 next#6) — the production transport path
    (http_bulk_sender's stdlib POST → send_with_backoff's bounded retry,
    AmazonElasticsearchSink.java:53-56) exercised end-to-end with
    injected failures:

    - departments_count gets a 429 on its first request → the IDENTICAL
      chunk bytes are re-POSTed and succeed (the backoff loop redelivers
      the same bulk body, not a re-encoded one);
    - user_session_counts 500s through every retry → its epoch dies
      mid-run (the dedup_epochs marker is written only AFTER delivery,
      so the crash window redelivers); after the stub heals, restarting
      job.elasticsearch_sinks from the same checkpoints replays the
      failed epoch exactly once — across ALL responses no _id is ever in
      two successful requests of one index (effectively-once end to
      end);
    - every request body is valid ``/_bulk`` NDJSON action/source
      framing with the trailing newline (AmazonElasticsearchSink.java:
      22-24's bulk request shape), and a small-max_actions policy run
      confirms the chunker caps bodies at the action limit.
    """
    import http.server
    import json as _json
    import threading

    from flink_clickstream_processor_msk_spark.config import AppConfig
    from flink_clickstream_processor_msk_spark.streaming.job import (
        ES_INDEXES,
        elasticsearch_sinks,
    )
    from flink_clickstream_processor_msk_spark.streaming.sinks import (
        BulkFlushPolicy,
        bulk_foreach_batch_sink,
        dedup_epochs,
        http_bulk_sender,
        make_bulk_writer,
    )

    state = {"heal": False, "flaky_429_left": 1}
    lock = threading.Lock()
    log: list[tuple[str, int, str]] = []  # (index, status, body)

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            assert self.path == "/_bulk"
            body = self.rfile.read(
                int(self.headers["Content-Length"])
            ).decode("utf-8")
            index = _json.loads(body.splitlines()[0])["index"]["_index"]
            with lock:
                if index == "departments_count" and state["flaky_429_left"]:
                    state["flaky_429_left"] -= 1
                    status = 429
                elif index == "user_session_counts" and not state["heal"]:
                    status = 500
                else:
                    status = 200
                log.append((index, status, body))
            payload = _json.dumps({"errors": False}).encode()
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        def log_message(self, *a):  # quiet
            pass

    server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    endpoint = f"http://127.0.0.1:{server.server_address[1]}"

    base = tmp_path_factory.mktemp("es-live")
    src = str(base / "src")
    cols = [f.name for f in CLICK_EVENT.fields]
    make_clickevents(spark, EVENTS).select(*cols).write.mode(
        "overwrite"
    ).parquet(src)
    config = AppConfig(
        {
            "CheckpointDir": str(base / "ckpt"),
            "ElasticsearchEndpoint": endpoint,
        }
    )

    def run_leg():
        queries = elasticsearch_sinks(
            build_streams(stream_clickevents(spark, src, watermark="0 seconds")),
            config,
        )
        assert len(queries) == 3
        for q in queries:
            try:
                q.processAllAvailable()
            except Exception:
                pass  # the 500-injected sink's epoch dies — expected
            try:
                q.stop()
            except Exception:
                pass

    run_leg()  # phase 1: flaky 429 + hard-500 index
    with lock:
        assert any(
            s == 500 for ix, s, _ in log if ix == "user_session_counts"
        )
        flaky = [(s, b) for ix, s, b in log if ix == "departments_count"]
    # the 429'd chunk is re-POSTed byte-identical and succeeds
    retried = [b for s, b in flaky if s == 429]
    assert retried and any(
        s == 200 and b == retried[0] for s, b in flaky
    ), "backoff must redeliver the identical bulk body"

    state["heal"] = True
    run_leg()  # phase 2: restart from the same checkpoints; epoch replays

    with lock:
        snapshot = list(log)
    for _stream, (index, _id_cols) in ES_INDEXES.items():
        ok_bodies = [b for ix, s, b in snapshot if ix == index and s == 200]
        assert ok_bodies, index  # every index delivered after healing
        seen_ids: set[str] = set()
        for body in ok_bodies:
            assert body.endswith("\n")  # /_bulk framing: trailing newline
            lines = body.splitlines()
            assert len(lines) % 2 == 0  # action/source pairs
            for i in range(0, len(lines), 2):
                action = _json.loads(lines[i])["index"]
                _json.loads(lines[i + 1])  # source parses
                assert action["_index"] == index
                assert action["_id"] not in seen_ids, (
                    f"{index}: _id {action['_id']} delivered twice"
                )
                seen_ids.add(action["_id"])

    # flush-policy cap under the same live transport: max_actions=2 →
    # every successful request carries at most 2 action/source pairs
    n_before = len(log)
    q = bulk_foreach_batch_sink(
        build_streams(
            stream_clickevents(spark, src, watermark="0 seconds")
        ).department_counts,
        dedup_epochs(
            make_bulk_writer(
                http_bulk_sender(endpoint),
                BulkFlushPolicy(max_actions=2),
                es_index="departments_count",
                es_id_cols=["departmentName", "windowBeginTime"],
            ),
            str(base / "cap-markers"),
        ),
        checkpoint_dir=str(base / "cap-ckpt"),
    )
    q.processAllAvailable()
    q.stop()
    with lock:
        capped = [b for ix, s, b in log[n_before:] if s == 200]
    assert capped and all(len(b.splitlines()) <= 4 for b in capped)
    server.shutdown()


def test_batch_metrics_listener_records_progress(spark, tmp_path_factory):
    """Observability parity (the reference's KDA jobs get CloudWatch
    metrics for free): the listener captures per-batch input rows, the
    stateful operators' state-row totals and commit time, and the trigger
    phase walls for a named streaming query."""
    from flink_clickstream_processor_msk_spark.streaming.metrics import (
        attach_metrics,
    )

    src = str(tmp_path_factory.mktemp("metrics-src"))
    cols = [f.name for f in CLICK_EVENT.fields]
    make_clickevents(spark, EVENTS).select(*cols).write.mode(
        "overwrite"
    ).parquet(src)

    listener = attach_metrics(spark)
    try:
        stream = stream_clickevents(spark, src, watermark="0 seconds")
        q = memory_sink(
            build_streams(stream).user_sessions, "metrics_sessions"
        )
        q.processAllAvailable()
        q.stop()
        # listener events are delivered asynchronously; the termination
        # event follows the query's last progress event on the bus
        recs = listener.for_stopped([q.id])
        assert recs, "no progress events captured"
        assert recs == listener.for_query("metrics_sessions")
        assert sum(r["num_input_rows"] for r in recs) == len(EVENTS)
        assert all("state_rows" in r and "batch_id" in r for r in recs)
        assert any(r["processed_rows_per_sec"] >= 0 for r in recs)
        phases = {
            "latestOffset", "queryPlanning", "walCommit", "addBatch",
            "commitOffsets", "triggerExecution",
        }
        for r in recs:
            d = r["duration_ms"]
            assert set(d) == phases
            assert d["triggerExecution"] >= d["addBatch"]
            assert r["state_commit_ms"] >= 0
    finally:
        spark.streams.removeListener(listener)


def test_streaming_matches_batch_on_rocksdb_state_store(
    spark, tmp_path_factory
):
    """The 100 TB state story (VERDICT r7 missing #3): the full pipeline —
    session windows AND the chained Q2/Q3 tumbling windows — replayed
    file-at-a-time on the DISK-BACKED RocksDB state store provider must
    equal batch exactly, and the checkpoint must show RocksDB actually
    held the state (versioned .zip snapshots, not the HDFS provider's
    .delta files)."""
    import glob

    from flink_clickstream_processor_msk_spark.session import (
        ROCKSDB_STATE_STORE_PROVIDER,
        state_store_provider,
    )

    src = str(tmp_path_factory.mktemp("rocksdb-src"))
    cols = [f.name for f in CLICK_EVENT.fields]
    by_time = sorted(EVENTS, key=lambda e: e["ts"])
    for chunk in (by_time[:2], by_time[2:4], by_time[4:]):
        make_clickevents(spark, chunk).select(*cols).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    ckpts = {
        name: str(tmp_path_factory.mktemp(f"rocksdb-ckpt-{name}"))
        for name in ("sessions", "q2", "q3")
    }
    with state_store_provider(spark, ROCKSDB_STATE_STORE_PROVIDER):
        assert (
            spark.conf.get("spark.sql.streaming.stateStore.providerClass")
            == ROCKSDB_STATE_STORE_PROVIDER
        )
        stream = stream_clickevents(
            spark, src, watermark="0 seconds", max_files_per_trigger=1
        )
        streams = build_streams(stream)
        queries = [
            streams.user_sessions.writeStream.queryName("rdb_sessions")
            .format("memory")
            .option("checkpointLocation", ckpts["sessions"])
            .outputMode("append")
            .start(),
            streams.session_stats.writeStream.queryName("rdb_q2")
            .format("memory")
            .option("checkpointLocation", ckpts["q2"])
            .outputMode("append")
            .start(),
            streams.department_counts.writeStream.queryName("rdb_q3")
            .format("memory")
            .option("checkpointLocation", ckpts["q3"])
            .outputMode("append")
            .start(),
        ]
        for q in queries:
            q.processAllAvailable()
        for q in queries:
            q.stop()

    for name, ckpt in ckpts.items():
        state_files = glob.glob(f"{ckpt}/state/**/*", recursive=True)
        zips = [f for f in state_files if f.endswith(".zip")]
        deltas = [f for f in state_files if f.endswith(".delta")]
        assert zips, f"{name}: no RocksDB snapshot artifacts in {ckpt}"
        assert not deltas, f"{name}: HDFS-provider .delta files present"

    batch = build_streams(with_event_time(make_clickevents(spark, EVENTS)))
    for table, attr, is_sentinel in (
        ("rdb_sessions", "user_sessions", lambda r: r["userId"] == SENTINEL_USER),
        ("rdb_q2", "session_stats", lambda r: r["windowBeginTime"] > BASE_TS + 10**8),
        ("rdb_q3", "department_counts", lambda r: r["departmentName"] == "sentinel"),
    ):
        got = _canon(_rows(spark, table, is_sentinel))
        want = _canon(_rows(spark, getattr(batch, attr), is_sentinel))
        assert got == want and len(got) > 0, table


# --- single-pass fan-out: concurrent writers, plans built once, late drops --


def _append_files(spark, src, chunks):
    """One parquet file per chunk, in order (one file per trigger below)."""
    cols = [f.name for f in CLICK_EVENT.fields]
    for chunk in chunks:
        make_clickevents(spark, chunk).select(*cols).coalesce(1).write.mode(
            "append"
        ).parquet(src)


def _fanout_writer(spark, src, fan_out, ckpt):
    """The production single-pass topology over a file stream, not started:
    sessionize, then ``fan_out`` inside foreachBatch, one file per trigger."""
    from flink_clickstream_processor_msk_spark.operators.sessionize import (
        sessionize,
    )

    stream = stream_clickevents(
        spark, src, watermark="0 seconds", max_files_per_trigger=1
    )
    return (
        sessionize(stream)
        .writeStream.foreachBatch(fan_out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
    )


def _drain(query):
    try:
        query.processAllAvailable()
    finally:
        query.stop()


@pytest.fixture(scope="module")
def concurrent_fanout_runs(spark, tmp_path_factory):
    """Two single-pass queries over one 5-file stream whose three writers
    each wait on one shared 3-party barrier (so a batch completes only if
    all three writers are in flight together) and record, per call, the
    writer, the epoch, the job group their thread sees and the row count."""
    import threading

    from flink_clickstream_processor_msk_spark.streaming.pipeline import (
        session_fanout,
    )

    src = str(tmp_path_factory.mktemp("concurrent-src"))
    chunks = [
        [
            # a buy session per file, plus a browsing session 500 ms later
            {"ts": BASE_TS + k * 3_000, "seq": 3 * k + 1, "userid": k + 1,
             "event_type": "view", "product_type": "books"},
            {"ts": BASE_TS + k * 3_000 + 200, "seq": 3 * k + 2, "userid": k + 1,
             "event_type": "order_checkout", "product_type": "N/A"},
            {"ts": BASE_TS + k * 3_000 + 500, "seq": 3 * k + 3, "userid": 100 + k,
             "event_type": "view", "product_type": "garden"},
        ]
        for k in range(4)
    ]
    _append_files(spark, src, chunks + [[SENTINEL]])

    barrier = threading.Barrier(3, timeout=30)
    runs = []
    for i in range(2):
        records: list[dict] = []

        def recorder(key, records=records):
            def write(df, epoch_id):
                barrier.wait()
                records.append({
                    "writer": key,
                    "epoch": epoch_id,
                    "job_group": df.sparkSession.sparkContext.getLocalProperty(
                        "spark.jobGroup.id"
                    ),
                    "rows": len(df.collect()),
                })

            return write

        fan_out = session_fanout(recorder("buy"), recorder("q2"), recorder("q3"))
        ckpt = str(tmp_path_factory.mktemp(f"concurrent-ckpt-{i}"))
        query = _fanout_writer(spark, src, fan_out, ckpt).start()
        _drain(query)
        runs.append((str(query.runId), records))
    return runs


def test_fanout_writers_run_concurrently(concurrent_fanout_runs):
    """Every batch passed the 3-party barrier, so its three writers were in
    flight together; writers run one after another would break it after
    30 s and fail the query."""
    for _run_id, records in concurrent_fanout_runs:
        epochs = {r["epoch"] for r in records}
        for key in ("buy", "q2", "q3"):
            assert sorted(r["epoch"] for r in records if r["writer"] == key) == sorted(epochs)
            assert sum(r["rows"] for r in records if r["writer"] == key) > 0, key


def test_fanout_writer_jobs_stay_in_query_job_group(concurrent_fanout_runs):
    """Each writer task inherits the foreachBatch thread's local properties:
    its jobs carry the query's job group, which query.stop() cancels."""
    for run_id, records in concurrent_fanout_runs:
        assert records
        assert {r["job_group"] for r in records} == {run_id}


def test_fanout_writer_pool_stays_at_three_threads(concurrent_fanout_runs):
    """One process-wide pool, one thread per writer: two queries and their
    micro-batches never grow it past three threads."""
    import threading

    from flink_clickstream_processor_msk_spark.streaming.pipeline import (
        FANOUT_THREAD_PREFIX,
    )

    n_batches = sum(
        len({r["epoch"] for r in records}) for _, records in concurrent_fanout_runs
    )
    assert n_batches >= 10
    pool_threads = [
        t for t in threading.enumerate() if t.name.startswith(FANOUT_THREAD_PREFIX)
    ]
    assert 1 <= len(pool_threads) <= 3


def test_fanout_failure_waits_for_every_writer_then_raises_first_in_order(
    spark, tmp_path_factory
):
    """A failing writer does not stop the others: the batch fails only
    after the slow writer has finished, and with the error of the first
    failing writer in writer order (buy), not the first to fail in time
    (Q3)."""
    import threading
    import time

    from pyspark.errors import StreamingQueryException

    from flink_clickstream_processor_msk_spark.streaming.pipeline import (
        session_fanout,
    )

    src = str(tmp_path_factory.mktemp("failing-src"))
    _append_files(spark, src, [EVENTS[:2]])
    slow_done = threading.Event()
    done_when_raised: list[bool] = []

    def write_buy(_df, _epoch):
        time.sleep(0.5)
        raise RuntimeError("buy writer failed")

    def write_q2(_df, _epoch):
        time.sleep(1.5)
        slow_done.set()

    def write_q3(_df, _epoch):
        raise RuntimeError("q3 writer failed")

    inner = session_fanout(write_buy, write_q2, write_q3)

    def fan_out(df, epoch_id):
        try:
            inner(df, epoch_id)
        except Exception:
            done_when_raised.append(slow_done.is_set())
            raise

    ckpt = str(tmp_path_factory.mktemp("failing-ckpt"))
    query = _fanout_writer(spark, src, fan_out, ckpt).start()
    with pytest.raises(StreamingQueryException) as failure:
        _drain(query)
    assert done_when_raised == [True]
    assert "buy writer failed" in str(failure.value)
    assert "q3 writer failed" not in str(failure.value)


def test_fanout_derivations_are_built_once(spark, tmp_path_factory, monkeypatch):
    """session_fanout builds the buy/Q2/Q3 expressions when it is called:
    with every expression constructor they use made to raise afterwards,
    the micro-batches still deliver rows to all three writers."""
    from pyspark.sql import functions as F

    from flink_clickstream_processor_msk_spark.streaming.pipeline import (
        session_fanout,
    )

    src = str(tmp_path_factory.mktemp("built-once-src"))
    _append_files(spark, src, [
        # user 1's buy session closes once user 2's event sets the watermark
        [
            {"ts": BASE_TS, "seq": 1, "userid": 1, "event_type": "view", "product_type": "books"},
            {"ts": BASE_TS + 200, "seq": 2, "userid": 1, "event_type": "order_checkout", "product_type": "N/A"},
            {"ts": BASE_TS + 5_000, "seq": 3, "userid": 2, "event_type": "view", "product_type": "garden"},
        ],
        [{"ts": BASE_TS + 9_000, "seq": 4, "userid": 3, "event_type": "view", "product_type": "toys"}],
    ])
    collected: dict[str, list] = {"buy": [], "q2": [], "q3": []}

    def collector(key):
        def write(df, _epoch):
            collected[key].extend(df.collect())

        return write

    fan_out = session_fanout(collector("buy"), collector("q2"), collector("q3"))
    writer = _fanout_writer(
        spark, src, fan_out, str(tmp_path_factory.mktemp("built-once-ckpt"))
    )

    def refuse(*_args, **_kwargs):
        raise AssertionError("fan-out expression built per micro-batch")

    for name in ("col", "lit", "when", "count", "window", "window_time",
                 "explode", "unix_millis"):
        monkeypatch.setattr(F, name, refuse)
    query = writer.start()
    _drain(query)
    monkeypatch.undo()
    assert len(query.recentProgress) >= 2
    assert all(collected.values()), {k: len(v) for k, v in collected.items()}


def test_single_pass_late_drops_match_watermark_model(spark, tmp_path_factory):
    """Late drops are counted, never silently lost: a seeded ClickEvent set
    replayed out of order, one file per trigger, through the single-pass
    fan-out. The engine's summed numRowsDroppedByWatermark equals the
    zero-slack watermark model's count (reference_model.late_drops), and
    the merged outputs equal the pure-Python streaming model's
    (reference_model.stream_sessions). The set holds a straggler that
    arrives after its session was emitted without being late itself: it
    opens a second session, which a batch run over the admitted events
    would merge into the first."""
    import random

    from flink_clickstream_processor_msk_spark.streaming.pipeline import (
        merge_department_counts_partials,
        merge_session_stats_partials,
        session_fanout,
    )
    from reference_model import (
        clickstream_outputs,
        late_drops,
        sessionize_events,
        stream_sessions,
    )

    rng = random.Random(20261017)
    events, seq = [], 0
    for user in range(1, 9):
        t = BASE_TS + rng.randrange(4_000)
        while t < BASE_TS + 40_000:  # sessions of 1-3 events, 200 ms apart
            for _ in range(rng.randint(1, 3)):
                seq += 1
                events.append({
                    "ts": t, "seq": seq, "userid": user,
                    "event_type": rng.choice(["view", "view", "order_checkout"]),
                    "product_type": rng.choice(["books", "garden", "toys", "N/A"]),
                })
                t += 200
            t += rng.randrange(1_500, 6_000)
    # out-of-order arrival: each event sorts by its time plus up to 20 s
    events.sort(key=lambda e: e["ts"] + rng.randrange(20_000))
    files = [events[i:i + 20] for i in range(0, len(events), 20)] + [[SENTINEL]]

    n_late = sum(map(sum, late_drops([[e["ts"] for e in f] for f in files])))
    assert n_late > 0
    sessions = stream_sessions(files)
    admitted = [e for _, session in sessions for e in session]
    n_batch_sessions = sum(
        len(sessionize_events([e for e in admitted if e["userid"] == u]))
        for u in {e["userid"] for e in admitted}
    )
    assert len(sessions) > n_batch_sessions, "no reopened session in the set"
    want = clickstream_outputs(sessions)

    src = str(tmp_path_factory.mktemp("late-model-src"))
    _append_files(spark, src, files)
    collected: dict[str, list] = {"buy": [], "q2": [], "q3": []}

    def collector(key):
        def write(df, _epoch):
            collected[key].extend(r.asDict() for r in df.collect())

        return write

    fan_out = session_fanout(collector("buy"), collector("q2"), collector("q3"))
    ckpt = str(tmp_path_factory.mktemp("late-model-ckpt"))
    query = _fanout_writer(spark, src, fan_out, ckpt).start()
    _drain(query)

    dropped = sum(
        op.numRowsDroppedByWatermark
        for p in query.recentProgress
        for op in p.stateOperators
    )
    assert dropped == n_late

    def drop_none(_row):
        return False  # the sentinel's session never closes: no row to drop

    merged = {
        "session_stats": merge_session_stats_partials(
            spark.createDataFrame(collected["q2"])
        ),
        "department_counts": merge_department_counts_partials(
            spark.createDataFrame(collected["q3"])
        ),
    }
    for key, df in merged.items():
        assert _canon(_rows(spark, df, drop_none)) == _canon(
            _sorted_records(want[key], drop_none)
        ), key
    assert want["buy"]
    assert _canon(_sorted_records(collected["buy"], drop_none)) == _canon(
        _sorted_records(want["buy"], drop_none)
    )
