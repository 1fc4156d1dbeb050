"""Q1 sessionization end-to-end on crafted multi-event sessions."""

from __future__ import annotations

from flink_clickstream_processor_msk_spark.operators.sessionize import (
    USER_SESSION_COLUMNS,
    buy_sessions_plan,
    drop_internal,
    sessionize,
)
from helpers import BASE_TS, make_clickevents


def _collect(df):
    return {
        (r["userId"], r["windowBeginTime"]): r.asDict()
        for r in drop_internal(df).collect()
    }


def test_sessions_split_on_gap_boundary(spark):
    # <= 1000 ms gap merges (Spark merges at exactly the gap — Flink would
    # split there; engine standardizes on Spark); > 1000 ms splits
    events = [
        {"ts": BASE_TS, "seq": 1, "userid": 1, "event_type": "view", "product_type": "a"},
        {"ts": BASE_TS + 1000, "seq": 2, "userid": 1, "event_type": "view", "product_type": "b"},
        {"ts": BASE_TS + 1000 + 1001, "seq": 3, "userid": 1, "event_type": "view", "product_type": "c"},
    ]
    out = _collect(sessionize(make_clickevents(spark, events)))
    assert len(out) == 2
    first = out[(1, BASE_TS)]
    assert first["eventCount"] == 2
    assert first["deptList"] == ["a", "b"]
    assert first["windowEndTime"] == BASE_TS + 1000 + 1000
    second = out[(1, BASE_TS + 2001)]
    assert second["eventCount"] == 1
    assert second["deptList"] == ["c"]


def test_full_session_aggregate_fields(spark):
    events = [
        {"ts": BASE_TS, "seq": 1, "userid": 7, "event_type": "product_view", "product_type": "books"},
        {"ts": BASE_TS + 100, "seq": 2, "userid": 7, "event_type": "add_to_cart", "product_type": "books"},
        {"ts": BASE_TS + 200, "seq": 3, "userid": 7, "event_type": "order_checkout", "product_type": "N/A"},
        {"ts": BASE_TS + 300, "seq": 4, "userid": 7, "event_type": "product_view", "product_type": "garden"},
    ]
    out = _collect(sessionize(make_clickevents(spark, events)))
    assert len(out) == 1
    row = out[(7, BASE_TS)]
    assert row["eventCount"] == 3  # garden view counts; checkout ('N/A') doesn't
    assert row["orderCheckoutEventCount"] == 2  # latched before garden view
    assert row["deptList"] == ["books", "garden"]
    assert row["eventKey"] == 1
    assert row["windowEndTime"] == BASE_TS + 300 + 1000


def test_users_are_independent(spark):
    events = [
        {"ts": BASE_TS, "seq": 1, "userid": 1, "event_type": "view", "product_type": "a"},
        {"ts": BASE_TS + 10, "seq": 2, "userid": 2, "event_type": "view", "product_type": "b"},
    ]
    out = _collect(sessionize(make_clickevents(spark, events)))
    assert len(out) == 2
    assert out[(1, BASE_TS)]["deptList"] == ["a"]
    assert out[(2, BASE_TS + 10)]["deptList"] == ["b"]


def test_buy_sessions_filter(spark):
    events = [
        # user 1: buy session (product event then checkout)
        {"ts": BASE_TS, "seq": 1, "userid": 1, "event_type": "view", "product_type": "a"},
        {"ts": BASE_TS + 100, "seq": 2, "userid": 1, "event_type": "order_checkout", "product_type": "N/A"},
        # user 2: checkout with no prior product events -> latch 0 -> filtered out
        {"ts": BASE_TS, "seq": 3, "userid": 2, "event_type": "order_checkout", "product_type": "N/A"},
        # user 3: no checkout
        {"ts": BASE_TS, "seq": 4, "userid": 3, "event_type": "view", "product_type": "c"},
    ]
    buys = buy_sessions_plan()(sessionize(make_clickevents(spark, events)))
    assert tuple(buys.columns) == USER_SESSION_COLUMNS
    out = buys.collect()
    assert [r["userId"] for r in out] == [1]
