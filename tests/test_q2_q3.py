"""Q2 (global tumbling stats) and Q3 (department counts) on crafted data."""

from __future__ import annotations

from flink_clickstream_processor_msk_spark.operators.departments import (
    department_counts_plan,
)
from flink_clickstream_processor_msk_spark.operators.session_stats import (
    session_stats_plan,
)
from flink_clickstream_processor_msk_spark.operators.sessionize import sessionize
from helpers import make_clickevents

# align to a 10 s boundary so bucket assertions are readable
T0 = 1_700_000_000_000 - (1_700_000_000_000 % 10_000)


def _sessions(spark, events):
    return sessionize(make_clickevents(spark, events))


def test_q2_counts_and_truncated_percent(spark):
    # three single-event sessions in one 10 s bucket; one is a buy session
    events = [
        {"ts": T0 + 0, "seq": 1, "userid": 1, "event_type": "view", "product_type": "a"},
        {"ts": T0 + 100, "seq": 2, "userid": 1, "event_type": "order_checkout", "product_type": "N/A"},
        {"ts": T0 + 2000, "seq": 3, "userid": 2, "event_type": "view", "product_type": "a"},
        {"ts": T0 + 4000, "seq": 4, "userid": 3, "event_type": "view", "product_type": "b"},
    ]
    rows = session_stats_plan()(_sessions(spark, events)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["userSessionCount"] == 3
    assert r["userSessionCountWithOrderCheckout"] == 1
    # Java integer division: 1*100/3 = 33, stored as double (SURVEY.md §2.3.1)
    assert r["percentSessionswithBuy"] == 33.0
    assert r["windowBeginTime"] % 10_000 == 0
    assert r["windowEndTime"] == r["windowBeginTime"] + 10_000


def test_q2_buckets_on_session_end(spark):
    # session ends (last ts + 1s gap) exactly on a bucket boundary ->
    # window_time = end - 1ms-equivalent puts it in the EARLIER bucket
    events = [
        {"ts": T0 + 9_000, "seq": 1, "userid": 1, "event_type": "view", "product_type": "a"},
    ]
    rows = session_stats_plan()(_sessions(spark, events)).collect()
    assert len(rows) == 1
    assert rows[0]["windowBeginTime"] == T0
    assert rows[0]["windowEndTime"] == T0 + 10_000


def test_q3_department_counts(spark):
    # two sessions visiting 'a' in one bucket, one visiting 'b'
    events = [
        {"ts": T0 + 0, "seq": 1, "userid": 1, "event_type": "view", "product_type": "a"},
        {"ts": T0 + 100, "seq": 2, "userid": 1, "event_type": "view", "product_type": "b"},
        {"ts": T0 + 3000, "seq": 3, "userid": 2, "event_type": "view", "product_type": "a"},
    ]
    rows = department_counts_plan()(_sessions(spark, events)).collect()
    got = {(r["departmentName"], r["windowBeginTime"]): r["departmentCount"] for r in rows}
    assert got == {("a", T0): 2, ("b", T0): 1}


def test_sliding_department_activity_membership(spark):
    """Sliding membership: with 10 s windows sliding 5 s, an event at
    T0+1 belongs to [T0-5, T0+5) and [T0, T0+10) only; an event exactly on
    a slide boundary (T0+5000) belongs to [T0, T0+10) and [T0+5, T0+15).
    Sentinel products ('', 'N/A', null) are excluded."""
    from flink_clickstream_processor_msk_spark.operators.departments import (
        sliding_department_activity,
    )

    events = [
        {"ts": T0 + 1, "seq": 1, "userid": 1, "event_type": "view", "product_type": "a"},
        {"ts": T0 + 5000, "seq": 2, "userid": 1, "event_type": "view", "product_type": "a"},
        {"ts": T0 + 1, "seq": 3, "userid": 2, "event_type": "view", "product_type": "N/A"},
        {"ts": T0 + 1, "seq": 4, "userid": 2, "event_type": "login", "product_type": ""},
    ]
    rows = sliding_department_activity(
        make_clickevents(spark, events), window="10 seconds", slide="5 seconds"
    ).collect()
    got = {(r["windowBeginTime"], r["windowEndTime"]): r["eventCount"] for r in rows}
    assert all(r["departmentName"] == "a" for r in rows)
    assert got == {
        (T0 - 5000, T0 + 5000): 1,   # first event only
        (T0, T0 + 10_000): 2,        # both events
        (T0 + 5000, T0 + 15_000): 1, # boundary event rolled forward
    }


def test_think_time_stats_lag_semantics(spark):
    """Gaps are per-user (no cross-user gap), attributed to the LATER
    event's type; each user's first event produces no gap."""
    from flink_clickstream_processor_msk_spark.operators.session_stats import (
        think_time_stats,
    )

    events = [
        {"ts": T0, "seq": 1, "userid": 1, "event_type": "view", "product_type": "a"},
        {"ts": T0 + 100, "seq": 2, "userid": 1, "event_type": "order_checkout", "product_type": "a"},
        {"ts": T0 + 400, "seq": 3, "userid": 1, "event_type": "view", "product_type": "a"},
        {"ts": T0 + 50, "seq": 4, "userid": 2, "event_type": "view", "product_type": "b"},
    ]
    rows = {
        r["event_type"]: r
        for r in think_time_stats(make_clickevents(spark, events)).collect()
    }
    # user 2's lone event and each user's first event produce no gap
    assert rows["order_checkout"]["n_gaps"] == 1
    assert rows["order_checkout"]["min_gap_ms"] == 100
    assert rows["view"]["n_gaps"] == 1  # T0+400 minus T0+100
    assert rows["view"]["avg_gap_ms"] == 300.0
    assert set(rows) == {"view", "order_checkout"}


def test_sliding_window_oracle_formula_matches_spark_dense_sweep(spark):
    """The DuckDB oracle assigns each event to candidate window starts
    ((ts // slide) - j) * slide, j < ceil(window/slide), filtered by
    ts < start + window. Pin that formula against Spark's own window()
    over a dense timestamp sweep crossing many boundaries, for a
    divisible (10s/5s) AND a non-divisible (10s/3s) slide — the latter
    makes the membership filter load-bearing (ceil gives 4 candidates
    but some events belong to only 3 windows)."""
    from flink_clickstream_processor_msk_spark.operators.departments import (
        sliding_department_activity,
    )

    ts_list = [T0 + d for d in range(-7, 25_001, 499)] + [
        T0, T0 + 4_999, T0 + 5_000, T0 + 9_999, T0 + 10_000, T0 + 15_000
    ]
    events = [
        {"ts": t, "seq": i, "userid": 1, "event_type": "view", "product_type": "a"}
        for i, t in enumerate(ts_list)
    ]
    df = make_clickevents(spark, events)

    for win_ms, slide_ms, win_s, slide_s in (
        (10_000, 5_000, "10 seconds", "5 seconds"),
        (10_000, 3_000, "10 seconds", "3 seconds"),
    ):
        got = {
            (r["windowBeginTime"], r["windowEndTime"]): r["eventCount"]
            for r in sliding_department_activity(
                df, window=win_s, slide=slide_s
            ).collect()
        }
        # pure-Python twin of the SQL oracle's membership formula
        from collections import Counter

        n = -(-win_ms // slide_ms)
        model = Counter()
        for t in ts_list:
            for j in range(n):
                start = ((t // slide_ms) - j) * slide_ms
                if start + win_ms > t:
                    model[(start, start + win_ms)] += 1
        assert got == dict(model), (win_s, slide_s)
