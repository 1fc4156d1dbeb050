"""Pure-Python executable model of the reference Q1 aggregate.

Transcribed semantics (not code) of UserAggregate.java:17-38 plus
event-time-ordered processing (SURVEY.md §2.3.2-3): the ground truth the
Spark latch implementation is property-tested against.
"""

from __future__ import annotations

NO_DEPARTMENT = {None, "", "N/A"}
SESSION_GAP_MS = 1_000


def q1_session_aggregate(events: list[dict]) -> dict:
    """Run the reference per-session aggregate over one session's events.

    events: dicts with keys ts (ms), seq, event_type, product_type.
    Processing order: (ts, seq) ascending — the watermark/event-time order
    the reference observes in practice.
    """
    ordered = sorted(events, key=lambda e: (e["ts"], e["seq"]))
    event_count = 0
    latch = 0
    depts: set[str] = set()
    for e in ordered:
        if e["product_type"] not in NO_DEPARTMENT:
            event_count += 1
            depts.add(e["product_type"])
        if e["event_type"] == "order_checkout":
            latch = event_count
    return {
        "eventCount": event_count,
        "orderCheckoutEventCount": latch,
        "deptList": sorted(depts),
    }


def sessionize_events(events: list[dict], gap_ms: int = SESSION_GAP_MS) -> list[list[dict]]:
    """Gap-and-islands split of one user's events.

    New session when the event-time delta is strictly greater than the gap:
    Spark ``session_window`` merges events exactly ``gap`` apart (its window
    end is inclusive of a coinciding next start), where Flink would split.
    The engine standardizes on Spark's behavior.
    """
    ordered = sorted(events, key=lambda e: (e["ts"], e["seq"]))
    sessions: list[list[dict]] = []
    for e in ordered:
        if sessions and e["ts"] - sessions[-1][-1]["ts"] <= gap_ms:
            sessions[-1].append(e)
        else:
            sessions.append([e])
    return sessions


def late_drops(batches_ts: list[list[int]], gap_ms: int = SESSION_GAP_MS) -> list[list[bool]]:
    """Per micro-batch, which events the zero-slack watermark drops as late.

    The watermark after a batch is the maximum event time of every batch so
    far; the session operator filters a batch against the watermark that
    was in effect one batch earlier (Spark's watermark for late events), so
    batch ``i`` sees the maximum event time of batches ``< i - 1`` (0, no
    watermark, before that). An event is late when its own session window
    ``[ts, ts + gap)`` ends at or before that watermark.
    """
    out = []
    for i, batch in enumerate(batches_ts):
        watermark = max((ts for b in batches_ts[: max(0, i - 1)] for ts in b), default=0)
        out.append([ts + gap_ms <= watermark for ts in batch])
    return out


def stream_sessions(
    batches: list[list[dict]], gap_ms: int = SESSION_GAP_MS
) -> list[tuple[int, list[dict]]]:
    """The (userid, events) sessions a zero-slack streaming session window
    emits when ``batches`` arrive one micro-batch each, in order, followed by
    one no-data batch.

    Each batch first loses its late events (:func:`late_drops`), then joins
    its user's open sessions (a gap-and-islands re-split of the open events
    plus the new ones); every session whose end (last event + gap) is at or
    before the watermark — the maximum event time of the EARLIER batches —
    is then emitted and forgotten. So an event that arrives after its
    session was emitted, yet is not late itself, opens a second session
    where a batch run over the same events would find one.
    """
    masks = late_drops([[e["ts"] for e in b] for b in batches], gap_ms)
    open_events: dict[int, list[dict]] = {}
    emitted: list[tuple[int, list[dict]]] = []
    watermark = 0
    for batch, mask in zip([*batches, []], [*masks, []]):
        for e, late in zip(batch, mask):
            if not late:
                open_events.setdefault(e["userid"], []).append(e)
        for user, events in open_events.items():
            still_open = []
            for session in sessionize_events(events, gap_ms):
                if session[-1]["ts"] + gap_ms <= watermark:
                    emitted.append((user, session))
                else:
                    still_open.extend(session)
            open_events[user] = still_open
        watermark = max([watermark, *(e["ts"] for e in batch)])
    return emitted


def clickstream_outputs(
    sessions: list[tuple[int, list[dict]]],
    gap_ms: int = SESSION_GAP_MS,
    window_ms: int = 10_000,
) -> dict[str, list[dict]]:
    """Buy-session (F1), Q2 and Q3 rows over finalized ``sessions``: each
    session lands in the tumbling window holding its end − 1 ms."""
    buy, stats, departments = [], {}, {}
    for user, events in sessions:
        agg = q1_session_aggregate(events)
        begin = min(e["ts"] for e in events)
        end = max(e["ts"] for e in events) + gap_ms
        if agg["orderCheckoutEventCount"] != 0:
            buy.append({"userId": user, **agg, "eventKey": 1,
                        "windowBeginTime": begin, "windowEndTime": end})
        bucket = (end - 1) // window_ms * window_ms
        total, with_buy = stats.get(bucket, (0, 0))
        stats[bucket] = (total + 1, with_buy + (agg["orderCheckoutEventCount"] != 0))
        for dept in agg["deptList"]:
            departments[dept, bucket] = departments.get((dept, bucket), 0) + 1
    return {
        "buy": buy,
        "session_stats": [
            {"userSessionCount": total, "userSessionCountWithOrderCheckout": with_buy,
             "percentSessionswithBuy": float(with_buy * 100 // total),
             "windowBeginTime": b, "windowEndTime": b + window_ms}
            for b, (total, with_buy) in stats.items()
        ],
        "department_counts": [
            {"departmentName": d, "departmentCount": n,
             "windowBeginTime": b, "windowEndTime": b + window_ms}
            for (d, b), n in departments.items()
        ],
    }
