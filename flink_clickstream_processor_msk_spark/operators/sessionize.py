"""Q1 — per-user event-time session windows (+ F1 buy-session filter).

Reference: ClickstreamProcessor.java:127-130 —
``keyBy(userid) → EventTimeSessionWindows.withGap(1s) →
aggregate(UserAggregate, UserAggWindowFunction)`` producing
``UserIdSessionEvent``; plus the buy-session filter at CP:133-134.

Spark-first design:

- ``groupBy(userid, session_window(ts, gap))`` is the whole Q1a/Q1b/Q1d
  surface: Catalyst inserts the hash exchange (keyBy), the session-window
  state handles merging, and ``window.start/end`` replace the
  ProcessWindowFunction decoration (UserAggWindowFunction.java:9-23).
- The aggregate (UserAggregate.java:17-38) decomposes into built-ins —
  conditional count + collect_set — plus the order-dependent checkout latch
  (functions/latch.py), a pure Catalyst fold.
- Identical expressions run in batch (DataFrame on parquet — how the DuckDB
  oracle checks us) and streaming (state-store-backed session windows).

Scale notes: one shuffle on userid; per-session state is bounded by the
session gap (collect_list holds one session's events, not history); the
aggregation is partial/final (map-side combine) for count/collect_set and
spill-safe. Hot-KEY skew is NOT AQE-splittable (aggregation keys hash to
one task; AQE's skew handling is join-side only — measured, PLANS.md
"Round-14 measured scaling notes"): a user carrying a corpus-scale share
of events routes through :func:`sessionize_two_phase`, the time-salted
exact variant.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_clickstream_processor_msk_spark.functions.latch import (
    checkout_latch,
    latch_event,
)
from flink_clickstream_processor_msk_spark.functions.predicates import (
    is_checkout,
    is_real_product,
)

DEFAULT_GAP = "1 second"

#: the UserIdSessionEvent columns (pkg/UserIdSessionEvent.java:5-12), in
#: emit order: the Q1 aggregates, then the session bounds
USER_SESSION_COLUMNS = (
    "userId",
    "eventCount",
    "orderCheckoutEventCount",
    "deptList",
    "eventKey",
    "windowBeginTime",
    "windowEndTime",
)


def session_aggregates() -> list[Column]:
    """The Q1 aggregate expressions (UserAggregate.java:17-38), reusable by
    both the batch and streaming paths."""
    product = is_real_product()
    checkout = is_checkout()
    return [
        F.count(F.when(product, F.lit(1))).cast("int").alias("eventCount"),
        checkout_latch(
            F.collect_list(
                latch_event(
                    F.col("eventtimestamp"), F.col("globalseq"), product, checkout
                )
            )
        )
        .cast("int")
        .alias("orderCheckoutEventCount"),
        F.sort_array(
            F.collect_set(F.when(product, F.col("product_type")))
        ).alias("deptList"),
        F.lit(1).alias("eventKey"),  # parity: constant key, UserAggregate.java:35
    ]


def sessionize(clickevents: DataFrame, gap: str = DEFAULT_GAP) -> DataFrame:
    """ClickEvents (with event-time col ``ts``) → UserIdSessionEvent rows.

    Works on both static and streaming DataFrames; window bounds are
    emitted as epoch millis (windowEndTime = last event + gap, matching
    Flink's session maxTimestamp + 1ms boundary convention).
    """
    bounds = {
        "windowBeginTime": F.unix_millis(F.col("session.start")),
        "windowEndTime": F.unix_millis(F.col("session.end")),
    }
    return (
        clickevents.groupBy(
            F.col("userid").alias("userId"),
            F.session_window(F.col("ts"), gap).alias("session"),
        )
        .agg(*session_aggregates())
        .select(
            *(bounds[c].alias(c) if c in bounds else c for c in USER_SESSION_COLUMNS),
            # kept for chained event-time windows (Q2/Q3); drop via
            # drop_internal() before emitting UserIdSessionEvent rows
            F.col("session").alias("_session"),
        )
    )


def drop_internal(df: DataFrame) -> DataFrame:
    """Strip engine-internal (underscore-prefixed) columns."""
    return df.drop(*[c for c in df.columns if c.startswith("_")])


def driver_output(df: DataFrame) -> DataFrame:
    """Driver-facing UserIdSessionEvent projection.

    The correctness harness canonicalizes rows with pandas ``sort_values``,
    which cannot sort/hash array cells — so ``deptList`` (already sorted by
    ``session_aggregates``) is emitted as a comma-joined string here. The
    array form stays internal (Q3's explode and the streaming JSON sinks,
    where an array mirrors the reference's HashSet serialization —
    pkg/UserIdSessionEvent.java:5-12).
    """
    out = drop_internal(df)
    if "deptList" in out.columns:
        out = out.withColumn("deptList", F.array_join(F.col("deptList"), ","))
    return out


def buy_sessions_plan() -> Callable[[DataFrame], DataFrame]:
    """F1 as a once-built plan: the sessions containing a checkout
    (ClickstreamProcessor.java:133-134), projected to the explicit
    UserIdSessionEvent columns. The expressions are built here, once, and
    the fixed column tuple replaces a per-call schema fetch
    (:func:`drop_internal`), so a per-micro-batch caller pays neither."""
    has_checkout = F.col("orderCheckoutEventCount") != 0
    columns = tuple(F.col(c) for c in USER_SESSION_COLUMNS)

    def plan(user_sessions: DataFrame) -> DataFrame:
        return user_sessions.filter(has_checkout).select(*columns)

    return plan


#: two-phase chunk width (micros): 1 hour. Any value > 0 is CORRECT (the
#: merge chain handles arbitrary chunk spans); width only tunes how much
#: event mass lands per (userid, chunk) task vs how many boundary partials
#: phase 2 re-merges.
TWO_PHASE_CHUNK_US = 3_600_000_000


def sessionize_two_phase(
    clickevents: DataFrame,
    gap: str = DEFAULT_GAP,
    chunk_us: int = TWO_PHASE_CHUNK_US,
) -> DataFrame:
    """Hot-key-skew-safe Q1 sessionization (VERDICT r13 #6): identical
    results to :func:`sessionize` (pinned in tests/test_skew.py), but no
    single task ever holds one user's whole event history.

    Why: ``groupBy(userid, session_window)`` hash-partitions on userid —
    a user carrying 20 % of the corpus sends 20 % of all events through
    ONE task, and AQE cannot split a skewed AGGREGATION key (its skew
    handling is join-side only; the module-header claim this replaces
    was measured wrong, PLANS.md "Round-14 measured scaling notes"). The
    standard fix is
    salted pre-aggregation (skew.py precedent), and session windows
    admit a TIME-based salt that stays semantically exact:

    1. **Phase 1 — salted partials.** Key by ``(userid, chunk)`` where
       ``chunk = unix_micros(ts) DIV chunk_us`` and session-window
       within each chunk. The hot user's events now spread over
       events-per-chunk-sized tasks. Each partial session keeps
       composable state: product-event count, the latch triple, the
       dept set, and its event-time interval ``[min_ts, max_ts]``.
    2. **Phase 2 — boundary merge over PARTIALS.** Within a user,
       partials are disjoint intervals; two consecutive ones belong to
       one session iff ``next.min_ts <= prev.max_ts + gap`` (inclusive —
       the touching-windows-MERGE convention Flink's
       ``TimeWindow.intersects`` and Spark's session_window share). A
       lag/cumulative-sum chain assigns merged session ids — the
       sessions-not-events scale: the window sort ranks one row per
       partial session, so the hot user costs O(its session count).

    The checkout latch merges exactly because its state is the triple
    ``(cnt, latch, has_checkout)``: concatenating event streams A‖B
    gives ``cnt = cnt_A + cnt_B`` and ``latch = cnt_A + latch_B`` when B
    contains a checkout else ``latch_A`` (every checkout in B sees
    cnt_A more product events; the LAST checkout overall is B's if B has
    any) — associative, so the fold over min_ts-sorted partials replays
    the event-order fold (property-fuzzed in tests/test_skew.py).

    Batch path only (phase 2's analytic window needs a complete input);
    streaming keeps the native incremental session_window state — per
    RECORD cost there is flat (state lookups per record, never a
    per-key SORT buffer holding a user's whole history), and this
    operator is the backfill/batch answer when one key dominates. The
    production hybrid for a hot-key STREAM: run the native streaming Q1
    live, and use this operator for the batch RECONCILIATION/BACKFILL
    over any replayed slice — the two paths are row-identical, so a
    reconciliation diff reports zero drift and a backfill repairs
    streaming gaps in place (pinned end-to-end in tests/test_skew.py::
    test_two_phase_backfill_equals_streaming_result, r15)."""
    gap_us = _gap_micros(clickevents, gap)
    product = is_real_product()
    checkout = is_checkout()
    latch_state = F.aggregate(
        F.sort_array(
            F.collect_list(
                latch_event(
                    F.col("eventtimestamp"), F.col("globalseq"), product, checkout
                )
            )
        ),
        F.struct(
            F.lit(0).alias("cnt"), F.lit(0).alias("latch"), F.lit(0).alias("has")
        ),
        lambda acc, e: F.struct(
            (acc["cnt"] + e["p"]).alias("cnt"),
            F.when(e["c"] == 1, acc["cnt"] + e["p"])
            .otherwise(acc["latch"])
            .alias("latch"),
            F.greatest(acc["has"], e["c"]).alias("has"),
        ),
    )
    partials = (
        clickevents.withColumn(
            "_chunk", F.expr(f"unix_micros(ts) DIV {int(chunk_us)}")
        )
        .groupBy(
            F.col("userid").alias("userId"),
            F.col("_chunk"),
            F.session_window(F.col("ts"), gap).alias("session"),
        )
        .agg(
            F.count(F.when(product, F.lit(1))).alias("n"),
            latch_state.alias("ls"),
            F.collect_set(F.when(product, F.col("product_type"))).alias("depts"),
            F.min(F.unix_micros(F.col("ts"))).alias("min_us"),
            F.max(F.unix_micros(F.col("ts"))).alias("max_us"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("userId").orderBy("min_us")
    chained = partials.withColumn(
        "_new",
        F.when(
            F.col("min_us") <= F.lag("max_us").over(w) + F.lit(gap_us), F.lit(0)
        ).otherwise(F.lit(1)),
    ).withColumn("_sid", F.sum("_new").over(w))
    merged = chained.groupBy("userId", "_sid").agg(
        F.sum("n").cast("int").alias("eventCount"),
        F.aggregate(
            F.sort_array(
                F.collect_list(F.struct("min_us", F.col("ls").alias("s")))
            ),
            F.struct(F.lit(0).alias("cnt"), F.lit(0).alias("latch")),
            lambda acc, e: F.struct(
                (acc["cnt"] + e["s"]["cnt"]).alias("cnt"),
                F.when(e["s"]["has"] == 1, acc["cnt"] + e["s"]["latch"])
                .otherwise(acc["latch"])
                .alias("latch"),
            ),
            lambda acc: acc["latch"],
        )
        .cast("int")
        .alias("orderCheckoutEventCount"),
        F.sort_array(
            F.array_distinct(F.flatten(F.collect_list("depts")))
        ).alias("deptList"),
        F.min("min_us").alias("_begin_us"),
        F.max("max_us").alias("_max_us"),
    )
    return merged.select(
        "userId",
        "eventCount",
        "orderCheckoutEventCount",
        "deptList",
        F.lit(1).alias("eventKey"),
        # integer DIV, never `/` (the epoch-precision repo rule); both
        # _begin_us and _max_us+gap are non-negative in any real tier
        F.expr("_begin_us DIV 1000").alias("windowBeginTime"),
        F.expr(f"(_max_us + {int(gap_us)}) DIV 1000").alias("windowEndTime"),
    )


_GAP_MICROS_MEMO: dict[str, int] = {}


def _gap_micros(df: DataFrame, gap: str) -> int:
    """Resolve a Spark interval string ('1 second', '30 minutes') to
    microseconds via the engine's own interval parser, so the two-phase
    merge uses EXACTLY the gap session_window applies.

    Memoized per gap string (r16): the parse is session-independent (a
    literal-interval evaluation), and the un-memoized form ran one
    single-row Spark job inside EVERY sessionize_two_phase construction
    — pure fixed overhead on the query path (guide §1.2: don't recompute
    what cannot change)."""
    hit = _GAP_MICROS_MEMO.get(gap)
    if hit is None:
        row = df.sparkSession.sql(
            f"SELECT unix_micros(timestamp'1970-01-01 00:00:00Z' + interval '{gap}') AS us"
        ).first()
        hit = _GAP_MICROS_MEMO[gap] = int(row["us"])
    return hit
