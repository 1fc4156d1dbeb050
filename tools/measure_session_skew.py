"""Hot-user skew probe for the sessionize path (guide §2.5; VERDICT r16
next-round #8): measure Q1 one-phase (`sessionize` — groupBy(userid,
session_window), AQE CANNOT split a skewed aggregation key) against
`sessionize_two_phase` (the salted/time-chunked escape hatch) on a
synthetic corpus where one user owns a large fraction of all events.

Method: replicate the sf0.1 clickevents REP× (globalseq re-keyed so rows
stay unique, ts micro-shifted per replica so no exact duplicates), then
reassign HOT_REPS of the REP replicas' userid to a single hot user —
uniform corpus = same volume, no reassignment. The synthetic input is
eagerly localCheckpointed once so every timed run reads the same
materialized rows. Timed action = noop sink over driver_output(...),
best-of-N walls; the two shapes are row-identical (pinned in
tests/test_skew.py), so this probe measures cost, not correctness.

Usage: python tools/measure_session_skew.py [REP] [HOT_REPS] [RUNS]
Defaults: 10 replicas, 3 hot (one user ~30% of all events), 3 runs.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

HOT_USER = 999_999_999


def main() -> None:
    rep = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    hot_reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    runs = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    from bench import run_query
    from flink_clickstream_processor_msk_spark import get_spark
    from flink_clickstream_processor_msk_spark.operators.sessionize import (
        driver_output,
        sessionize,
        sessionize_two_phase,
    )
    from flink_clickstream_processor_msk_spark.sources.clickevents import (
        read_clickevents,
        with_event_time,
    )
    from flink_clickstream_processor_msk_spark.sources.tables import DEFAULT_SF_DIR

    sf_dir = DEFAULT_SF_DIR

    spark = get_spark(app_name="measure_session_skew")
    base = with_event_time(read_clickevents(spark, sf_dir))

    def synth(hot: bool):
        reps = spark.range(rep).withColumnRenamed("id", "rep")
        ev = base.crossJoin(reps).select(
            "ip",
            "eventtimestamp",
            "devicetype",
            "event_type",
            "product_type",
            (
                F.when(F.col("rep") < hot_reps, F.lit(HOT_USER))
                .otherwise(F.col("userid"))
                if hot
                else F.col("userid")
            ).alias("userid"),
            (F.col("globalseq") * rep + F.col("rep")).alias("globalseq"),
            "prevglobalseq",
            F.timestamp_micros(
                F.unix_micros(F.col("ts")) + F.col("rep")
            ).alias("ts"),
        )
        return ev.localCheckpoint(eager=True)  # one materialized input

    out = {}
    for label, hot in (("uniform", False), ("hot", True)):
        ev = synth(hot)
        n = ev.count()
        hot_n = ev.filter(F.col("userid") == HOT_USER).count()
        for shape, fn in (("one_phase", sessionize), ("two_phase", sessionize_two_phase)):
            name = f"skew:{label}:{shape}"
            walls = []
            for _ in range(runs):
                spark.sparkContext.setJobDescription(name)
                # no CACHE_DEPS under this name; the localCheckpointed
                # input survives run_query's clearCache
                timed_s, _ = run_query(
                    spark, sf_dir, name, lambda s, d: driver_output(fn(ev))
                )
                walls.append(round(timed_s, 3))
            out[f"{label}:{shape}"] = {
                "rows": n,
                "hot_rows": hot_n,
                "walls": walls,
                "best": min(walls),
            }
            print(json.dumps({f"{label}:{shape}": out[f"{label}:{shape}"]}), flush=True)
    print(json.dumps({"summary": out}))
    spark.stop()


if __name__ == "__main__":
    main()
