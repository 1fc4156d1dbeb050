"""Benchmark harness (driver contract: one JSON line to stdout).

Runs every headline query from __spark_entry__.queries() at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS], timing full materialization (noop sink: executes
the whole plan, writes nothing, so sink I/O doesn't pollute operator
timings). The LAST stdout line is the compact driver contract:

    {"metric": "total_query_seconds", "value": N, "unit": "sec",
     "n_queries": K, "sf": <dir>}

The driver keeps only a ~2000-byte stdout TAIL and json-parses the last
line, so that line must stay small INDEPENDENT of query count (r5 and r9
both recorded `parsed: null` when a per-query dict grew past the tail).
Per-query timings go to their own earlier stdout line and to
BENCH_SPREAD.json; nothing per-query may ride on the contract line.
`build_contract_line` is the single source of that line, unit-tested in
tests/test_bench_contract.py against a simulated 2000-byte truncation.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Hard ceiling on the contract line: the driver's stdout-tail capture is
# 2000 bytes; 500 leaves room for other tail content while being far above
# the ~120 bytes the fixed-field line actually needs.
CONTRACT_LINE_MAX_BYTES = 500


def build_contract_line(total: float, n_queries: int, sf_dir: str) -> str:
    """The LAST stdout line, and nothing else, is parsed by the driver.

    Fixed fields only — no per-query payload — so the serialized size is
    O(1) in query count (r9's parsed:null was the 71-entry timings dict
    pushing the line head past the driver's 2000-byte tail capture).
    """
    line = json.dumps(
        {
            "metric": "total_query_seconds",
            "value": total,
            "unit": "sec",
            "n_queries": n_queries,
            "sf": sf_dir,
        }
    )
    if len(line.encode("utf-8")) > CONTRACT_LINE_MAX_BYTES:
        raise ValueError(
            f"contract line {len(line)}B exceeds {CONTRACT_LINE_MAX_BYTES}B"
        )
    return line


def warm_up(spark, sf_dir: str) -> None:
    """Generic warm-up so the first timed query isn't charged for one-time
    runtime costs (measured: first run of a query shape is 3-5x its steady
    state): JVM JIT, whole-stage codegen, the Arrow/pandas Python worker
    pool (spark.python.worker.reuse keeps them alive), and the
    session-window state machinery. Operator cost is what the bench
    measures."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    spark.range(10_000_000).selectExpr("sum(id)").write.format("noop").mode(
        "overwrite"
    ).save()
    spark.read.parquet(f"{sf_dir}/events.parquet").limit(1000).write.format(
        "noop"
    ).mode("overwrite").save()

    # pandas-UDF worker pool (one per core)
    @pandas_udf("long", PandasUDFType.SCALAR)
    def _warm(s):
        return s

    ncpu = spark.sparkContext.defaultParallelism
    spark.range(ncpu * 4, numPartitions=ncpu).select(_warm("id")).write.format(
        "noop"
    ).mode("overwrite").save()
    # session-window + sort/fold codegen paths
    spark.range(1000).select(
        (F.col("id") % 7).alias("k"),
        F.timestamp_millis(F.col("id") * 100).alias("ts"),
    ).groupBy("k", F.session_window("ts", "1 second")).agg(
        F.count("*"), F.collect_set("k")
    ).write.format("noop").mode("overwrite").save()


def run_query(spark, sf_dir: str, name: str, fn) -> tuple[float, float]:
    """One timed run of a declared query; returns (timed_s, warm_s).

    Probe/consumer queries read amortized session-cached artifacts (ANN
    indexes, the near-dup pairs table): their ``CACHE_DEPS`` are re-warmed
    UNTIMED first, so the timing measures the query's own work over the
    artifact, not a rebuild the cluster usage model amortizes away.
    Builder queries declare no deps and pay their full pipeline cost. The
    warm wall is returned too: a warm that inflates alongside the timed
    run marks a host stall window, not an artifact problem (eviction was
    refuted: partition deficit 0 under 52 GB of induced residue, PLANS.md
    "Round-15 measured scaling notes").

    The timed region is construction + execution (iterative operators,
    e.g. connected components, run distributed jobs during construction)
    through the noop sink. ``clearCache`` afterwards drops what the run
    persisted (dedup signature tables, the re-warmed artifacts), so the
    cache neither accumulates nor leaks a materialized result into the
    next timing.
    """
    import __spark_entry__ as entry_mod

    warm_start = time.perf_counter()
    entry_mod.warm_caches(spark, sf_dir, entry_mod.CACHE_DEPS.get(name, ()))
    warm_s = time.perf_counter() - warm_start
    start = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    timed_s = time.perf_counter() - start
    spark.catalog.clearCache()
    return timed_s, warm_s


def main() -> None:
    import statistics

    import __spark_entry__ as entry_mod
    from flink_clickstream_processor_msk_spark import get_spark
    from flink_clickstream_processor_msk_spark.sources.tables import DEFAULT_SF_DIR

    sf_dir = DEFAULT_SF_DIR
    spark = get_spark(app_name="bench")
    warm_up(spark, sf_dir)

    # best-of-2 per query: even with the generic warmup above, the first
    # execution of a specific plan still pays its own whole-stage-codegen
    # compile (~2x measured on Q1); the second run is steady state, which is
    # what an engine-throughput comparison should measure
    timings: dict[str, float] = {}
    spread: dict[str, dict[str, float]] = {}
    for name, fn in entry_mod.queries().items():
        runs: list[float] = []
        warms: list[float] = []
        # best-of-2, adaptively extended: a transient host/JVM stall (this
        # box runs multi-second hiccups under sustained load) can span both
        # ~2 s runs and poison the min; when the two timings disagree wildly,
        # the query gets up to two more runs so the min reflects steady state
        while len(runs) < 2 or (
            len(runs) < 5
            and min(runs) > 0.5
            and (max(runs) / min(runs) > 2.5 or min(runs) > 3.0)
        ):
            timed_s, warm_s = run_query(spark, sf_dir, name, fn)
            runs.append(timed_s)
            warms.append(warm_s)
        timings[name] = round(min(runs), 3)
        # min is the headline (steady state), but min-of-N structurally
        # hides bimodal queries (a 2.5 s / 70 s alternator reports 2.5 s) —
        # record the full spread so variance is visible per round
        spread[name] = {
            "min": round(min(runs), 3),
            "med": round(statistics.median(runs), 3),
            "max": round(max(runs), 3),
            "n": len(runs),
        }
        if entry_mod.CACHE_DEPS.get(name):
            spread[name]["warm_min"] = round(min(warms), 3)
            spread[name]["warm_max"] = round(max(warms), 3)

    total = round(sum(timings.values()), 3)
    # The driver keeps only the ~2000-byte TAIL of stdout and parses the
    # last JSON line. Round 5 lesson (spread dict) AND round 9 lesson
    # (timings dict at 71 queries): ANY per-query payload on that line
    # eventually outgrows the tail and the round records `parsed: null`.
    # So per-query data lives in BENCH_SPREAD.json + its own earlier
    # stdout lines, and the LAST line carries fixed fields only.
    try:
        with open(
            os.path.join(
                os.path.dirname(os.path.abspath(__file__)), "BENCH_SPREAD.json"
            ),
            "w",
        ) as f:
            json.dump({"spread": spread, "sf": sf_dir}, f, indent=1)
    except OSError as exc:
        # the spread file is a nice-to-have; the contract line below is the
        # round's metric — never let a read-only checkout / full disk here
        # destroy it (that would be worse than r5's parsed:null)
        print(f"BENCH_SPREAD.json not written: {exc}", file=sys.stderr)
    print(json.dumps({"spread": spread}))
    print(json.dumps({"queries": timings, "sf": sf_dir}))
    print(build_contract_line(total, len(timings), sf_dir))
    spark.stop()


if __name__ == "__main__":
    main()
