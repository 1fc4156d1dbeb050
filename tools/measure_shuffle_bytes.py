"""Measure per-query SHUFFLE bytes/records (and input bytes) via the
Spark UI REST API — the guide §1.5/§7.1 discipline of confirming
shuffle-volume claims with metrics from a labeled run instead of arguing
from plan shapes.

Usage: python tools/measure_shuffle_bytes.py <query> [<query> ...]

For each named declared query: one untimed bench.py ``run_query`` (so
the plan's first compile stays out of ``wall_s``), then one more
(CACHE_DEPS re-warm untimed, full plan through the noop sink,
clearCache) whose construction and execution run under a dedicated job
group, then sum shuffle-write bytes/records and input bytes over exactly
the stages of that group's jobs. Prints one JSON line per query and a
trailing summary dict.

The UI/REST server is local (spark.ui.enabled defaults true); stage
metrics are authoritative executor-reported totals, not estimates.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _get(base: str, path: str):
    with urllib.request.urlopen(f"{base}{path}") as r:
        return json.load(r)


def main() -> None:
    names = sys.argv[1:]
    if not names:
        print("usage: measure_shuffle_bytes.py <query> [...]", file=sys.stderr)
        sys.exit(2)
    import __spark_entry__ as entry_mod
    from bench import run_query, warm_up
    from flink_clickstream_processor_msk_spark import get_spark
    from flink_clickstream_processor_msk_spark.sources.tables import DEFAULT_SF_DIR

    sf_dir = DEFAULT_SF_DIR

    # the engine session disables the UI (get_spark sets spark.ui.enabled
    # false); this harness needs the REST metrics endpoint, so re-enable
    # it for this measurement session only
    spark = get_spark(
        app_name="measure_shuffle_bytes",
        extra_conf={"spark.ui.enabled": "true"},
    )
    sc = spark.sparkContext
    ui = sc.uiWebUrl  # e.g. http://host:4040
    app_id = sc.applicationId
    base = f"{ui}/api/v1/applications/{app_id}"
    warm_up(spark, sf_dir)  # else the first query's wall_s is a cold-JVM wall

    qs = entry_mod.queries()
    out = {}
    for name in names:
        fn = qs[name]

        # the group is set as construction starts, after run_query's
        # untimed CACHE_DEPS warm, so only the query's own jobs count
        def grouped(spark, sf_dir, name=name, fn=fn):
            sc.setJobGroup(f"msb:{name}", name)
            return fn(spark, sf_dir)

        run_query(spark, sf_dir, name, fn)  # untimed: the first compile
        wall, _ = run_query(spark, sf_dir, name, grouped)
        sc.setJobGroup("", "")
        time.sleep(0.5)  # let the listener drain
        jobs = _get(base, "/jobs")
        stage_ids = set()
        for j in jobs:
            if j.get("jobGroup") == f"msb:{name}":
                stage_ids.update(j.get("stageIds", []))
        sw_bytes = sw_recs = in_bytes = sr_bytes = 0
        n_stages = 0
        for s in _get(base, "/stages?status=complete"):
            if s["stageId"] in stage_ids:
                n_stages += 1
                sw_bytes += s.get("shuffleWriteBytes", 0)
                sw_recs += s.get("shuffleWriteRecords", 0)
                sr_bytes += s.get("shuffleReadBytes", 0)
                in_bytes += s.get("inputBytes", 0)
        row = {
            "query": name,
            "wall_s": round(wall, 3),
            "shuffle_write_bytes": sw_bytes,
            "shuffle_write_records": sw_recs,
            "shuffle_read_bytes": sr_bytes,
            "input_bytes": in_bytes,
            "stages": n_stages,
        }
        out[name] = row
        print(json.dumps(row), flush=True)
    print(json.dumps({"summary": out}))
    spark.stop()


if __name__ == "__main__":
    main()
