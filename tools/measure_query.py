"""Isolated per-query measurement (BASELINE.md row generator).

Usage: python tools/measure_query.py <query> [<query> ...] [--n 5]

Runs the named __spark_entry__.queries() entries at $SPARK_GRAFT_SF_DIR
(default: the sf0.1 tier, ``sources.tables.DEFAULT_SF_DIR``) through
bench.py's own ``warm_up`` and ``run_query`` (CACHE_DEPS re-warm, timed
noop write, clearCache), printing per-run timings so a BASELINE.md
"isolated best-of-N" row can be recorded.  Exists because CLAUDE.md's
hard rule ("new driver queries need a BASELINE.md per-query row,
isolated best-of-3 at sf0.1") was previously serviced by ad-hoc
one-off scripts that never got committed.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    argv = sys.argv[1:]
    n = 5
    args: list[str] = []
    i = 0
    while i < len(argv):
        if argv[i] == "--n":
            n = int(argv[i + 1])
            i += 2
        else:
            args.append(argv[i])
            i += 1
    if not args:
        print("usage: measure_query.py <query> [...] [--n 5]", file=sys.stderr)
        sys.exit(2)

    import __spark_entry__ as entry_mod
    from bench import run_query, warm_up
    from flink_clickstream_processor_msk_spark import get_spark
    from flink_clickstream_processor_msk_spark.sources.tables import DEFAULT_SF_DIR

    sf_dir = DEFAULT_SF_DIR
    spark = get_spark(app_name="measure_query")
    warm_up(spark, sf_dir)

    qs = entry_mod.queries()
    for name in args:
        runs = [
            round(run_query(spark, sf_dir, name, qs[name])[0], 3) for _ in range(n)
        ]
        print(f"{name}: runs={runs} best={min(runs)}")


if __name__ == "__main__":
    main()
