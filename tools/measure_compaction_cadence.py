"""Delta-growth → probe-cost curve for the dedup state's LSM layout —
derives the default compaction cadence (VERDICT r10 next#5; feeds the
PLANS.md round-11 row and `streaming/ingest.recommended_compact_every`).

The LSM trade: appends go to the generation's flat `delta` (cheap, 0.2 s/batch),
but every probe reads base ∪ WHOLE delta — the delta term grows linearly
with batches since the last compaction, while compaction itself is a
fixed corpus-banded rewrite. With one probe per epoch and one batch of B
docs appended per epoch, a compact-every-E policy costs per cycle

    C  +  sum_{k=1..E} s·B·k  ≈  C + s·B·E²/2      (s = probe sec/doc)

so the amortized per-epoch cost C/E + s·B·E/2 is minimized at

    E* = sqrt(2·C / (s·B))

This harness measures s (probe a FIXED novel 500-doc batch against the
state after each of N appends — the probe shares no shingles with base
or delta, so pair output is ~0 every epoch and the curve is purely the
delta-read term) and C (compact copies of the state at three delta
depths — the round-10 claim that C is delta-size-insensitive is
re-checked, not assumed), then prints the fitted slope and E*.

    python tools/measure_compaction_cadence.py
    BENCH_CADENCE_DEPTHS=0,10,20,40,80 python tools/measure_compaction_cadence.py

First finding (20 uniform depths, delta to 2× base): the curve is FLAT
within the ±0.7 s host-noise band — at sf0.1 the whole 10 k-doc delta
(160 k banded rows, 20 files) costs less to scan than one noise quantum,
so the slope needs a LOG-SPACED sweep to much deeper deltas to emerge
from the noise; hence the depth list.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from flink_clickstream_processor_msk_spark.sources.tables import (
    DEFAULT_SF_DIR,
    ID_STRIDE,
)

SF_DIR = DEFAULT_SF_DIR
SCRATCH = "/tmp/compaction_cadence_measure"
BATCH_SIZE = 500  # the bench_ingest cadence at sf0.1
# probe depths in BATCHES (each batch = BATCH_SIZE docs appended as one
# flat file) — log-spaced so a sub-noise linear term integrates visibly
DEPTHS = [
    int(x)
    for x in os.environ.get("BENCH_CADENCE_DEPTHS", "0,10,20,40,80,160").split(",")
]
COMPACT_AT = {10, 40, 160}  # depths (batches) to time compaction at


def main() -> None:
    from bench import warm_up
    from flink_clickstream_processor_msk_spark import get_spark
    from flink_clickstream_processor_msk_spark.operators import dedup
    from flink_clickstream_processor_msk_spark.streaming.ingest import (
        _StateHandles,
    )

    spark = get_spark(app_name="measure_compaction_cadence")
    warm_up(spark, SF_DIR)

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_docs = docs.count()

    shutil.rmtree(SCRATCH, ignore_errors=True)
    path = f"{SCRATCH}/state"
    t0 = time.perf_counter()
    dedup.save_dedup_state(docs, path)
    print(f"base state ({n_docs} docs) saved in {time.perf_counter() - t0:.1f}s")

    # fixed NOVEL probe batch: reversed text + marker token → disjoint
    # shingles from base AND from every delta batch, so pair output is ~0
    # at every depth and the curve isolates the delta-read term (the
    # novelty lesson of PLANS.md "Round-7 additions", incremental probe)
    probe_docs = (
        docs.orderBy("doc_id")
        .limit(BATCH_SIZE)
        .select(
            (F.col("doc_id") + F.lit(99 * ID_STRIDE)).alias("doc_id"),
            F.concat(F.reverse(F.col("text")), F.lit(" probeonly")).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
    )
    probe_state = dedup.batch_dedup_state(probe_docs)
    probe_state.count()  # sign once, outside the timed region

    handles = _StateHandles(path)

    def probe_wall() -> float:
        best = float("inf")
        for _ in range(3):
            scratch: list = []
            t0 = time.perf_counter()
            dedup.incremental_minhash_pairs(
                probe_state,
                None,
                corpus_banded=handles.banded(spark),
                corpus_ptmod=handles.ptmod(spark),
                scratch=scratch,
            ).count()
            best = min(best, time.perf_counter() - t0)
            for df in scratch:
                df.unpersist()
        return round(best, 3)

    # delta batches: reversed text, per-batch id offset + unique token →
    # unique vs base and vs each other (content only matters via SIZE;
    # the probe batch never matches them)
    curve = []
    compact_walls: dict[int, float] = {}
    append_walls: list[float] = []
    depth = 0
    for target in sorted(set(DEPTHS)):
        for e in range(depth + 1, target + 1):
            batch = (
                docs.orderBy("doc_id")
                .limit(BATCH_SIZE)
                .select(
                    (F.col("doc_id") + F.lit(e * ID_STRIDE)).alias("doc_id"),
                    F.concat(
                        F.reverse(F.col("text")), F.lit(f" delta{e}")
                    ).alias("text"),
                    "lang",
                    "source",
                    "n_chars",
                )
            )
            new_state = dedup.batch_dedup_state(batch)
            t0 = time.perf_counter()
            dedup.append_dedup_state(
                new_state, path, resolved_ptmod=handles.ptmod(spark)
            )
            append_walls.append(round(time.perf_counter() - t0, 3))
            new_state.unpersist()
        depth = target
        n_files = sum(
            1
            for f in os.listdir(f"{path}/banded_state/delta")
            if f.endswith(".parquet")
        ) if os.path.isdir(f"{path}/banded_state/delta") else 0
        curve.append((depth * BATCH_SIZE, probe_wall()))
        print(f"delta={depth * BATCH_SIZE} docs ({n_files} files) "
              f"probe={curve[-1][1]}s")
        if depth in COMPACT_AT:
            copy = f"{SCRATCH}/compact_{depth}"
            shutil.copytree(path, copy)
            t0 = time.perf_counter()
            dedup.compact_dedup_state(spark, copy)
            compact_walls[depth] = round(time.perf_counter() - t0, 3)
            shutil.rmtree(copy, ignore_errors=True)
            print(f"compaction at delta={depth} batches: {compact_walls[depth]}s")

    # least-squares slope of probe wall vs delta docs (sec/doc)
    xs = [x for x, _ in curve]
    ys = [y for _, y in curve]
    n = len(xs)
    mx, my = sum(xs) / n, sum(ys) / n
    sxx = sum((x - mx) ** 2 for x in xs)
    s = sum((x - mx) * (y - my) for x, y in curve) / sxx  # sec per delta doc
    c = sum(compact_walls.values()) / len(compact_walls)
    e_star = (2 * c / (s * BATCH_SIZE)) ** 0.5 if s > 0 else float("inf")
    print(
        json.dumps(
            {
                "metric": "compaction_cadence",
                "curve": curve,
                "probe_floor_sec": ys[0],
                "slope_sec_per_kdoc": round(1000 * s, 4),
                "compact_walls": compact_walls,
                "compact_mean_sec": round(c, 3),
                "append_wall_median": sorted(append_walls)[len(append_walls) // 2],
                "batch_size": BATCH_SIZE,
                "recommended_compact_every": round(e_star, 1),
                "sf": SF_DIR,
            }
        )
    )
    shutil.rmtree(SCRATCH, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
