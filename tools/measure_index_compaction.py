"""Measure the ANN-index LSM terms behind the sinks' compact_every knob.

Round 12 moved every index append onto the flat ``{sub}_delta`` and gave
the index sinks the same inline-compaction default as the dedup sinks —
but ``recommended_compact_every``'s constants were measured on the DEDUP
state (6.2 s compact wall, ~1.06 ms per delta file of probe overhead).
This harness measures the INDEX-side pair so the reuse is checked, not
assumed: (a) probe wall as a function of delta file count (one 100-vector
append per epoch, the sinks' shape) and (b) ``compact_index`` wall on the
accumulated delta.

Usage: python tools/measure_index_compaction.py [n_appends] (default 64)
Prints one JSON line with the probe-vs-files fit and the compact wall.
Run on an idle host (PLANS.md calibration caveat).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from flink_clickstream_processor_msk_spark import get_spark  # noqa: E402
from flink_clickstream_processor_msk_spark.operators import (  # noqa: E402
    similarity,
)


def probe_wall(spark, path: str, probes: list[int]) -> float:
    """One partition-pruned probe over base ∪ delta (the sink's read
    shape), median of 3."""
    walls = []
    for _ in range(3):
        t0 = time.perf_counter()
        (
            similarity._apply_index_tombstones(
                spark, path,
                similarity._read_index_table(spark, path, "cells"),
            )
            .filter(F.col("cell").isin(probes))
            .write.format("noop").mode("overwrite").save()
        )
        walls.append(time.perf_counter() - t0)
    walls.sort()
    return walls[1]


def main() -> None:
    n_appends = int(sys.argv[1]) if len(sys.argv) > 1 else 64
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="measure-index-compaction")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    n = emb.count()
    base_n = min(1000, n // 2)
    path = tempfile.mkdtemp(prefix="measure-idx-compact-")
    similarity.save_ivf_index(emb.filter(F.col("vec_id") < base_n), path)
    cents = len(similarity._load_centroids(spark, path))
    probes = list(range(min(4, cents)))

    per = 100
    samples = []
    checkpoints = {1, 4, 16, n_appends}
    appended = 0
    for i in range(n_appends):
        lo = base_n + (i * per) % max(n - base_n - per, 1)
        batch = emb.filter(
            (F.col("vec_id") >= lo) & (F.col("vec_id") < lo + per)
        ).select("vec_id", F.col("embedding").alias("embedding"))
        similarity.append_to_ivf_index(batch, path)
        appended += 1
        if appended in checkpoints:
            files = len(
                [
                    f
                    for f in os.listdir(f"{path}/cells/delta")
                    if f.endswith(".parquet")
                ]
            )
            samples.append(
                {"delta_files": files, "probe_sec": round(probe_wall(spark, path, probes), 3)}
            )
    t0 = time.perf_counter()
    similarity.compact_index(spark, path, "ivf")
    compact_wall = time.perf_counter() - t0
    post = round(probe_wall(spark, path, probes), 3)
    # least-squares slope of probe_sec vs delta_files (sec per file)
    xs = [s["delta_files"] for s in samples]
    ys = [s["probe_sec"] for s in samples]
    mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
    denom = sum((x - mx) ** 2 for x in xs) or 1.0
    slope = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / denom
    shutil.rmtree(path, ignore_errors=True)
    print(
        json.dumps(
            {
                "metric": "index_delta_probe_terms",
                "samples": samples,
                "probe_sec_per_delta_file": round(slope, 5),
                "compact_wall_sec": round(compact_wall, 2),
                "probe_after_compact_sec": post,
                "recommended_E": round(
                    (2 * compact_wall / max(slope, 1e-6)) ** 0.5
                ),
                "sf": sf_dir,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
