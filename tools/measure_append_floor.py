"""Break one index append's fixed cost into its component steps (r16).

Closes the floor half of VERDICT r15 #6: with the sidecar resolve
amortized away (`structure=` pre-resolved), where do the remaining
seconds of a 100-vector append go? Times, per append, within one warmed
session on the 50x index:

  - refuse:  `_refuse_tombstoned` (tombstone guard semi-join, when a
             tombstone table exists at all),
  - encode:  encoder DataFrame construction (lazy — should be ~0),
  - write:   `lsm.append_delta` (self-heal fs probes + the coalesce(1)
             parquet write job that also executes the assignment UDF).

Usage: python tools/measure_append_floor.py [factor] [kind] [rounds] [source]

source = `pickle` (default — batch built via spark.createDataFrame from a
Python list, matching measure_index_50x / the sink harnesses) or `jvm`
(batch sliced from the parquet-backed embeddings with remapped ids — the
shape real engine appends see: streaming microbatch frames and parquet
scans are JVM-native sources). The two modes isolate how much of the
"append floor" is the local-list source vs the engine's own work: the
coalesce(1) write job over a parallelized local list pays a multi-second
driver-side cost that a JVM-native source does not (measured r16).

Reuses /tmp/index{factor}x_measure scratch embeddings (measure_index_50x
layout). Prints one JSON line per append round.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
FACTOR = int(sys.argv[1]) if len(sys.argv) > 1 else 50
KIND = sys.argv[2] if len(sys.argv) > 2 else "ivf"
ROUNDS = int(sys.argv[3]) if len(sys.argv) > 3 else 4
SOURCE = sys.argv[4] if len(sys.argv) > 4 else "pickle"
SCRATCH = f"/tmp/index{FACTOR}x_measure"
PER_APPEND = 100


def main() -> None:
    from flink_clickstream_processor_msk_spark import get_spark
    from flink_clickstream_processor_msk_spark.operators import (
        lsm,
        similarity,
    )

    spark = get_spark(app_name="measure_append_floor")
    spark.range(10_000_000).selectExpr("sum(id)").write.format("noop").mode(
        "overwrite"
    ).save()

    emb = spark.read.parquet(f"{SCRATCH}/embeddings.parquet")
    path = f"{SCRATCH}/idxfloor_{KIND}"
    shutil.rmtree(path, ignore_errors=True)
    save = {
        "ivf": similarity.save_ivf_index,
        "lsh": similarity.save_lsh_index,
        "pq": similarity.save_pq_index,
        "ivfpq": similarity.save_ivfpq_index,
    }
    save[KIND](emb, path)
    structure = similarity.load_index_structure(spark, path, KIND)
    sub, _ = similarity._INDEX_TABLES[KIND]

    src = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    # Bounded driver artifact: the PER_APPEND*ROUNDS slice-boundary ids.
    slice_ids = [
        r["vec_id"]
        for r in src.orderBy("vec_id").limit(PER_APPEND * ROUNDS).select("vec_id").collect()
    ]
    base_rows = (
        src.orderBy("vec_id").limit(PER_APPEND * ROUNDS).collect()
        if SOURCE == "pickle"
        else None
    )
    next_id = 950_000_000
    for rnd in range(ROUNDS):
        if SOURCE == "pickle":
            rows = base_rows[rnd * PER_APPEND : (rnd + 1) * PER_APPEND]
            batch = spark.createDataFrame(
                [(next_id + i, r["embedding"]) for i, r in enumerate(rows)],
                "vec_id bigint, embedding array<double>",
            )
        else:
            lo = slice_ids[rnd * PER_APPEND]
            hi = slice_ids[(rnd + 1) * PER_APPEND - 1]
            # Remap preserves uniqueness (distinct in [lo,hi] stays
            # distinct); the 1M-per-round stride below keeps rounds
            # disjoint even when source ids have gaps.
            batch = (
                src.where(f"vec_id >= {lo} AND vec_id <= {hi}")
                .selectExpr(
                    f"vec_id - {lo} + {next_id} AS vec_id",
                    "embedding",
                )
            )
        next_id += 1_000_000

        t0 = time.perf_counter()
        similarity._refuse_tombstoned(batch, path)
        t_refuse = time.perf_counter() - t0

        t0 = time.perf_counter()
        enc = similarity._INDEX_ENCODERS[KIND](batch, path, structure)
        t_encode = time.perf_counter() - t0

        t0 = time.perf_counter()
        lsm.append_delta(enc, path, sub)
        t_write = time.perf_counter() - t0
        enc.unpersist()

        print(
            json.dumps(
                {
                    "metric": "append_floor",
                    "kind": KIND,
                    "round": rnd,
                    "refuse_sec": round(t_refuse, 3),
                    "encode_sec": round(t_encode, 3),
                    "write_sec": round(t_write, 3),
                }
            ),
            flush=True,
        )
    shutil.rmtree(path, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
