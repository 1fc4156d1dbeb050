"""10x scale-replication harness — feeds PLANS.md "Measured scaling".

Replicates the sf0.1 tables FACTOR times into a scratch dir (user/doc/vec
ids shifted per replica so keys stay unique; document text perturbed per
replica so near-dup work sees real 10-way duplicate families — the
worst-case pair-bound load), then times named driver queries at 1x and
FACTOR x on the same session. Usage:

    python tools/scale10x.py [query ...]        # default: round-3 targets
    SCALE_FACTOR=10 python tools/scale10x.py dedup_families

Numbers go into the PLANS.md table by hand — this host throttles under
sustained all-core load, so interleave runs and re-measure outliers
before believing them (PLANS.md caveat).
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F

from bench import run_query, warm_up
from flink_clickstream_processor_msk_spark import get_spark
from flink_clickstream_processor_msk_spark.sources.tables import (
    DEFAULT_SF_DIR,
    ID_STRIDE,
)

SF_DIR = DEFAULT_SF_DIR
FACTOR = int(os.environ.get("SCALE_FACTOR", "10"))
OUT_DIR = os.environ.get("SCALE_OUT_DIR", f"/tmp/scale{FACTOR}x")

DEFAULT_QUERIES = [
    "k1_departments_kafka_records",
    "k2_session_stats_kafka_records",
    "k3_buy_sessions_kafka_records",
    "asof_attribution",
    "range_session_attribution",
    "multimodal_frame_sample",
    "dedup_ngram_jaccard",
    "dedup_families",
]


def _replicate(df, key_cols: tuple[str, ...], out_path: str, factor: int) -> None:
    """Union ``factor`` copies of ``df`` with the integer ``key_cols``
    shifted by i*ID_STRIDE per replica (disjoint key populations), write
    parquet — the one replication kernel every table build shares."""
    reps = [
        df.select(
            *[
                (F.col(c) + F.lit(i * ID_STRIDE)).alias(c)
                if c in key_cols
                else c
                for c in df.columns
            ]
        )
        for i in range(factor)
    ]
    base = reps[0]
    for r in reps[1:]:
        base = base.unionByName(r)
    base.write.mode("overwrite").parquet(out_path)


def build(spark: SparkSession, sf_dir: str, out_dir: str, factor: int) -> None:
    if os.path.exists(os.path.join(out_dir, "_DONE")):
        print(f"reusing {out_dir}")
        return
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)

    # events: ts passes through unchanged (timestamp[us] in current tiers)
    # so the replicated file re-reads through the same clickevents shim
    # branch; users/seqs shifted so each replica is a disjoint population
    # of sessions. Legacy TIMESTAMP(NANOS) tiers read through the
    # nanosAsLong conf get_spark sets.
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "event_id", "ts", "event_type"
    )
    _replicate(ev, ("user_id", "event_id"), f"{out_dir}/events.parquet", factor)

    # documents: per-replica text perturbation (suffix token) — replicas are
    # near-dups of each other, not exact dups, so MinHash/ngram candidate
    # and verify stages carry real 10-way families.
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    reps = [
        docs.select(
            (F.col("doc_id") + F.lit(i * ID_STRIDE)).alias("doc_id"),
            (
                F.col("text")
                if i == 0
                else F.concat(F.col("text"), F.lit(f" replica{i}"))
            ).alias("text"),
            *[c for c in docs.columns if c not in ("doc_id", "text")],
        )
        for i in range(factor)
    ]
    base = reps[0]
    for r in reps[1:]:
        base = base.unionByName(r)
    base.write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    _replicate(emb, ("vec_id",), f"{out_dir}/embeddings.parquet", factor)

    # warehouse: replicate the FACT tables (shifted order keys; replicas
    # reuse the same customers, who simply have 10x orders) against fixed
    # dimension tables — the realistic growth mode for the relational
    # queries (dims broadcast at any factor; only fact volume scales).
    _replicate(
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"),
        ("l_orderkey",),
        f"{out_dir}/lineitem.parquet",
        factor,
    )
    _replicate(
        spark.read.parquet(f"{sf_dir}/orders.parquet"),
        ("o_orderkey",),
        f"{out_dir}/orders.parquet",
        factor,
    )

    for dim in ("region", "nation", "supplier", "customer", "part"):
        spark.read.parquet(f"{sf_dir}/{dim}.parquet").write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/{dim}.parquet")

    open(os.path.join(out_dir, "_DONE"), "w").close()
    print(f"built {out_dir} at {factor}x")


def timed(spark: SparkSession, name: str, fn, sf_dir: str, n: int = 2) -> float:
    """Best of ``n`` bench.py ``run_query`` walls (CACHE_DEPS re-warmed
    untimed, clearCache between runs)."""
    return min(run_query(spark, sf_dir, name, fn)[0] for _ in range(n))


def main() -> None:
    names = sys.argv[1:] or DEFAULT_QUERIES
    # the bench session and warm-up, so 1x walls compare with BASELINE rows
    spark = get_spark(app_name="scale10x")
    build(spark, SF_DIR, OUT_DIR, FACTOR)
    warm_up(spark, SF_DIR)

    import __spark_entry__ as e

    qs = e.queries()
    print(f"{'query':35s} {'1x':>8s} {FACTOR}x{'':>5s} ratio")
    for name in names:
        # untimed: the plan's first compile would otherwise land on 1x
        run_query(spark, SF_DIR, name, qs[name])
        t1 = timed(spark, name, qs[name], SF_DIR)
        tn = timed(spark, name, qs[name], OUT_DIR)
        print(f"{name:35s} {t1:8.2f} {tn:8.2f} {tn / t1:6.1f}x")


if __name__ == "__main__":
    main()
