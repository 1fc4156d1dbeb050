"""Incremental-index drift quantification — feeds PLANS.md (VERDICT r7
next-round #7).

``append_to_{ivf,pq}_index`` route/encode new vectors with the SAVED
centroids/codebooks — correct by construction for in-distribution
inserts (append == same-parameter full rebuild, pinned in
tests/test_incremental.py), but a DRIFTED batch is quantized by
structures trained on the old distribution, and the documented trade
("re-train periodically") had no number. This harness produces it.

Setup:
- base corpus: first 1000 sf0.1 embeddings.
- drifted batches: the other 1000 vectors TRANSLATED (x -> x + 0.5
  elementwise) into a region the base never occupied, appended at
  10% / 30% / 100% of base. Pure translation preserves pairwise L2
  distances exactly, so the drifted region's neighborhood structure is
  unchanged and quantization coverage is the ONLY variable — a first cut
  used 0.5x + 0.7 (compression + shift) and PQ collapsed under BOTH
  stale and retrained codebooks because the compressed cluster's
  inter-neighbor distances fell below the quantization resolution.
- STALE index = kmeans-refined on BASE only, new vectors routed/encoded
  by those frozen structures (exactly what append_to_*_index does — the
  equivalence is the pinned test, so the comparison runs in-memory).
- RETRAINED index = kmeans-refined on base ∪ batch (the periodic
  re-train the append docstrings defer to).
- Metric: mean recall@10 split into drifted-region and base-region
  queries, against each index family's OWN exact metric — cosine for
  IVF-flat, squared-L2 for PQ/ADC (scoring a cosine ground truth with an
  L2 index measures the metric mismatch, not drift: a first cut did, and
  PQ read near-zero for drifted queries under BOTH stale and retrained
  codebooks because the drifted vectors' norms differ). Ground truth via
  numpy over the collected corpus (2 k × 64 floats — driver-trivial).

    python tools/measure_index_drift.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from flink_clickstream_processor_msk_spark.sources.tables import DEFAULT_SF_DIR

SF_DIR = DEFAULT_SF_DIR
K = 10
BASE_N = 1000
ID_SHIFT = 100_000


def main() -> None:
    from flink_clickstream_processor_msk_spark import get_spark
    from flink_clickstream_processor_msk_spark.operators import similarity as sim

    spark = get_spark(app_name="measure_index_drift")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") < BASE_N).persist()
    drift_pool = (
        emb.filter(F.col("vec_id") >= BASE_N)
        .select(
            (F.col("vec_id") + ID_SHIFT).alias("vec_id"),
            F.transform(
                "embedding", lambda x: x + F.lit(0.5)
            ).cast("array<float>").alias("embedding"),
            "label",
        )
        .persist()
    )
    pool_ids = sorted(r["vec_id"] for r in drift_pool.select("vec_id").collect())

    def recall(topk_df, exact_ids) -> float:
        got = {r["vec_id"] for r in topk_df.collect()}
        return len(got & exact_ids) / len(exact_ids)

    cents_stale = sim.kmeans_refine_centroids(base, sim.ivf_centroids(base))
    cbs_stale = sim.pq_refine_codebooks(base)

    print("fraction | index | drifted-q recall@10 | base-q recall@10")
    for frac in (0.1, 0.3, 1.0):
        n_new = int(BASE_N * frac)
        batch_ids = set(pool_ids[:n_new])
        batch = drift_pool.filter(F.col("vec_id").isin(sorted(batch_ids)))
        full = base.unionByName(batch).persist()
        queries = [
            ("drift", q) for q in sorted(batch_ids)[:: max(1, n_new // 12)][:12]
        ] + [("base", q) for q in range(0, BASE_N, BASE_N // 6)][:18]

        import numpy as np

        rows = full.select("vec_id", "embedding").collect()
        ids = np.array([r["vec_id"] for r in rows])
        mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1)

        def exact_topk(q: int, metric: str) -> set:
            qi = int(np.where(ids == q)[0][0])
            qv = mat[qi]
            if metric == "cosine":
                score = -(mat @ qv) / (norms * np.linalg.norm(qv))
            else:  # squared L2 — what ADC approximates
                score = ((mat - qv) ** 2).sum(axis=1)
            score[qi] = np.inf  # exclude the query itself, as probes do
            order = np.lexsort((ids, score))
            return set(ids[order[:K]].tolist())

        exact = {
            q: {
                "cosine": exact_topk(q, "cosine"),
                "l2": exact_topk(q, "l2"),
            }
            for _, q in queries
        }

        cents_new = sim.kmeans_refine_centroids(
            full, sim.ivf_centroids(full)
        )
        cbs_new = sim.pq_refine_codebooks(full)
        # "retrain" above keeps the repo's deterministic smallest-vec_id
        # INIT — which is all-base here (drifted ids are +100k), so Lloyd
        # starts with zero seeds in the drifted region. "reinit" is the
        # production re-train via the representative=True knob
        # (md5-hash-ordered seeds — mass-proportional coverage of both
        # regions; a 50/50 hand-balanced seed set measured similarly),
        # then the same Lloyd refinement.
        cents_reinit = sim.kmeans_refine_centroids(
            full, sim.ivf_centroids(full, representative=True)
        )
        cbs_reinit = sim.pq_refine_codebooks(
            full, codebooks=sim.pq_codebooks(full, representative=True)
        )
        indexes = {
            "ivf_stale": sim.build_ivf_index(full, centroids=cents_stale),
            "ivf_retrain": sim.build_ivf_index(full, centroids=cents_new),
            "ivf_reinit": sim.build_ivf_index(full, centroids=cents_reinit),
            "pq_stale": sim.build_pq_index(full, codebooks=cbs_stale),
            "pq_retrain": sim.build_pq_index(full, codebooks=cbs_new),
            "pq_reinit": sim.build_pq_index(full, codebooks=cbs_reinit),
        }
        for name, idx in indexes.items():
            if name.startswith("ivf"):
                probe = lambda q: sim.ann_ivf_topk(full, q, K, index=idx)  # noqa: E731
                metric = "cosine"
            else:
                probe = lambda q: sim.ann_pq_topk(full, q, K, index=idx)  # noqa: E731
                metric = "l2"
            by_kind = {"drift": [], "base": []}
            for kind, q in queries:
                by_kind[kind].append(recall(probe(q), exact[q][metric]))
            d = sum(by_kind["drift"]) / len(by_kind["drift"])
            b = sum(by_kind["base"]) / len(by_kind["base"])
            print(f"{frac:>8} | {name:<11} | {d:.3f} | {b:.3f}")
        for _, idx in indexes.items():
            idx[1].unpersist()
        full.unpersist()


if __name__ == "__main__":
    main()
