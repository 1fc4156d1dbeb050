"""Streaming corpus-ingest throughput — the incremental dedup pipeline
end-to-end (BASELINE.md row; not part of the driver's bench.py contract).

Replays the sf-tier `documents` table file-at-a-time through
`streaming/ingest.dedup_ingest_sink`: per micro-batch, shingle+sign the
batch once (Arrow md5 kernel), probe the PRE-BANDED written state with
partition pruning, emit verified near-dup pairs, fold the batch into
both state tables. Wall time covers the WHOLE accumulation — batch k is
checked against the state of batches 1..k-1 — so the metric prices the
real ingest regime, not an empty-corpus fast path.

Prints one JSON line:
    {"metric": "ingest_docs_per_sec", "value": N, "unit": "docs/sec",
     "docs": n, "pairs": p, "batches": b, "wall_sec": s, "sf": dir}

BENCH_INGEST_MODE=pq_retrain runs the ANN-index ingest leg instead
(VERDICT r9 next#5): a drifted embedding stream replays through
`index_ingest_sink(kind="pq", retrain_hook=…)` so the OOD monitor fires
mid-run, recording the re-train's wall cost, the per-epoch ingest curve
around it, and the recall recovery of the re-trained index over a
never-retrained stale twin that received the identical appends. One JSON
line: {"metric": "pq_retrain_ingest_vecs_per_sec", ...,
"retrain_wall_sec": s, "retrain_epoch": e, "recall_stale": r0,
"recall_retrained": r1}.

BENCH_INGEST_MODE=dsir_quality runs the streaming DSIR gate leg
(score+select every micro-batch against a written importance model);
BENCH_INGEST_MODE=semdedup the incremental-SemDeDup-against-written-IVF
leg; BENCH_INGEST_MODE=corpus_semantic the COMPOSED multimodal leg
(LM gate -> SemDeDup against the written IVF index -> minhash state,
one pass over documents ⋈ embeddings).

BENCH_INGEST_MODE=pq_policy runs the PERIODIC re-train policy leg
(OOD + growth triggers composed): same drifted stream through three
arms (stale / one-shot-OOD / policy) scored at END of stream — the
one-shot arm's ~0 end recall is the failing baseline the policy must
beat. BENCH_INGEST_GROWTH overrides growth_retrain_fraction (0.2).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from flink_clickstream_processor_msk_spark.sources.tables import DEFAULT_SF_DIR  # noqa: E402

N_BATCHES = int(os.environ.get("BENCH_INGEST_BATCHES", "10"))
N_RUNS = int(os.environ.get("BENCH_INGEST_RUNS", "3"))


def main() -> None:
    sf_dir = DEFAULT_SF_DIR

    from flink_clickstream_processor_msk_spark import get_spark
    from flink_clickstream_processor_msk_spark.streaming.ingest import (
        dedup_ingest_sink,
        init_dedup_state,
    )

    spark = get_spark(app_name="bench-ingest")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()

    # stage the corpus as N_BATCHES files (one micro-batch each) —
    # split by pmod(doc_id, N), NOT by id range: replicated tiers
    # (tools/scale10x.py) offset ids by 10M strides, and a range split
    # silently drops every replica but the first (a first cut did,
    # reporting a 10x throughput that had ingested 10% of the corpus)
    src = tempfile.mkdtemp(prefix="bench-ingest-src-")
    from pyspark.sql import functions as F

    for i in range(N_BATCHES):
        docs.filter(
            F.pmod(F.col("doc_id"), F.lit(N_BATCHES)) == i
        ).coalesce(1).write.mode("append").parquet(src)

    # warmup: one small untimed replay (codegen + Arrow worker pool)
    warm_state = tempfile.mkdtemp(prefix="bench-ingest-warm-")
    init_dedup_state(spark, warm_state)
    warm_src = tempfile.mkdtemp(prefix="bench-ingest-warmsrc-")
    docs.limit(200).coalesce(1).write.mode("overwrite").parquet(warm_src)
    q = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(warm_src)
        .writeStream.foreachBatch(
            dedup_ingest_sink(warm_state, lambda df, _e: df.count())
        )
        .option("checkpointLocation", tempfile.mkdtemp(prefix="bi-wckpt-"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    shutil.rmtree(warm_state, ignore_errors=True)
    shutil.rmtree(warm_src, ignore_errors=True)

    walls = []
    pairs_total = 0
    epoch_walls: list[float] = []
    for _ in range(N_RUNS):
        state = tempfile.mkdtemp(prefix="bench-ingest-state-")
        init_dedup_state(spark, state)
        counts = []
        # time each epoch too: batch k probes the state of batches
        # 1..k-1, so a FLAT per-epoch curve is the direct evidence the
        # probe cost is corpus-independent (the 100 TB claim), while a
        # rising curve would reveal a hidden corpus-proportional term
        epoch_walls = []
        inner = dedup_ingest_sink(state, lambda df, _e: counts.append(df.count()))

        def timed(df, e):
            t0 = time.perf_counter()
            inner(df, e)
            epoch_walls.append(round(time.perf_counter() - t0, 3))

        start = time.perf_counter()
        q = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(timed)
            .option("checkpointLocation", tempfile.mkdtemp(prefix="bi-ckpt-"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        walls.append(time.perf_counter() - start)
        pairs_total = sum(counts)
        shutil.rmtree(state, ignore_errors=True)
        spark.catalog.clearCache()
    shutil.rmtree(src, ignore_errors=True)

    walls.sort()
    med = walls[len(walls) // 2]
    print(
        json.dumps(
            {
                "metric": "ingest_docs_per_sec",
                "value": round(n_docs / med, 1),
                "unit": "docs/sec",
                "docs": n_docs,
                "pairs": pairs_total,
                "batches": N_BATCHES,
                "wall_sec": round(med, 3),
                "wall_spread": [round(w, 3) for w in walls],
                "epoch_walls_last_run": epoch_walls,
                "sf": sf_dir,
            }
        )
    )
    spark.stop()


def pq_retrain_mode() -> None:
    """The PQ OOD re-train trigger as an OPERATIONAL cost number (the
    exactly-one-fire logic itself is unit-pinned in
    tests/test_incremental.py): base index on the sf-tier embeddings,
    then a +DRIFT_SHIFT-shifted stream in N_BATCHES micro-batches through
    the monitored sink. Timed: each ingest epoch (the re-train epoch
    shows its spike), the re-train wall alone, and recall@K of drifted
    queries (exact squared-L2 truth — PQ's own metric, per the CLAUDE.md
    per-metric rule) on the re-trained vs the stale twin."""
    sf_dir = DEFAULT_SF_DIR
    n_batches = int(os.environ.get("BENCH_INGEST_BATCHES", "10"))
    # +0.5 pure translation of a DISJOINT id half, exactly the round-8
    # drift experiment's setup (tools/measure_index_drift.py): translation
    # preserves the drifted region's neighborhood structure, so recall is
    # informative — a 50x shift collapses all drifted vectors onto one
    # stale code and recall reads 0 under BOTH twins (first cut did)
    drift_shift = 0.5
    topk = 10
    n_queries = 25  # 250 recall slots — 5 queries was too coarse (0.02 steps)
    id_off = 100_000

    import numpy as np

    from flink_clickstream_processor_msk_spark import get_spark
    from flink_clickstream_processor_msk_spark.operators import similarity
    from flink_clickstream_processor_msk_spark.streaming.ingest import (
        index_ingest_sink,
    )
    from pyspark.sql import functions as F

    spark = get_spark(app_name="bench-ingest-pq-retrain")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    half = emb.count() // 2
    base = emb.filter(F.col("vec_id") < half)
    n_base = base.count()
    drifted = emb.filter(F.col("vec_id") >= half).select(
        (F.col("vec_id") + F.lit(id_off)).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x + F.lit(drift_shift)).cast("float")
        ).alias("embedding"),
    )

    # setup (untimed): monitored index + stale twin on the base corpus,
    # both Lloyd-refined on base (the r8 harness's stale arm) so the
    # comparison isolates the re-train, not refinement-vs-none
    mon_path = tempfile.mkdtemp(prefix="bench-pq-mon-")
    stale_path = tempfile.mkdtemp(prefix="bench-pq-stale-")
    base_cbs = similarity.pq_refine_codebooks(base)
    similarity.save_pq_index(base, mon_path, codebooks=base_cbs)
    similarity.save_pq_index(base, stale_path, codebooks=base_cbs)

    # CONTIGUOUS id-range batches, not pmod slices: the sf embeddings
    # plant near-dup clusters at ADJACENT vec_ids, so a pmod split strands
    # each drifted query's true neighbors in other batches and recall
    # measures the slicing artifact instead of the index (measured:
    # pmod-spread read reinit 0.064 vs stale 0.104 at the fire point;
    # the contiguous slice reads 0.183 vs 0.05 — the r8-consistent
    # recovery). Contiguous is also the realistic stream order for a
    # drifted region: arrivals are time-correlated, not id-hashed.
    lo, n_d = drifted.agg(F.min("vec_id"), F.count(F.lit(1))).first()
    per = -(-n_d // n_batches)  # drifted ids are dense (base ids + offset)
    batches = [
        drifted.filter(
            (F.col("vec_id") >= lo + i * per)
            & (F.col("vec_id") < lo + (i + 1) * per)
        )
        for i in range(n_batches)
    ]
    seen = [base]
    retrain_info: dict = {}

    def retrain(sp, epoch_id):
        corpus = seen[0]
        for b in seen[1:]:
            corpus = corpus.unionByName(b)
        t0 = time.perf_counter()
        # the full round-8 recipe: representative RE-SEED + Lloyd
        # refinement (re-seed alone leaves centroids at raw sample points
        # — measured here: unrefined re-seed reads BELOW the stale twin,
        # 0.056 vs 0.08)
        similarity.save_pq_index(
            corpus, mon_path,
            codebooks=similarity.pq_refine_codebooks(
                corpus,
                codebooks=similarity.pq_codebooks(corpus, representative=True),
            ),
        )
        retrain_info["wall"] = round(time.perf_counter() - t0, 3)
        retrain_info["epoch"] = epoch_id
        retrain_info["n_seen"] = len(seen) - 1  # drifted batches at fire

    write = index_ingest_sink(mon_path, kind="pq", retrain_hook=retrain)
    epoch_walls = []
    start = time.perf_counter()
    for epoch, b in enumerate(batches):
        seen.append(b)
        t0 = time.perf_counter()
        write(b, epoch)
        epoch_walls.append(round(time.perf_counter() - t0, 3))
    total_wall = time.perf_counter() - start

    # Recall recovery is scored AT THE FIRE POINT (the corpus composition
    # the re-train saw), matching the round-8 drift measurement's shape:
    # an end-of-stream comparison instead measures COMPOSITION SHIFT —
    # after the re-train the drifted region is in-distribution, the
    # monitor correctly never re-fires, and by stream end the region has
    # grown far past its codebook allocation, so BOTH twins read ~0 (a
    # one-shot re-seed is not a periodic re-train policy; measured, see
    # PLANS.md round-10).
    n_at_fire = retrain_info.get("n_seen", len(batches))
    drift_at_fire = [b for b in batches[:n_at_fire]]
    fire_corpus = base
    for b in drift_at_fire:
        fire_corpus = fire_corpus.unionByName(b)
    for b in drift_at_fire:
        similarity.append_to_pq_index(b, stale_path)  # stale twin, same rows

    # the monitored index as of the fire: the hook's save is deterministic,
    # so rebuild it (the live one has since absorbed post-fire appends)
    fire_path = tempfile.mkdtemp(prefix="bench-pq-fire-")
    similarity.save_pq_index(
        fire_corpus, fire_path,
        codebooks=similarity.pq_refine_codebooks(
            fire_corpus,
            codebooks=similarity.pq_codebooks(fire_corpus, representative=True),
        ),
    )

    # exact squared-L2 truth (PQ's own metric) over the fire-point corpus
    mat = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in fire_corpus.collect()
    }
    ids = np.array(sorted(mat))
    X = np.stack([mat[i] for i in ids])
    stride = max(1, sum(1 for i in ids if i >= id_off) // n_queries)
    qids = [int(i) for i in ids if i >= id_off][::stride][:n_queries]

    def truth(qid):
        d2 = ((X - mat[qid]) ** 2).sum(axis=1)
        order = np.lexsort((ids, d2))  # ties break by vec_id, as in the test pin
        return [int(ids[j]) for j in order if ids[j] != qid][:topk]

    def recall(path):
        idx = similarity.load_pq_index(spark, path)
        got_total = 0
        for qid in qids:
            got = {
                r["vec_id"]
                for r in similarity.ann_pq_topk(
                    fire_corpus, qid, topk, index=idx
                ).collect()
            }
            got_total += len(got & set(truth(qid)))
        return round(got_total / (topk * len(qids)), 3)

    r_stale, r_retrained = recall(stale_path), recall(fire_path)
    shutil.rmtree(mon_path, ignore_errors=True)
    shutil.rmtree(stale_path, ignore_errors=True)
    shutil.rmtree(fire_path, ignore_errors=True)
    print(
        json.dumps(
            {
                "metric": "pq_retrain_ingest_vecs_per_sec",
                # the timed loop replays the DRIFTED half (n_d vectors,
                # != n_base when the embedding count is odd) — label the
                # throughput with the population it actually ingested
                "value": round(n_d / total_wall, 1),
                "unit": "vecs/sec",
                "vecs": n_d,
                "batches": n_batches,
                "wall_sec": round(total_wall, 3),
                "epoch_walls": epoch_walls,
                "retrain_epoch": retrain_info.get("epoch"),
                "retrain_wall_sec": retrain_info.get("wall"),
                "recall_stale": r_stale,
                "recall_retrained": r_retrained,
                "sf": sf_dir,
            }
        )
    )
    spark.stop()


def pq_policy_mode() -> None:
    """The PERIODIC re-train policy (OOD + growth triggers composed;
    VERDICT r10 next#2): pq_retrain_mode proves the one-shot OOD fire
    recovers recall AT THE FIRE POINT, but PLANS.md round-10 lesson 3
    measured that by END of stream the drifted region has grown past its
    codebook allocation and recall reads ~0 under both the stale and the
    once-retrained twin. This leg replays the identical drifted stream
    through THREE arms and scores all of them at END of stream (exact
    squared-L2 truth — PQ's own metric):

      stale   — base codebooks, appends only (no policy)
      oneshot — OOD trigger only (the r10 failing baseline to beat)
      policy  — OOD + growth_retrain_fraction: re-fires whenever the
                corpus grows past the fraction since the last train, so
                codebook allocation tracks composition

    Pass criterion: recall_policy holds (≫ oneshot ≈ stale ≈ 0) and the
    policy's re-train count stays bounded (cost amortizes over a growth
    factor, not per batch)."""
    sf_dir = DEFAULT_SF_DIR
    n_batches = int(os.environ.get("BENCH_INGEST_BATCHES", "10"))
    growth_fraction = float(os.environ.get("BENCH_INGEST_GROWTH", "0.2"))
    drift_shift = 0.5
    topk = 10
    n_queries = 25
    id_off = 100_000

    import numpy as np

    from flink_clickstream_processor_msk_spark import get_spark
    from flink_clickstream_processor_msk_spark.operators import similarity
    from flink_clickstream_processor_msk_spark.streaming.ingest import (
        index_ingest_sink,
    )
    from pyspark.sql import functions as F

    spark = get_spark(app_name="bench-ingest-pq-policy")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    half = emb.count() // 2
    base = emb.filter(F.col("vec_id") < half)
    drifted = emb.filter(F.col("vec_id") >= half).select(
        (F.col("vec_id") + F.lit(id_off)).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x + F.lit(drift_shift)).cast("float")
        ).alias("embedding"),
    )

    # contiguous id-range batches (the pq_retrain slicing lesson)
    lo, n_d = drifted.agg(F.min("vec_id"), F.count(F.lit(1))).first()
    per = -(-n_d // n_batches)
    batches = [
        drifted.filter(
            (F.col("vec_id") >= lo + i * per)
            & (F.col("vec_id") < lo + (i + 1) * per)
        )
        for i in range(n_batches)
    ]

    base_cbs = similarity.pq_refine_codebooks(base)
    arms = {}
    for arm in ("stale", "oneshot", "policy"):
        path = tempfile.mkdtemp(prefix=f"bench-pqpol-{arm}-")
        similarity.save_pq_index(base, path, codebooks=base_cbs)
        arms[arm] = path

    def make_retrain(path, seen, fires):
        def retrain(sp, epoch_id):
            corpus = seen[0]
            for b in seen[1:]:
                corpus = corpus.unionByName(b)
            t0 = time.perf_counter()
            similarity.save_pq_index(
                corpus, path,
                codebooks=similarity.pq_refine_codebooks(
                    corpus,
                    codebooks=similarity.pq_codebooks(
                        corpus, representative=True
                    ),
                ),
            )
            fires.append(
                {"epoch": epoch_id,
                 "wall": round(time.perf_counter() - t0, 3)}
            )
        return retrain

    seen_one: list = [base]
    seen_pol: list = [base]
    fires_one: list = []
    fires_pol: list = []
    writers = {
        "stale": index_ingest_sink(arms["stale"], kind="pq"),
        "oneshot": index_ingest_sink(
            arms["oneshot"], kind="pq",
            retrain_hook=make_retrain(arms["oneshot"], seen_one, fires_one),
        ),
        "policy": index_ingest_sink(
            arms["policy"], kind="pq",
            retrain_hook=make_retrain(arms["policy"], seen_pol, fires_pol),
            growth_retrain_fraction=growth_fraction,
        ),
    }

    epoch_walls = []  # policy arm — the cost the policy actually adds
    start = time.perf_counter()
    for epoch, b in enumerate(batches):
        seen_one.append(b)
        seen_pol.append(b)
        writers["stale"](b, epoch)
        writers["oneshot"](b, epoch)
        t0 = time.perf_counter()
        writers["policy"](b, epoch)
        epoch_walls.append(round(time.perf_counter() - t0, 3))
    total_wall = time.perf_counter() - start

    # END-OF-STREAM recall: the live indexes already hold every vector,
    # so no fire-point rebuild — this is exactly the state a reader probes
    # after the stream. Truth over the full end corpus.
    end_corpus = base
    for b in batches:
        end_corpus = end_corpus.unionByName(b)
    mat = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in end_corpus.collect()
    }
    ids = np.array(sorted(mat))
    X = np.stack([mat[i] for i in ids])
    stride = max(1, sum(1 for i in ids if i >= id_off) // n_queries)
    qids = [int(i) for i in ids if i >= id_off][::stride][:n_queries]

    def truth(qid):
        d2 = ((X - mat[qid]) ** 2).sum(axis=1)
        order = np.lexsort((ids, d2))
        return [int(ids[j]) for j in order if ids[j] != qid][:topk]

    def recall(path):
        idx = similarity.load_pq_index(spark, path)
        got_total = 0
        for qid in qids:
            got = {
                r["vec_id"]
                for r in similarity.ann_pq_topk(
                    end_corpus, qid, topk, index=idx
                ).collect()
            }
            got_total += len(got & set(truth(qid)))
        return round(got_total / (topk * len(qids)), 3)

    recalls = {arm: recall(path) for arm, path in arms.items()}
    for path in arms.values():
        shutil.rmtree(path, ignore_errors=True)
    print(
        json.dumps(
            {
                "metric": "pq_policy_end_recall",
                "value": recalls["policy"],
                "unit": "recall@10",
                "recall_stale": recalls["stale"],
                "recall_oneshot": recalls["oneshot"],
                "recall_policy": recalls["policy"],
                "growth_fraction": growth_fraction,
                "fires_oneshot": fires_one,
                "fires_policy": fires_pol,
                "vecs": n_d,
                "batches": n_batches,
                "wall_sec": round(total_wall, 3),
                "policy_epoch_walls": epoch_walls,
                "sf": sf_dir,
            }
        )
    )
    spark.stop()


def dsir_quality_mode() -> None:
    """Streaming DSIR gate throughput (dsir_ingest_sink): save_dsir once
    on the sf-tier documents vs the src0 target slice (untimed), then
    replay the documents file-at-a-time and score+gate every micro-batch
    against the written ratio table + train-time cutoff. Signal: the
    per-epoch curve — handles resolve at epoch 0, steady state pays one
    broadcast scoring join per batch."""
    sf_dir = DEFAULT_SF_DIR
    n_batches = int(os.environ.get("BENCH_INGEST_BATCHES", "10"))

    from flink_clickstream_processor_msk_spark import get_spark
    from flink_clickstream_processor_msk_spark.operators import pipeline
    from flink_clickstream_processor_msk_spark.streaming.ingest import (
        dsir_ingest_sink,
    )
    from pyspark.sql import functions as F

    spark = get_spark(app_name="bench-ingest-dsir")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()

    dsir_path = tempfile.mkdtemp(prefix="bench-dsir-")
    pipeline.save_dsir(docs, docs.where("source = 'src0'"), dsir_path)

    src = tempfile.mkdtemp(prefix="bench-dsirsrc-")
    for i in range(n_batches):
        docs.filter(
            F.pmod(F.col("doc_id"), F.lit(n_batches)) == i
        ).coalesce(1).write.mode("append").parquet(src)

    scored, selected = [], []

    def consume(df, _e):
        rows = df.collect()
        scored.append(len(rows))
        selected.append(sum(1 for r in rows if r["selected"]))

    inner = dsir_ingest_sink(dsir_path, consume)
    epoch_walls: list[float] = []

    def timed(df, e):
        t0 = time.perf_counter()
        inner(df, e)
        epoch_walls.append(round(time.perf_counter() - t0, 3))

    start = time.perf_counter()
    q = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(timed)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="bench-dsirck-"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    wall = time.perf_counter() - start
    shutil.rmtree(dsir_path, ignore_errors=True)
    shutil.rmtree(src, ignore_errors=True)
    print(
        json.dumps(
            {
                "metric": "dsir_gate_docs_per_sec",
                "value": round(n_docs / wall, 1),
                "unit": "docs/sec",
                "docs": n_docs,
                "scored": sum(scored),
                "selected": sum(selected),
                "batches": n_batches,
                "wall_sec": round(wall, 3),
                "epoch_walls": epoch_walls,
                "sf": sf_dir,
            }
        )
    )
    spark.stop()


def semdedup_mode() -> None:
    """Incremental SemDeDup throughput (semantic_dedup_ingest_sink):
    bootstrap the written IVF index on half the sf-tier embeddings
    (untimed), then stream the other half in contiguous batches — each
    epoch routes, probes only its touched cells against the growing
    index, emits keep/drop flags, and folds in. Per-epoch curve shows
    whether probe cost tracks touched-cell occupancy (it grows as cells
    fill — the k-knob trade measured in PLANS.md round-11)."""
    sf_dir = DEFAULT_SF_DIR
    n_batches = int(os.environ.get("BENCH_INGEST_BATCHES", "10"))

    from flink_clickstream_processor_msk_spark import get_spark
    from flink_clickstream_processor_msk_spark.operators import similarity
    from flink_clickstream_processor_msk_spark.streaming.ingest import (
        semantic_dedup_ingest_sink,
    )
    from pyspark.sql import functions as F

    spark = get_spark(app_name="bench-ingest-semdedup")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    half = emb.count() // 2
    base = emb.filter(F.col("vec_id") < half)
    rest = emb.filter(F.col("vec_id") >= half)
    n_rest = rest.count()

    path = tempfile.mkdtemp(prefix="bench-semdedup-")
    similarity.save_ivf_index(base, path)

    lo = half
    per = -(-n_rest // n_batches)  # contiguous id slices (the pq lesson)
    flags = []
    inner = semantic_dedup_ingest_sink(
        path, lambda df, _e: flags.append(df.filter("NOT is_kept").count())
    )
    epoch_walls: list[float] = []
    start = time.perf_counter()
    for i in range(n_batches):
        batch = rest.filter(
            (F.col("vec_id") >= lo + i * per)
            & (F.col("vec_id") < lo + (i + 1) * per)
        )
        t0 = time.perf_counter()
        inner(batch, i)
        epoch_walls.append(round(time.perf_counter() - t0, 3))
    wall = time.perf_counter() - start
    shutil.rmtree(path, ignore_errors=True)
    print(
        json.dumps(
            {
                "metric": "semdedup_ingest_vecs_per_sec",
                "value": round(n_rest / wall, 1),
                "unit": "vecs/sec",
                "vecs": n_rest,
                "dropped": sum(flags),
                "batches": n_batches,
                "wall_sec": round(wall, 3),
                "epoch_walls": epoch_walls,
                "sf": sf_dir,
            }
        )
    )
    spark.stop()


def corpus_semantic_mode() -> None:
    """The composed MULTIMODAL ingest leg (round 12): one
    corpus_ingest_sink pass over (documents ⋈ embeddings) with the LM
    quality gate FIRST, then the admitted batch SemDeDup-checked against
    the written IVF index AND near-dup-checked/folded into the minhash
    state — two stateful legs, one text pass, one embedding pass per
    batch. Reports whole-run docs/sec plus each leg's outputs so the
    composition cost is comparable against the standalone legs
    (semdedup_mode, lm_quality_mode, the default dedup leg)."""
    sf_dir = DEFAULT_SF_DIR
    n_batches = int(os.environ.get("BENCH_INGEST_BATCHES", "10"))

    from flink_clickstream_processor_msk_spark import get_spark
    from flink_clickstream_processor_msk_spark.operators import (
        pipeline,
        similarity,
        text,
    )
    from flink_clickstream_processor_msk_spark.streaming.ingest import (
        corpus_ingest_sink,
        init_dedup_state,
    )
    from pyspark.sql import functions as F

    spark = get_spark(app_name="bench-ingest-corpus-semantic")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    joined = docs.join(emb, "doc_id")
    # BENCH_INGEST_ID_MOD: on a replicated tier (tools/scale10x.py shifts
    # ids by a fixed stride per replica) split bootstrap/stream WITHIN
    # each replica — pmod keeps every replica's lower half in the index
    # and streams its upper half, so the near-dup structure per batch
    # matches the 1x run instead of streaming whole replicas of exact
    # dups. 0 (default) = plain ids, the r12 configuration.
    id_mod = int(os.environ.get("BENCH_INGEST_ID_MOD", "0"))
    key = (
        F.pmod(F.col("doc_id"), F.lit(id_mod)) if id_mod else F.col("doc_id")
    )
    lo, hi = 1000, 2000  # contiguous-id stream slice (the pq lesson)
    stream = joined.filter((key >= lo) & (key < hi))
    n_stream = stream.count()
    # contiguous-by-id batch boundaries (the pq slicing lesson), computed
    # once from the sorted stream ids (driver-bounded: the stream is the
    # bench's own working set)
    ids = [
        r["doc_id"]
        for r in stream.select("doc_id").orderBy("doc_id").collect()
    ]
    per = -(-len(ids) // n_batches)

    root = tempfile.mkdtemp(prefix="bench-corpus-semantic-")
    index_path = f"{root}/ivf"
    boot_key = (
        F.pmod(F.col("vec_id"), F.lit(id_mod)) if id_mod else F.col("vec_id")
    )
    similarity.save_ivf_index(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
            boot_key < lo
        ),
        index_path,
    )
    lm_path = f"{root}/lm"
    text.save_lm(docs.filter(F.col("doc_id") < 500), lm_path)
    # admit ~90%: the gate is live but does not starve the other legs
    cut = text.lm_bigram_score(
        stream, lm=text.load_lm(spark, lm_path)
    ).approxQuantile("avg_prob", [0.1], 0.0)[0]
    grams_path = f"{root}/grams"
    pipeline.save_test_grams(docs.filter(F.col("doc_id") < 20), grams_path)
    state_path = f"{root}/state"
    init_dedup_state(spark, state_path)

    pairs, flags, rejected, sem_dropped = [0], [0], [0], [0]
    inner = corpus_ingest_sink(
        state_path,
        grams_path,
        on_pairs=lambda df, e: pairs.__setitem__(0, pairs[0] + df.count()),
        on_flags=lambda df, e: flags.__setitem__(0, flags[0] + df.count()),
        lm_path=lm_path,
        min_avg_prob=cut,
        on_rejected=lambda df, e: rejected.__setitem__(
            0, rejected[0] + df.count()
        ),
        semantic_index_path=index_path,
        on_semantic_flags=lambda df, e: sem_dropped.__setitem__(
            0, sem_dropped[0] + df.filter("NOT is_kept").count()
        ),
    )
    epoch_walls: list[float] = []
    start = time.perf_counter()
    for i in range(n_batches):
        chunk = ids[i * per : (i + 1) * per]
        if not chunk:
            break
        batch = stream.filter(
            (F.col("doc_id") >= chunk[0]) & (F.col("doc_id") <= chunk[-1])
        )
        t0 = time.perf_counter()
        inner(batch, i)
        epoch_walls.append(round(time.perf_counter() - t0, 3))
    wall = time.perf_counter() - start
    shutil.rmtree(root, ignore_errors=True)
    print(
        json.dumps(
            {
                "metric": "corpus_semantic_ingest_docs_per_sec",
                "value": round(n_stream / wall, 1),
                "unit": "docs/sec",
                "docs": n_stream,
                "rejected": rejected[0],
                "sem_dropped": sem_dropped[0],
                "pairs": pairs[0],
                "flags": flags[0],
                # epochs actually RUN (the empty-chunk break can exit
                # early when the stream has fewer ids than n_batches)
                "batches": len(epoch_walls),
                "wall_sec": round(wall, 3),
                "epoch_walls": epoch_walls,
                "sf": sf_dir,
            }
        )
    )
    spark.stop()


def tokenizer_mode() -> None:
    """Streaming subword accounting against a written merges table
    (tokenizer_ingest_sink, drift monitor off): per micro-batch, one
    Arrow encode pass under the saved tokenizer — the packing/sizing
    unit every shard needs before batch assembly."""
    sf_dir = DEFAULT_SF_DIR
    n_batches = int(os.environ.get("BENCH_INGEST_BATCHES", "10"))

    from flink_clickstream_processor_msk_spark import get_spark
    from flink_clickstream_processor_msk_spark.operators import text
    from flink_clickstream_processor_msk_spark.streaming.ingest import (
        tokenizer_ingest_sink,
    )
    from pyspark.sql import functions as F

    spark = get_spark(app_name="bench-ingest-tokenizer")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()
    path = tempfile.mkdtemp(prefix="bench-tokenizer-") + "/tok"
    text.save_bpe_merges(
        spark,
        text.train_bpe_merges(docs.filter(F.col("doc_id") % 10 == 0), 96),
        path,
    )
    rows = [0]
    inner = tokenizer_ingest_sink(
        path, lambda df, e: rows.__setitem__(0, rows[0] + df.count())
    )
    per = -(-n_docs // n_batches)
    epoch_walls: list[float] = []
    start = time.perf_counter()
    for i in range(n_batches):
        batch = docs.filter(F.pmod(F.col("doc_id"), F.lit(n_batches)) == i)
        t0 = time.perf_counter()
        inner(batch, i)
        epoch_walls.append(round(time.perf_counter() - t0, 3))
    wall = time.perf_counter() - start
    shutil.rmtree(os.path.dirname(path), ignore_errors=True)
    print(
        json.dumps(
            {
                "metric": "tokenizer_ingest_docs_per_sec",
                "value": round(n_docs / wall, 1),
                "unit": "docs/sec",
                "docs": n_docs,
                "scored_rows": rows[0],
                "batches": n_batches,
                "wall_sec": round(wall, 3),
                "epoch_walls": epoch_walls,
                "sf": sf_dir,
            }
        )
    )
    spark.stop()


def lm_quality_mode() -> None:
    """Streaming quality-scoring throughput (lm_quality_ingest_sink):
    train the reference LM on the sf-tier documents once (untimed), then
    replay the same documents file-at-a-time and score every micro-batch
    against the written LM. The signal is the per-epoch curve: handles
    resolve once at epoch 0, steady-state epochs pay only the scoring
    joins over the persisted LM tables."""
    sf_dir = DEFAULT_SF_DIR
    n_batches = int(os.environ.get("BENCH_INGEST_BATCHES", "10"))

    from flink_clickstream_processor_msk_spark import get_spark
    from flink_clickstream_processor_msk_spark.operators import text
    from flink_clickstream_processor_msk_spark.streaming.ingest import (
        lm_quality_ingest_sink,
    )
    from pyspark.sql import functions as F

    spark = get_spark(app_name="bench-ingest-lm-quality")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()

    lm_path = tempfile.mkdtemp(prefix="bench-lm-")
    text.save_lm(docs, lm_path)

    src = tempfile.mkdtemp(prefix="bench-lmsrc-")
    for i in range(n_batches):
        docs.filter(
            F.pmod(F.col("doc_id"), F.lit(n_batches)) == i
        ).coalesce(1).write.mode("append").parquet(src)

    scored = []
    inner = lm_quality_ingest_sink(lm_path, lambda df, _e: scored.append(df.count()))
    epoch_walls: list[float] = []

    def timed(df, e):
        t0 = time.perf_counter()
        inner(df, e)
        epoch_walls.append(round(time.perf_counter() - t0, 3))

    start = time.perf_counter()
    q = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(timed)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="bench-lmck-"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    wall = time.perf_counter() - start
    shutil.rmtree(lm_path, ignore_errors=True)
    shutil.rmtree(src, ignore_errors=True)
    print(
        json.dumps(
            {
                "metric": "lm_quality_docs_per_sec",
                "value": round(n_docs / wall, 1),
                "unit": "docs/sec",
                "docs": n_docs,
                "scored": sum(scored),
                "batches": n_batches,
                "wall_sec": round(wall, 3),
                "epoch_walls": epoch_walls,
                "sf": sf_dir,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    mode = os.environ.get("BENCH_INGEST_MODE")
    if mode == "pq_retrain":
        pq_retrain_mode()
    elif mode == "pq_policy":
        pq_policy_mode()
    elif mode == "dsir_quality":
        dsir_quality_mode()
    elif mode == "semdedup":
        semdedup_mode()
    elif mode == "lm_quality":
        lm_quality_mode()
    elif mode == "corpus_semantic":
        corpus_semantic_mode()
    elif mode == "tokenizer":
        tokenizer_mode()
    else:
        main()
