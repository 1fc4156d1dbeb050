"""Streaming corpus-ingest throughput: every ingest sink end to end
(BASELINE.md rows; not part of the driver's bench.py contract).

    python bench_ingest.py                          # the dedup leg
    BENCH_INGEST_MODE=<mode> python bench_ingest.py

Modes (``MODES``): dedup, pq_retrain, pq_policy, dsir_quality, semdedup,
corpus_semantic, tokenizer, lm_quality. BENCH_INGEST_BATCHES (default
10) sets the micro-batch count; BENCH_INGEST_RUNS (default 3) the
dedup leg's median-of runs. An unknown mode exits 2.

Every mode runs on one harness. ``session`` warms the engine and the
streaming file-source path once. ``stage`` writes the mode's stream as
one parquet file per micro-batch. ``replay`` streams those files one per
trigger through the mode's sink under a fresh checkpoint and times each
epoch. ``emit`` prints the one JSON line, always with ``batches``,
``wall_sec`` and ``sf``. So every ingest row prices the same thing: the
sink's work plus each epoch's trigger and checkpoint cost. A mode keeps
only its untimed setup, its sink and its counters.

Slicing. Documents split by pmod(doc_id, N): replicated tiers
(tools/scale10x.py) shift ids by ID_STRIDE per replica, and a range
split would stream only the first replica. Embeddings and the
corpus_semantic stream split into contiguous id ranges: the sf
embeddings plant near-dup clusters at adjacent ids, so a pmod split
strands each query's neighbours in other batches (the CLAUDE.md drift
rule). Bootstrap/stream halves are taken per replica on
pmod(id, ID_STRIDE).
"""

from __future__ import annotations

import atexit
import json
import os
import shutil
import sys
import tempfile
import time
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from bench import warm_up  # noqa: E402
from flink_clickstream_processor_msk_spark import get_spark  # noqa: E402
from flink_clickstream_processor_msk_spark.operators import (  # noqa: E402
    pipeline,
    similarity,
    text,
)
from flink_clickstream_processor_msk_spark.sources.tables import (  # noqa: E402
    DEFAULT_SF_DIR,
    ID_STRIDE,
)
from flink_clickstream_processor_msk_spark.streaming import ingest  # noqa: E402

SF = DEFAULT_SF_DIR
N_BATCHES = int(os.environ.get("BENCH_INGEST_BATCHES", "10"))
N_RUNS = int(os.environ.get("BENCH_INGEST_RUNS", "3"))

# PQ drift legs. A +0.5 pure translation of a disjoint id half is the
# tools/measure_index_drift.py setup: it keeps the drifted region's
# neighbourhoods, so recall is informative (a 50x shift collapses every
# drifted vector onto one stale code and both twins read 0).
DRIFT_SHIFT = 0.5
ID_OFF = 100_000  # drifted vec_ids start here, past every base id
TOPK = 10
N_QUERIES = 25  # 250 recall slots; 5 queries gave 0.02 steps
GROWTH = 0.2  # pq_policy's growth_retrain_fraction


# --- the harness ------------------------------------------------------------


def scratch(name: str) -> str:
    """A fresh temp dir, removed when the process exits."""
    path = tempfile.mkdtemp(prefix=f"bench-ingest-{name}-")
    atexit.register(shutil.rmtree, path, True)
    return path


def stage(frames) -> str:
    """Write each frame, in order, as one parquet file; ``replay`` then
    delivers file ``i`` as epoch ``i``."""
    src = scratch("src")
    for frame in frames:
        frame.coalesce(1).write.mode("append").parquet(src)
    return src


def replay(spark, src: str, sink) -> tuple[float, list[float]]:
    """Stream ``src`` one file per trigger into ``sink(df, epoch_id)``
    under a fresh checkpoint, deleted afterwards. Returns the whole
    wall and each epoch's sink wall."""
    epoch_walls: list[float] = []

    def timed(df, epoch_id):
        t0 = time.perf_counter()
        sink(df, epoch_id)
        epoch_walls.append(round(time.perf_counter() - t0, 3))

    schema = spark.read.parquet(src).schema
    ckpt = scratch("ckpt")
    start = time.perf_counter()
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(timed)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    wall = time.perf_counter() - start
    shutil.rmtree(ckpt, ignore_errors=True)
    return wall, epoch_walls


def session(app: str):
    """The bench session, warmed: ``bench.warm_up`` plus one untimed
    replay of a one-file 200-doc slice through a counting sink, so no
    mode's first epoch pays the file source's, trigger's or
    checkpoint's one-time cost."""
    spark = get_spark(app_name=f"bench-ingest-{app}")
    warm_up(spark, SF)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    replay(spark, stage([docs.limit(200)]), lambda df, _e: df.count())
    return spark


def emit(spark, wall: float, **fields) -> None:
    """Print the mode's JSON line plus the shared keys; stop the session."""
    fields.update(batches=N_BATCHES, wall_sec=round(wall, 3), sf=SF)
    print(json.dumps(fields))
    spark.stop()


def by_pmod(df, col: str = "doc_id"):
    """N_BATCHES frames split by pmod(col, N_BATCHES)."""
    return [
        df.filter(F.pmod(F.col(col), F.lit(N_BATCHES)) == i)
        for i in range(N_BATCHES)
    ]


def halves(df, col: str):
    """(lower, upper) halves of each replica's ``col`` ids."""
    key = F.pmod(F.col(col), F.lit(ID_STRIDE))
    half = (df.agg(F.max(key)).first()[0] + 1) // 2
    return df.filter(key < half), df.filter(key >= half)


def contiguous(df, col: str):
    """N_BATCHES frames of consecutive ``col`` ids (equal counts, ±1),
    and each frame's last id."""
    ids = [r[0] for r in df.select(col).orderBy(col).collect()]
    if len(ids) < N_BATCHES:
        raise ValueError(f"{len(ids)} {col} values for {N_BATCHES} batches")
    cuts = [len(ids) * i // N_BATCHES for i in range(N_BATCHES + 1)]
    bounds = [(ids[a], ids[b - 1]) for a, b in zip(cuts, cuts[1:])]
    frames = [df.filter(F.col(col).between(a, b)) for a, b in bounds]
    return frames, [b for _, b in bounds]


# --- the PQ drift experiment both PQ legs share -------------------------------


def pq_setup(spark, *arms: str):
    """Save one PQ index per arm on the lower half of the sf embeddings,
    all with the same Lloyd-refined codebooks (so arms differ only in
    re-training), and stage the upper half, translated by DRIFT_SHIFT
    and re-keyed past ID_OFF, as the drifted stream. Returns (paths,
    src, n_drifted, corpus) where ``corpus(e)`` is the base plus the
    drifted rows through epoch ``e``."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    base, upper = halves(emb, "vec_id")
    drifted = upper.select(
        (F.col("vec_id") + F.lit(ID_OFF)).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x + F.lit(DRIFT_SHIFT)).cast("float")
        ).alias("embedding"),
    )
    frames, lasts = contiguous(drifted, "vec_id")
    src = stage(frames)
    base_cbs = similarity.pq_refine_codebooks(base)
    paths = {arm: scratch(f"pq-{arm}") for arm in arms}
    for path in paths.values():
        similarity.save_pq_index(base, path, codebooks=base_cbs)

    def corpus(epoch: int):
        return base.unionByName(drifted.filter(F.col("vec_id") <= lasts[epoch]))

    return paths, src, drifted.count(), corpus


def pq_train(corpus, path: str) -> float:
    """The full re-train: representative re-seed + Lloyd refinement (the
    re-seed alone reads below the stale twin). Returns its wall."""
    t0 = time.perf_counter()
    similarity.save_pq_index(
        corpus,
        path,
        codebooks=similarity.pq_refine_codebooks(
            corpus, codebooks=similarity.pq_codebooks(corpus, representative=True)
        ),
    )
    return round(time.perf_counter() - t0, 3)


def pq_retrain_hook(path: str, corpus, fires: list):
    """The monitor's retrain hook: re-train ``path`` on ``corpus(epoch)``
    and log each fire's epoch and wall to ``fires``."""

    def hook(_spark, epoch_id):
        fires.append({"epoch": epoch_id, "wall": pq_train(corpus(epoch_id), path)})

    return hook


def pq_recall(spark, corpus, paths: dict) -> dict:
    """recall@TOPK of N_QUERIES drifted queries on each index in
    ``paths``, against exact squared-L2 truth (PQ's own metric) over
    ``corpus``; ties break by vec_id, as in the test pin."""
    mat = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in corpus.collect()
    }
    ids = np.array(sorted(mat))
    X = np.stack([mat[i] for i in ids])
    drifted_ids = [int(i) for i in ids if i >= ID_OFF]
    qids = drifted_ids[:: max(1, len(drifted_ids) // N_QUERIES)][:N_QUERIES]
    truth = {}
    for qid in qids:
        order = np.lexsort((ids, ((X - mat[qid]) ** 2).sum(axis=1)))
        truth[qid] = set([int(ids[j]) for j in order if ids[j] != qid][:TOPK])
    out = {}
    for arm, path in paths.items():
        idx = similarity.load_pq_index(spark, path)
        hits = 0
        for qid in qids:
            got = similarity.ann_pq_topk(corpus, qid, TOPK, index=idx).collect()
            hits += len({r["vec_id"] for r in got} & truth[qid])
        out[arm] = round(hits / (TOPK * len(qids)), 3)
    return out


# --- the modes ----------------------------------------------------------------


def dedup_mode() -> None:
    """Near-dup ingest (dedup_ingest_sink): shingle+sign each batch once,
    probe the pre-banded written state, emit verified pairs, fold the
    batch in. Batch k is checked against batches 1..k-1, so the wall
    prices the whole accumulation, and a flat epoch curve shows the
    probe cost is corpus-independent. Median of N_RUNS replays."""
    spark = session("dedup")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n_docs = docs.count()
    src = stage(by_pmod(docs))
    walls = []
    for _ in range(N_RUNS):
        state = scratch("dedup-state")
        ingest.init_dedup_state(spark, state)
        pairs: list[int] = []
        wall, epoch_walls = replay(
            spark,
            src,
            ingest.dedup_ingest_sink(state, lambda df, _e: pairs.append(df.count())),
        )
        walls.append(wall)
        shutil.rmtree(state, ignore_errors=True)
        spark.catalog.clearCache()
    walls.sort()
    med = walls[len(walls) // 2]
    emit(
        spark,
        med,
        metric="ingest_docs_per_sec",
        value=round(n_docs / med, 1),
        unit="docs/sec",
        docs=n_docs,
        pairs=sum(pairs),
        wall_spread=[round(w, 3) for w in walls],
        epoch_walls_last_run=epoch_walls,
    )


def pq_retrain_mode() -> None:
    """The PQ OOD re-train as an operational cost (exactly-one-fire is
    unit-pinned in tests/test_incremental.py): the drifted stream replays
    through the monitored sink, and each fire's epoch and wall is
    reported. Recall@K of drifted queries, re-trained vs a stale twin
    holding the same rows, is scored at the LAST fire, on the corpus
    that re-train saw: by stream end the drifted region has outgrown
    its codebook allocation and both twins read ~0 (pq_policy's
    subject; PLANS.md round-10)."""
    spark = session("pq-retrain")
    paths, src, n_d, corpus = pq_setup(spark, "retrained", "stale")
    fires: list[dict] = []
    wall, epoch_walls = replay(
        spark,
        src,
        ingest.index_ingest_sink(
            paths["retrained"],
            kind="pq",
            retrain_hook=pq_retrain_hook(paths["retrained"], corpus, fires),
        ),
    )
    last = fires[-1] if fires else {}
    at_fire = corpus(last.get("epoch", N_BATCHES - 1))
    # the stale twin gets the same drifted rows; the monitored index is
    # re-saved as of the fire (the re-train is deterministic, and the
    # live index has since absorbed post-fire appends)
    similarity.append_to_pq_index(
        at_fire.filter(F.col("vec_id") >= ID_OFF), paths["stale"]
    )
    pq_train(at_fire, paths["retrained"])
    recalls = pq_recall(spark, at_fire, paths)
    emit(
        spark,
        wall,
        metric="pq_retrain_ingest_vecs_per_sec",
        value=round(n_d / wall, 1),
        unit="vecs/sec",
        vecs=n_d,
        epoch_walls=epoch_walls,
        fires=fires,
        retrain_epoch=last.get("epoch"),
        retrain_wall_sec=last.get("wall"),
        recall_stale=recalls["stale"],
        recall_retrained=recalls["retrained"],
    )


def pq_policy_mode() -> None:
    """The periodic re-train policy (OOD + growth triggers composed):
    the drifted stream replays once per arm, and every arm is scored at
    END of stream.

      stale   — base codebooks, appends only
      oneshot — OOD trigger only (the failing baseline to beat)
      policy  — OOD + growth_retrain_fraction=GROWTH: re-fires whenever
                the corpus grows past the fraction since the last train

    Pass: recall_policy holds (above oneshot ≈ stale) with a bounded
    fire count. ``wall_sec`` is the total over the three replays."""
    spark = session("pq-policy")
    paths, src, n_d, corpus = pq_setup(spark, "stale", "oneshot", "policy")
    fires: dict[str, list] = {"oneshot": [], "policy": []}
    opts = {
        "stale": {},
        "oneshot": {
            "retrain_hook": pq_retrain_hook(paths["oneshot"], corpus, fires["oneshot"])
        },
        "policy": {
            "retrain_hook": pq_retrain_hook(paths["policy"], corpus, fires["policy"]),
            "growth_retrain_fraction": GROWTH,
        },
    }
    runs = {
        arm: replay(
            spark, src, ingest.index_ingest_sink(paths[arm], kind="pq", **opts[arm])
        )
        for arm in paths
    }
    recalls = pq_recall(spark, corpus(N_BATCHES - 1), paths)
    emit(
        spark,
        sum(wall for wall, _ in runs.values()),
        metric="pq_policy_end_recall",
        value=recalls["policy"],
        unit="recall@10",
        recall_stale=recalls["stale"],
        recall_oneshot=recalls["oneshot"],
        recall_policy=recalls["policy"],
        growth_fraction=GROWTH,
        fires_oneshot=fires["oneshot"],
        fires_policy=fires["policy"],
        vecs=n_d,
        policy_epoch_walls=runs["policy"][1],
    )


def dsir_quality_mode() -> None:
    """DSIR gate (dsir_ingest_sink): save_dsir on the documents vs the
    src0 target slice (untimed), then score and gate every micro-batch
    against the written ratio table and train-time cutoff."""
    spark = session("dsir")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n_docs = docs.count()
    path = scratch("dsir")
    pipeline.save_dsir(docs, docs.where("source = 'src0'"), path)
    src = stage(by_pmod(docs))
    n = Counter()

    def consume(df, _e):
        rows = df.collect()
        n.update(scored=len(rows), selected=sum(1 for r in rows if r["selected"]))

    wall, epoch_walls = replay(spark, src, ingest.dsir_ingest_sink(path, consume))
    emit(
        spark,
        wall,
        metric="dsir_gate_docs_per_sec",
        value=round(n_docs / wall, 1),
        unit="docs/sec",
        docs=n_docs,
        scored=n["scored"],
        selected=n["selected"],
        epoch_walls=epoch_walls,
    )


def semdedup_mode() -> None:
    """Incremental SemDeDup (semantic_dedup_ingest_sink): bootstrap the
    written IVF index on the lower half of the embeddings (untimed),
    stream the upper half in contiguous batches; each epoch probes only
    its touched cells, emits keep/drop flags and folds in."""
    spark = session("semdedup")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    base, rest = halves(emb, "vec_id")
    path = scratch("semdedup")
    similarity.save_ivf_index(base, path)
    src = stage(contiguous(rest, "vec_id")[0])
    n = Counter()
    wall, epoch_walls = replay(
        spark,
        src,
        ingest.semantic_dedup_ingest_sink(
            path, lambda df, _e: n.update(dropped=df.filter("NOT is_kept").count())
        ),
    )
    n_rest = rest.count()
    emit(
        spark,
        wall,
        metric="semdedup_ingest_vecs_per_sec",
        value=round(n_rest / wall, 1),
        unit="vecs/sec",
        vecs=n_rest,
        dropped=n["dropped"],
        epoch_walls=epoch_walls,
    )


def corpus_semantic_mode() -> None:
    """The composed multimodal leg (corpus_ingest_sink) over documents ⋈
    embeddings: the LM quality gate first, then the admitted batch is
    SemDeDup-checked against the written IVF index and near-dup-checked
    and folded into the minhash state. The IVF index bootstraps on the
    lower half of the embedding ids and the upper half streams, both per
    replica, so a replicated tier streams each replica's upper half
    rather than whole replicas of exact dups."""
    spark = session("corpus-semantic")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    boot, upper = halves(spark.read.parquet(f"{SF}/embeddings.parquet"), "vec_id")
    stream = docs.join(
        upper.select(F.col("vec_id").alias("doc_id"), "embedding"), "doc_id"
    )
    n_stream = stream.count()
    src = stage(contiguous(stream, "doc_id")[0])
    root = scratch("corpus-semantic")
    similarity.save_ivf_index(boot, f"{root}/ivf")
    # LM on the bootstrap's lower half: [0, 500) at sf0.1, [0, 125) at sf0.01
    lm_ids = halves(boot, "vec_id")[0].select(F.col("vec_id").alias("doc_id"))
    text.save_lm(docs.join(lm_ids, "doc_id", "left_semi"), f"{root}/lm")
    # admit ~90%: the gate is live but does not starve the other legs
    cut = text.lm_bigram_score(
        stream, lm=text.load_lm(spark, f"{root}/lm")
    ).approxQuantile("avg_prob", [0.1], 0.0)[0]
    pipeline.save_test_grams(docs.filter(F.col("doc_id") < 20), f"{root}/grams")
    ingest.init_dedup_state(spark, f"{root}/state")
    n = Counter()
    sink = ingest.corpus_ingest_sink(
        f"{root}/state",
        f"{root}/grams",
        on_pairs=lambda df, _e: n.update(pairs=df.count()),
        on_flags=lambda df, _e: n.update(flags=df.count()),
        lm_path=f"{root}/lm",
        min_avg_prob=cut,
        on_rejected=lambda df, _e: n.update(rejected=df.count()),
        semantic_index_path=f"{root}/ivf",
        on_semantic_flags=lambda df, _e: n.update(
            sem_dropped=df.filter("NOT is_kept").count()
        ),
    )
    wall, epoch_walls = replay(spark, src, sink)
    emit(
        spark,
        wall,
        metric="corpus_semantic_ingest_docs_per_sec",
        value=round(n_stream / wall, 1),
        unit="docs/sec",
        docs=n_stream,
        rejected=n["rejected"],
        sem_dropped=n["sem_dropped"],
        pairs=n["pairs"],
        flags=n["flags"],
        epoch_walls=epoch_walls,
    )


def tokenizer_mode() -> None:
    """Subword accounting against a written merges table
    (tokenizer_ingest_sink, drift monitor off): one Arrow encode pass
    per micro-batch under the saved tokenizer."""
    spark = session("tokenizer")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n_docs = docs.count()
    path = scratch("tokenizer") + "/tok"
    text.save_bpe_merges(
        spark,
        text.train_bpe_merges(docs.filter(F.col("doc_id") % 10 == 0), 96),
        path,
    )
    src = stage(by_pmod(docs))
    n = Counter()
    wall, epoch_walls = replay(
        spark,
        src,
        ingest.tokenizer_ingest_sink(path, lambda df, _e: n.update(rows=df.count())),
    )
    emit(
        spark,
        wall,
        metric="tokenizer_ingest_docs_per_sec",
        value=round(n_docs / wall, 1),
        unit="docs/sec",
        docs=n_docs,
        scored_rows=n["rows"],
        epoch_walls=epoch_walls,
    )


def lm_quality_mode() -> None:
    """Quality scoring (lm_quality_ingest_sink): train the reference LM
    on the documents once (untimed), then score every micro-batch
    against the written LM tables."""
    spark = session("lm-quality")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n_docs = docs.count()
    path = scratch("lm")
    text.save_lm(docs, path)
    src = stage(by_pmod(docs))
    n = Counter()
    wall, epoch_walls = replay(
        spark,
        src,
        ingest.lm_quality_ingest_sink(path, lambda df, _e: n.update(scored=df.count())),
    )
    emit(
        spark,
        wall,
        metric="lm_quality_docs_per_sec",
        value=round(n_docs / wall, 1),
        unit="docs/sec",
        docs=n_docs,
        scored=n["scored"],
        epoch_walls=epoch_walls,
    )


MODES = {
    "dedup": dedup_mode,
    "pq_retrain": pq_retrain_mode,
    "pq_policy": pq_policy_mode,
    "dsir_quality": dsir_quality_mode,
    "semdedup": semdedup_mode,
    "corpus_semantic": corpus_semantic_mode,
    "tokenizer": tokenizer_mode,
    "lm_quality": lm_quality_mode,
}

if __name__ == "__main__":
    mode = os.environ.get("BENCH_INGEST_MODE") or "dedup"
    if mode not in MODES:
        print(
            f"unknown BENCH_INGEST_MODE={mode!r}; valid: {', '.join(MODES)}",
            file=sys.stderr,
        )
        sys.exit(2)
    MODES[mode]()
