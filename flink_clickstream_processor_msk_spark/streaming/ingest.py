"""Continuous corpus ingest with near-dup detection.

Streaming glue over the incremental dedup artifacts (operators/dedup.py):
each micro-batch of documents is shingled+signed ONCE, checked for
near-duplicates against the corpus's written minhash state (pairs touching
the batch — new×corpus and new×new), delivered to a pairs consumer, and
folded into the state so the NEXT batch is checked against old+new. The
corpus text is never re-read; per-batch cost is O(batch text) + a
partition-pruned probe of the pre-banded state (only the ≤ N_BANDS ×
n_buckets disk partitions the batch's own bands route to are read, and
exact-Jaccard verification runs inline on the shingles CARRIED in the
probed rows — no corpus-wide verify scan; PLANS.md "Incremental ingest
dedup").

This is the streaming complement to streaming/dedup.py's EXACT ingest
dedup (`dropDuplicatesWithinWatermark` on event identity): that one drops
replayed identical records inside the watermark; this one detects
near-duplicate CONTENT across the corpus's whole history.

Delivery semantics: foreachBatch is at-least-once — a replayed batch would
re-append its state rows and re-emit its pairs. Wrap the returned writer
in ``sinks.dedup_epochs(write, marker_dir)`` for effectively-once state
growth, or make the pairs consumer idempotent on (doc_a, doc_b).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_clickstream_processor_msk_spark.functions.parallel import (
    one_slice_rows,
)
from flink_clickstream_processor_msk_spark.operators.dedup import (
    MAX_BUCKET_SIZE_DEFAULT,
    NUM_STATE_BUCKETS,
    append_dedup_state,
    apply_tombstones,
    batch_dedup_state,
    compact_dedup_state,
    incremental_minhash_pairs,
    load_banded_base,
    load_banded_delta,
    save_dedup_state,
    state_ptmod,
)


def _compact_index_or_warn(spark, index_path: str, kind: str, epoch_id: int) -> None:
    """Inline-compaction wrapper for the streaming sinks: compaction is an
    amortization step, not a correctness step, so a `compact_index`
    CONFLICT refusal (same live vec_id appended with differing payloads —
    raised BEFORE any write, the index is untouched) must not turn the
    cadence epoch into a permanently failing retry loop whose re-runs
    re-append the epoch's already-folded rows. Warn loudly and defer; the
    refusal re-fires on every later cadence epoch until the operator
    deletes the conflicting ids and compacts manually."""
    from flink_clickstream_processor_msk_spark.operators import similarity

    try:
        similarity.compact_index(spark, index_path, kind)
    except ValueError as exc:
        import warnings

        warnings.warn(
            f"epoch {epoch_id}: deferring {kind} index compaction at "
            f"{index_path} — {exc}",
            stacklevel=2,
        )


def init_dedup_state(
    spark: SparkSession, path: str, corpus: DataFrame | None = None,
    n_buckets: int = NUM_STATE_BUCKETS,
) -> None:
    """Initialize the state table the ingest sink folds batches into —
    from an existing corpus, or empty (a brand-new corpus) via a 0-row
    documents frame with the standard schema. ``n_buckets`` sizes the
    banded table's partition modulus (corpus/batch ratio — see
    ``NUM_STATE_BUCKETS``); it survives an EMPTY bootstrap via the
    ``banded_ptmod`` marker, so the first real append adopts it instead
    of silently falling back to the default (ADVICE r8)."""
    docs = (
        corpus
        if corpus is not None
        else one_slice_rows(
            spark,
            [],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
    )
    save_dedup_state(docs, path, n_buckets=n_buckets)


class _StateHandles:
    """Per-sink cache of the banded state's fixed artifacts: the bucket
    modulus and the partitioned BASE's DataFrame (whose file listing is
    pinned at read time — valid across epochs because appends only touch
    the flat delta). Resolving these per micro-batch cost two extra
    footer-read jobs inside the ~2.5 s/batch fixed overhead (VERDICT r8
    wrong #3); now they are read once at first use and re-resolved only
    after compaction rewrites the base."""

    def __init__(self, state_path: str):
        self.state_path = state_path
        self._ptmod: int | None = None
        self._base: DataFrame | None = None

    def ptmod(self, spark: SparkSession) -> int:
        if self._ptmod is None:
            self._ptmod = state_ptmod(spark, self.state_path)
        return self._ptmod

    def banded(self, spark: SparkSession) -> DataFrame:
        """base (cached listing) ∪ delta (re-listed per batch — small,
        flat, appends-sized), minus tombstones (checked fresh each epoch
        — one filesystem stat when no deletes are pending — so takedowns
        issued DURING a run take effect on the next micro-batch)."""
        if self._base is None:
            self._base = load_banded_base(spark, self.state_path)
        return apply_tombstones(
            spark,
            self.state_path,
            self._base.unionByName(load_banded_delta(spark, self.state_path)),
        )

    def invalidate(self) -> None:
        """After compaction: the base was rewritten (stale file listing)
        — re-resolve on next use. ptmod is compaction-invariant but is
        re-read too (one tiny marker file) for simplicity."""
        self._ptmod = None
        self._base = None


# Measured constants behind recommended_compact_every (sf0.1 base corpus,
# 500-doc batches, delta swept log-spaced to 160 batches = 80 k docs —
# tools/measure_compaction_cadence.py; PLANS.md round-11 row):
#   - with one-file appends (append_dedup_state coalesces each), the
#     probe-vs-delta-rows slope is BELOW the host-noise band through a
#     16×-base delta (fit −0.007 s/kdoc) — the row term is unmeasurable,
#   - the term that DOES grow is per-delta-FILE open cost: the pre-fix
#     sweep (~31 files/append) rose 3.4 → 8.7 s over ~5000 delta files,
#     i.e. ~1.06 ms/file — on an object store a LIST+GET per file costs
#     10-100× more, which only shrinks E* by sqrt of that,
#   - compaction is a corpus-banded rewrite: 5.5-7.2 s here, mildly
#     delta-sensitive (mean 6.2 s).
COMPACT_WALL_SEC = 6.2
PROBE_SEC_PER_DELTA_FILE = 0.00106
DELTA_FILES_PER_EPOCH = 1


def recommended_compact_every(
    compact_wall_sec: float = COMPACT_WALL_SEC,
    probe_sec_per_delta_file: float = PROBE_SEC_PER_DELTA_FILE,
    files_per_epoch: int = DELTA_FILES_PER_EPOCH,
) -> int:
    """The measured default for the sinks' ``compact_every`` knob, so
    operators don't guess (VERDICT r10 next#5).

    With one probe per epoch and ``files_per_epoch`` delta files appended
    per epoch, a compact-every-E policy pays per cycle the compaction
    wall C plus the growing per-probe file-open term
    ``sum_k f·files_per_epoch·k ≈ f·files_per_epoch·E²/2``; the amortized
    per-epoch cost ``C/E + f·files_per_epoch·E/2`` is minimized at

        E* = sqrt(2·C / (f·files_per_epoch))

    Batch SIZE drops out: the measured row term is below noise through a
    16×-base delta once each append is coalesced to one file, so the
    file count — not the doc count — is the delta's real probe cost. With
    the local measurements this returns ~108 epochs; on an object store
    pass the store's per-object read overhead (e.g. 0.03 s per GET) to
    get the tighter ~20. Either way the optimum sits far above an
    every-few-epochs habit: compacting at single-digit cadences pays the
    corpus rewrite ~10-20× before the delta costs anything."""
    return max(
        1,
        round(
            (
                2 * compact_wall_sec
                / (probe_sec_per_delta_file * files_per_epoch)
            )
            ** 0.5
        ),
    )


def _scratch_epoch(
    run: Callable[[DataFrame, int, list], None]
) -> Callable[[DataFrame, int], None]:
    """foreachBatch writer around ``run(batch, epoch_id, scratch)``:
    every frame the epoch persists into ``scratch`` is unpersisted before
    the epoch returns, so a long-running query holds a constant number
    of cached tables."""

    def write(batch: DataFrame, epoch_id: int) -> None:
        scratch: list[DataFrame] = []
        try:
            run(batch, epoch_id, scratch)
        finally:
            for df in scratch:
                df.unpersist()

    return write


def _dsir_scorer(dsir_path: str) -> Callable[[DataFrame], DataFrame]:
    """The DSIR scoring leg of :func:`dsir_ingest_sink` and of
    :func:`corpus_ingest_sink`'s selection gate: the ratio table
    (n_buckets rows) and the meta row resolve ONCE per sink (the
    ``_StateHandles`` discipline) and the table persists — it is every
    epoch's broadcast join build side."""
    from pyspark.storagelevel import StorageLevel

    from flink_clickstream_processor_msk_spark.operators import pipeline

    handles: dict = {}

    def score(batch_docs: DataFrame) -> DataFrame:
        if not handles:
            ratio_q, meta = pipeline.load_dsir(batch_docs.sparkSession, dsir_path)
            handles["ratios"] = ratio_q.persist(StorageLevel.MEMORY_AND_DISK)
            handles["cutoff"] = meta["cutoff"]
            handles["n_buckets"] = meta["n_buckets"]
        return pipeline.dsir_score_saved(
            batch_docs,
            handles["ratios"],
            handles["cutoff"],
            n_buckets=handles["n_buckets"],
        )

    return score


def _lm_scorer(lm_path: str) -> Callable[[DataFrame], DataFrame]:
    """The LM scoring leg of :func:`lm_quality_ingest_sink` and of
    :func:`corpus_ingest_sink`'s quality gate: the LM tables resolve
    ONCE per sink (re-reading three parquet dirs per epoch is pure fixed
    cost) and c2/c1 persist — they are every epoch's join build sides,
    so an unpersisted plan would re-scan the LM parquet per batch."""
    from pyspark.storagelevel import StorageLevel

    from flink_clickstream_processor_msk_spark.operators import text

    handles: dict = {}

    def score(batch_docs: DataFrame) -> DataFrame:
        if not handles:
            c2, c1, vocab = text.load_lm(batch_docs.sparkSession, lm_path)
            handles["lm"] = (
                c2.persist(StorageLevel.MEMORY_AND_DISK),
                c1.persist(StorageLevel.MEMORY_AND_DISK),
                vocab,
            )
        return text.lm_bigram_score(batch_docs, lm=handles["lm"])

    return score


def dedup_ingest_sink(
    state_path: str,
    on_pairs: Callable[[DataFrame, int], None],
    max_bucket_size: int | None = MAX_BUCKET_SIZE_DEFAULT,
    compact_every: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch writer for a streaming DataFrame of documents
    (doc_id, text, ...). Requires :func:`init_dedup_state` (or a prior
    ``save_dedup_state``) at ``state_path``; ``on_pairs(pairs_df, epoch)``
    receives the batch's verified near-dup pairs (doc_a, doc_b, jaccard)
    — e.g. a parquet append, a Kafka frame, or a quarantine upsert.

    ``compact_every=N`` schedules the LSM maintenance inline: after every
    N-th epoch's fold, :func:`~...operators.dedup.compact_dedup_state`
    rebuilds the partitioned banded base from the signature table and
    clears the flat append delta, so probe-side partition pruning keeps
    covering the whole corpus instead of an ever-growing delta.
    ``None`` (the default) RESOLVES to :func:`recommended_compact_every`
    at sink construction — measured, not guessed (the delta's probe cost
    is file-open-bound, so the optimum is sqrt(2·compact_wall /
    per-file-cost) epochs, ~100 locally) — so the delta can no longer
    grow unboundedly by omission (ADVICE r11). Pass ``0`` to disable
    inline compaction when an external scheduler owns the cadence.

    Per-epoch fixed cost: the state's modulus and base listing are
    resolved once (:class:`_StateHandles`), only the small flat delta is
    re-listed per batch, and every persisted scratch table (the batch's
    signature AND banded frames) is unpersisted before the epoch returns
    — a long-running query holds a constant number of cached tables.

    ``write.begin`` is the leg :func:`corpus_ingest_sink` composes, in
    :func:`semantic_dedup_ingest_sink`'s begin/fold shape."""
    if compact_every is None:
        compact_every = recommended_compact_every()
    handles = _StateHandles(state_path)

    def begin(
        batch_docs: DataFrame, epoch_id: int, scratch: list
    ) -> tuple[DataFrame, Callable[..., None]]:
        """Shingle + sign the batch, probe the state and DELIVER its pairs
        (NO state mutation). Returns the batch's (doc_id, shingles,
        signature) state — persisted, in ``scratch`` for the caller's
        finally — and a ``fold(then=None)`` closure that appends it to
        the state, runs ``then`` (a composing sink's other folds, so
        every fold follows this leg's refusals), then the compaction
        cadence."""
        spark = batch_docs.sparkSession
        new_state = batch_dedup_state(batch_docs)
        scratch.append(new_state)
        on_pairs(
            incremental_minhash_pairs(
                new_state,
                None,
                max_bucket_size=max_bucket_size,
                # probe the pre-banded state with partition pruning
                # instead of re-banding corpus ∪ new per micro-batch
                # (the corpus-proportional term flagged in round 7)
                corpus_banded=handles.banded(spark),
                corpus_ptmod=handles.ptmod(spark),
                scratch=scratch,
            ),
            epoch_id,
        )

        def fold(then: Callable[[], None] | None = None) -> None:
            # fold AFTER pair delivery: a crash in between redelivers the
            # batch (at-least-once) rather than silently growing state
            # without its pairs ever having been emitted
            append_dedup_state(
                new_state, state_path, resolved_ptmod=handles.ptmod(spark)
            )
            if then is not None:
                then()
            if compact_every and (epoch_id + 1) % compact_every == 0:
                compact_dedup_state(spark, state_path)
                handles.invalidate()

        return new_state, fold

    write = _scratch_epoch(lambda batch, e, scratch: begin(batch, e, scratch)[1]())
    write.begin = begin
    return write


def corpus_ingest_sink(
    state_path: str,
    grams_path: str,
    on_pairs: Callable[[DataFrame, int], None],
    on_flags: Callable[[DataFrame, int], None],
    max_bucket_size: int | None = MAX_BUCKET_SIZE_DEFAULT,
    compact_every: int | None = None,
    lm_path: str | None = None,
    min_avg_prob: float | None = None,
    on_rejected: Callable[[DataFrame, int], None] | None = None,
    dsir_path: str | None = None,
    semantic_index_path: str | None = None,
    on_semantic_flags: Callable[[DataFrame, int], None] | None = None,
    semantic_threshold: float | None = None,
) -> Callable[[DataFrame, int], None]:
    """The full training-data ingest leg as ONE foreachBatch writer:
    each micro-batch of documents is near-dup-checked against the
    written dedup state (:func:`dedup_ingest_sink`'s leg) AND
    decontamination-flagged against a saved benchmark gram table
    (``pipeline.save_test_grams`` at the dedup shingle width
    ``SHINGLE_K``) — the single-pass fan-out idea applied to ingest. The
    decontamination leg reuses the batch's ALREADY-COMPUTED shingle
    table instead of re-running the Arrow md5 text kernel — the
    per-document text pass, the pipeline's dominant cost, is paid once
    for both checks. ``on_flags(flags_df, epoch)`` receives
    (doc_id, contaminated) rows; delivery semantics and the
    ``compact_every`` inline-LSM-maintenance knob as in
    :func:`dedup_ingest_sink` (wrap in ``sinks.dedup_epochs`` for
    effectively-once state growth).

    ``lm_path`` + ``min_avg_prob`` turn on the QUALITY GATE, applied in
    the real pipeline order — filter BEFORE dedup: each batch is scored
    against the written reference LM (``text.save_lm``;
    :func:`lm_quality_ingest_sink`'s leg) and only documents with
    ``avg_prob >= min_avg_prob`` are probed and folded into the corpus
    state. Documents the LM cannot assess (fewer than two tokens — no
    bigram to score) are REJECTED too: a gate that admits unscoreable
    text is no gate. ``on_rejected(df, epoch)`` receives the rejects as
    (doc_id, avg_prob) with NULL avg_prob for the unscoreable class —
    route to quarantine/sampling there.

    ``dsir_path`` turns on the SELECTION GATE (``pipeline.save_dsir``;
    :func:`dsir_ingest_sink`'s leg), applied FIRST — select, then
    quality-filter, then dedup: documents below the written importance
    model's train-time cutoff (and bigram-less documents it cannot
    judge) never reach the LM or the state. Its rejects also route to
    ``on_rejected`` as (doc_id, NULL avg_prob) — they were never
    LM-scored.

    ``semantic_index_path`` + ``on_semantic_flags`` compose the
    EMBEDDING leg (round 12): a multimodal ingest carries an
    ``embedding`` column alongside the text, and each ADMITTED batch
    (after the cheap text gates — gates before expensive state, the
    pipeline order rule) is also SemDeDup-checked against the written
    IVF index at that path by :func:`semantic_dedup_ingest_sink`'s leg
    (``(vec_id=doc_id, cell, is_kept)`` flags delivered, all rows folded
    into the index) — ONE pass over (documents, embeddings), two states
    maintained. Both-or-neither validation as for the quality gate;
    gated-out documents never reach the index."""
    from flink_clickstream_processor_msk_spark.operators.pipeline import (
        _flag_contaminated,
        load_test_grams,
    )

    if (lm_path is None) != (min_avg_prob is None):
        # exactly one of the pair configured: the caller asked for a
        # quality gate but it would silently never run (ADVICE r10) —
        # refuse loudly at sink construction, not per-epoch
        raise ValueError(
            "quality gate needs BOTH lm_path and min_avg_prob "
            f"(got lm_path={lm_path!r}, min_avg_prob={min_avg_prob!r}); "
            "pass both to enable it or neither to ingest unfiltered"
        )
    if (semantic_index_path is None) != (on_semantic_flags is None) or (
        semantic_index_path is None and semantic_threshold is not None
    ):
        # half-configured embedding leg — including a threshold with no
        # index/callback pair, which would otherwise run NO semantic
        # check at all (the r12 review catch, same class as the
        # lm_path/min_avg_prob rule)
        raise ValueError(
            "the embedding leg needs BOTH semantic_index_path and "
            f"on_semantic_flags (got semantic_index_path="
            f"{semantic_index_path!r}, on_semantic_flags="
            f"{on_semantic_flags!r}, semantic_threshold="
            f"{semantic_threshold!r}); pass both to enable it or neither"
        )
    # one maintenance cadence for both states the sink owns
    minhash = dedup_ingest_sink(
        state_path, on_pairs,
        max_bucket_size=max_bucket_size, compact_every=compact_every,
    )
    sem_inner = (
        semantic_dedup_ingest_sink(
            semantic_index_path, on_semantic_flags,
            threshold=semantic_threshold, compact_every=compact_every,
        )
        if semantic_index_path is not None
        else None
    )
    select = _dsir_scorer(dsir_path) if dsir_path is not None else None
    score = _lm_scorer(lm_path) if lm_path is not None else None

    def _unscored(ids: DataFrame) -> DataFrame:
        return ids.select("doc_id", F.lit(None).cast("double").alias("avg_prob"))

    def _selection_gate(batch_docs: DataFrame, epoch_id: int) -> DataFrame:
        selected = select(batch_docs).filter(F.col("selected")).select("doc_id")
        if on_rejected is not None:
            on_rejected(
                _unscored(
                    batch_docs.select("doc_id").join(
                        selected, "doc_id", "left_anti"
                    )
                ),
                epoch_id,
            )
        return batch_docs.join(selected, "doc_id", "left_semi")

    def _quality_gate(batch_docs: DataFrame, epoch_id: int) -> DataFrame:
        scores = score(batch_docs)
        if on_rejected is not None:
            scored_rejects = scores.filter(
                F.col("avg_prob") < min_avg_prob
            ).select("doc_id", "avg_prob")
            unscoreable = batch_docs.select("doc_id").join(
                scores.select("doc_id"), "doc_id", "left_anti"
            )
            on_rejected(
                scored_rejects.unionByName(_unscored(unscoreable)), epoch_id
            )
        passing = scores.filter(F.col("avg_prob") >= min_avg_prob)
        return batch_docs.join(passing.select("doc_id"), "doc_id", "left_semi")

    def run(batch_docs: DataFrame, epoch_id: int, scratch: list) -> None:
        from pyspark.storagelevel import StorageLevel

        spark = batch_docs.sparkSession
        if select is not None:
            batch_docs = _selection_gate(batch_docs, epoch_id)
        if score is not None:
            batch_docs = _quality_gate(batch_docs, epoch_id)
        if sem_inner is not None or select is not None or score is not None:
            # the admitted frame fans out to the semantic select, the
            # minhash state build, and the decontamination flags —
            # without a persist each consumer re-executes the gate
            # joins (ADVICE r12: 2-3 recomputations per epoch)
            batch_docs = batch_docs.persist(StorageLevel.MEMORY_AND_DISK)
            scratch.append(batch_docs)
        sem_fold = None
        if sem_inner is not None:
            sem_vecs = batch_docs.select(
                F.col("doc_id").alias("vec_id"), "embedding"
            )
            # flags deliver NOW; the index fold runs inside the minhash
            # fold, after append_dedup_state succeeds (ADVICE r12
            # medium: a minhash-leg refusal must not strand a retrying
            # epoch with the IVF index already mutated)
            sem_fold = sem_inner.begin(sem_vecs, epoch_id, scratch)
        new_state, fold = minhash.begin(batch_docs, epoch_id, scratch)
        # the dedup state's shingles ARE shingle_hashes(SHINGLE_K) —
        # explode them rather than re-shingling the text
        on_flags(
            _flag_contaminated(
                batch_docs.select("doc_id"),
                new_state.select("doc_id", F.explode("shingles").alias("gram")),
                load_test_grams(spark, grams_path).select("gram"),
            ),
            epoch_id,
        )
        if sem_fold is not None:
            # pre-validate the index's tombstones too, so BOTH
            # deterministic refusals fire before EITHER state mutates
            from flink_clickstream_processor_msk_spark.operators import (
                similarity,
            )

            similarity._refuse_tombstoned(sem_vecs, semantic_index_path)
        fold(then=sem_fold)

    return _scratch_epoch(run)


def semantic_dedup_ingest_sink(
    index_path: str,
    on_flags: Callable[[DataFrame, int], None],
    threshold: float | None = None,
    compact_every: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch writer running SemDeDup incrementally against a
    WRITTEN IVF index (``similarity.save_ivf_index``): each micro-batch
    of embeddings (vec_id, embedding) is routed by the SAVED centroids,
    compared for semantic near-duplicates ONLY within its own cells —
    against the index's existing members AND lower-id batch mates — and
    its ``(vec_id, cell, is_kept)`` flags are delivered to ``on_flags``;
    the batch then folds into the cell-partitioned layout so the NEXT
    batch is judged against old + new. Completes the incremental story
    for the semantic-dedup operator the way dedup_ingest_sink does for
    MinHash: the written ANN index IS the dedup state.

    Exact batch parity (pinned in tests/test_incremental.py): the drop
    predicate is ``∃ same-cell neighbor with LOWER vec_id and cosine ≥
    threshold`` over saved ∪ batch — vec_id order, not arrival order —
    and ALL rows are appended (flagged duplicates too), so a replayed
    composition equals ``dedup.semantic_dedup`` over the whole corpus
    with the same centroids, for ANY batch split: the batch operator
    drops a vector on a lower-id neighbor even when that neighbor was
    itself dropped, so survivors-only state would diverge on transitive
    chains (a~b, b~c, a≁c). Consumers that want the pruned corpus filter
    on the flags downstream.

    Scale shape: routing is the append path's broadcast-centroid numpy
    kernel; the probe reads ONLY the batch's touched ``cell=``
    partitions (driver-bounded ≤ n_centroids values — the dedup-state
    partition-pruning discipline); pair scoring is the per-cell
    ``dedup._semdedup_flags_kernel`` applyInPandas matmul (round 12 —
    the same kernel as ``semantic_dedup(vectorized=True)``: each vector
    crosses Arrow once per cell instead of once per candidate pair, and
    the epsilon-band sequential re-fold keeps every decision
    bit-identical to the batch operator's Catalyst fold, so batch parity
    is preserved exactly); the fold-in is a ONE-file flat append to the
    ``cells`` generation's ``delta`` (the LSM append path every ``append_to_*_index``
    uses — ``compact_index`` folds it back on the caller's cadence);
    per-epoch scratch unpersists in a finally. At-least-once as
    elsewhere — wrap in ``sinks.dedup_epochs`` (a replayed epoch would
    otherwise self-match against its own appended rows and flag
    everything)."""
    from pyspark.storagelevel import StorageLevel

    from flink_clickstream_processor_msk_spark.operators import similarity
    from flink_clickstream_processor_msk_spark.operators.dedup import (
        COSINE_THRESHOLD,
        SEMDEDUP_FLAGS_SCHEMA,
        _semdedup_flags_kernel,
    )

    if threshold is None:
        threshold = COSINE_THRESHOLD
    if compact_every is None:
        compact_every = recommended_compact_every()
    handles: dict = {}

    def begin(
        batch_vecs: DataFrame,
        epoch_id: int,
        scratch: list,
    ) -> Callable[[], None]:
        """Route + score + DELIVER the batch's flags (NO state
        mutation), returning a ``fold()`` closure that appends the batch
        to the index and runs the compaction cadence. A composing sink
        calls ``fold`` only after every OTHER state the epoch owns has
        mutated successfully (ADVICE r12 medium: the corpus sink folds
        the IVF index LAST, so a minhash-leg tombstone refusal can't
        strand a permanently-failing epoch with the index already
        mutated and every retry re-appending the same cells). ``scratch``
        collects the per-epoch persists for the caller's finally."""
        spark = batch_vecs.sparkSession
        if "cents" not in handles:
            handles["cents"] = spark.sparkContext.broadcast(
                similarity._load_centroids(spark, index_path)
            )
            handles["kernel"] = _semdedup_flags_kernel(threshold)
        cell_udf = similarity._make_cell_udf(handles["cents"])
        batch_cells = batch_vecs.select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("v"),
            cell_udf("embedding").alias("cell"),
        ).persist(StorageLevel.MEMORY_AND_DISK)
        scratch.append(batch_cells)
        touched = [
            r["cell"]
            for r in batch_cells.select("cell").distinct().collect()
        ]
        saved = similarity._apply_index_tombstones(
            spark,
            index_path,
            similarity._read_index_table(spark, index_path, "cells"),
        ).filter(F.col("cell").isin(touched))
        members = saved.select("vec_id", "v", "cell").withColumn(
            "is_batch", F.lit(False)
        ).unionByName(
            batch_cells.select("vec_id", "v", "cell").withColumn(
                "is_batch", F.lit(True)
            )
        )
        on_flags(
            members.groupBy("cell").applyInPandas(
                handles["kernel"], SEMDEDUP_FLAGS_SCHEMA
            ),
            epoch_id,
        )

        def fold() -> None:
            # fold AFTER flag delivery (the dedup_ingest_sink crash
            # contract); routing already computed — append the cells
            # directly instead of re-running append_to_ivf_index's UDF
            similarity._refuse_tombstoned(batch_vecs, index_path)
            similarity._append_index_rows(
                batch_cells.select("vec_id", "v", "cell"),
                index_path,
                "cells",
            )
            if compact_every and (epoch_id + 1) % compact_every == 0:
                _compact_index_or_warn(spark, index_path, "ivf", epoch_id)

        return fold

    write = _scratch_epoch(lambda batch, e, scratch: begin(batch, e, scratch)())
    write.begin = begin
    return write


def dsir_ingest_sink(
    dsir_path: str,
    on_scores: Callable[[DataFrame, int], None],
) -> Callable[[DataFrame, int], None]:
    """foreachBatch writer scoring each micro-batch of documents against
    a WRITTEN DSIR selector (``pipeline.save_dsir``) — the streaming
    shape of importance-based data selection (Xie et al. 2023): the
    hashed-bigram ratio table and the train-time rank cutoff are learned
    ONCE on the raw pool + target sample, every incoming shard gets its
    ``(doc_id, n_grams, sum_ratio_q, dsir_score, selected)`` frame
    delivered to ``on_scores`` (route/filter/tag there) — selection is
    per-shard threshold application, no global rank and no state, which
    is exactly why ``save_dsir`` translates the rank cut into a cutoff
    score at train time.

    The ratio table and the meta row resolve ONCE per sink
    (:func:`_dsir_scorer`, shared with :func:`corpus_ingest_sink`'s
    selection gate). Batch-vs-replay equality is pinned in
    tests/test_incremental.py: scores over a replay equal the batch
    operator's, and the selected set equals ``dsir_select``'s rank cut
    on the training corpus when no scores tie the boundary.

    This saved-cutoff gate is the streaming twin of
    ``dsir_select(approx=True)`` (the batch 100 TB path): both replace
    the exact global rank with a score-threshold filter — here the
    threshold is frozen at train time, there it comes from a
    percentile_approx sketch per run — so neither ever ranks a corpus
    through a single partition."""
    score = _dsir_scorer(dsir_path)

    def write(batch_docs: DataFrame, epoch_id: int) -> None:
        on_scores(score(batch_docs), epoch_id)

    return write


def semantic_decon_ingest_sink(
    benchmark_path: str,
    on_flags: Callable[[DataFrame, int], None],
    threshold: float | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch writer flagging each micro-batch of train embeddings
    against a WRITTEN benchmark set
    (``pipeline.save_benchmark_embeddings``) — the streaming shape of
    embedding-space decontamination (r14): the benchmark matrix resolves
    and broadcasts ONCE per sink (the ``_StateHandles`` discipline —
    re-collecting + re-broadcasting per epoch would pay the driver round
    trip every batch), then every epoch is a stateless zero-shuffle
    Arrow matmul scan delivering ``(vec_id, n_test_hits, contaminated)``
    to ``on_flags`` (route/drop/audit there). Batch-vs-replay equality
    is pinned in tests/test_incremental.py: flags over a replay equal
    ``decontaminate_semantic`` on the same inputs."""
    from flink_clickstream_processor_msk_spark.operators import pipeline

    handles: dict = {}

    def write(batch_vecs: DataFrame, epoch_id: int) -> None:
        spark = batch_vecs.sparkSession
        if "bc" not in handles:
            handles["bc"] = pipeline._benchmark_broadcast(
                spark, pipeline.load_benchmark_embeddings(spark, benchmark_path)
            )
        on_flags(
            pipeline._semantic_decon_flags(batch_vecs, handles["bc"], threshold),
            epoch_id,
        )

    return write


def lm_quality_ingest_sink(
    lm_path: str,
    on_scores: Callable[[DataFrame, int], None],
) -> Callable[[DataFrame, int], None]:
    """foreachBatch writer scoring each micro-batch of documents against
    a WRITTEN reference bigram LM (``text.save_lm``) — the streaming
    shape of CCNet-style quality filtering: the LM is trained once on a
    clean reference corpus, every incoming shard gets its
    ``lm_bigram_score`` frame delivered to ``on_scores`` (route/filter/
    tag there). Completes the incremental-ingest quartet (near-dup
    state, decontamination grams, ANN index, quality LM).

    The LM tables resolve ONCE per sink and persist (:func:`_lm_scorer`,
    shared with :func:`corpus_ingest_sink`'s quality gate). Scores are
    identical to the batch operator against the same LM (pinned in
    tests/test_streaming.py)."""
    score = _lm_scorer(lm_path)

    def write(batch_docs: DataFrame, epoch_id: int) -> None:
        on_scores(score(batch_docs), epoch_id)

    return write


def tokenizer_ingest_sink(
    merges_path: str,
    on_stats: Callable[[DataFrame, int], None],
    retrain_hook: Callable[[SparkSession, int], None] | None = None,
    fertility_retrain_factor: float | None = None,
    fertility_window: int = 1,
    fertility_debounce: int = 1,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch writer sizing each micro-batch of documents under a
    WRITTEN BPE merges table (``text.save_bpe_merges``) — the streaming
    shape of subword accounting: every shard's ``bpe_token_stats`` frame
    (real piece counts, the packing/batch-sizing unit) goes to
    ``on_stats``; the merges resolve ONCE per sink (the ``_StateHandles``
    discipline — a merges table is a KB-sized driver artifact).

    ``retrain_hook`` + ``fertility_retrain_factor`` turn on TOKENIZER
    DRIFT monitoring — the PQ-OOD pattern applied to the tokenizer: a
    domain shift the merges never saw inflates FERTILITY (pieces per
    word — unknown words decompose toward characters), exactly as
    embedding drift inflates quantization error, and an inflated
    tokenizer silently shrinks every downstream context window that
    packs by its counts. The monitor evaluates the fertility of the
    CURRENT stream — the piece/word sums of the last
    ``fertility_window`` batches (default 1: per-batch, the per-epoch
    shape of the PQ-OOD monitor this mirrors) — and fires the hook once
    that windowed fertility has exceeded ``fertility_retrain_factor ×``
    the saved base fertility (``{merges_path}/fertility_ref``, written
    by ``save_bpe_merges(ref_docs=…)``) for ``fertility_debounce``
    consecutive evaluations (default 1; raise it to ride out one-off
    noisy shards). Lifetime-cumulative accounting is deliberately NOT
    used (ADVICE r12): a long in-domain prefix would dilute the
    denominator so a later genuine domain shift fires many batches late
    or never. Wordless batches carry no fertility evidence and leave
    the debounce streak untouched. The hook should re-train on the
    grown corpus (``text.train_bpe_merges``) and re-save WITH a new
    ``ref_docs`` reference, after which the sink re-resolves and the
    window restarts — the periodic policy shape of the PQ growth
    trigger. Misconfiguration refuses loudly at construction
    (half a pair) or first epoch (no fertility_ref sidecar), the
    lm_path/min_avg_prob rule. At-least-once as elsewhere: a replayed
    epoch re-enters the monitor window (an early fire, never a missed
    one) — wrap in ``sinks.dedup_epochs`` for exact accounting."""
    from flink_clickstream_processor_msk_spark.operators import text

    if (retrain_hook is None) != (fertility_retrain_factor is None):
        raise ValueError(
            "tokenizer drift monitoring needs BOTH retrain_hook and "
            f"fertility_retrain_factor (got retrain_hook={retrain_hook!r}, "
            f"fertility_retrain_factor={fertility_retrain_factor!r}); "
            "pass both to enable it or neither to only deliver stats"
        )
    if fertility_window < 1 or fertility_debounce < 1:
        raise ValueError(
            "fertility_window and fertility_debounce must be >= 1 "
            f"(got {fertility_window}, {fertility_debounce})"
        )
    from collections import deque

    handles: dict = {"window": deque(), "streak": 0}

    def write(batch_docs: DataFrame, epoch_id: int) -> None:
        spark = batch_docs.sparkSession
        if "merges" not in handles:
            handles["merges"] = text.load_bpe_merges(spark, merges_path)
            handles["ref"] = text.load_bpe_fertility_ref(spark, merges_path)
            if retrain_hook is not None and handles["ref"] is None:
                raise ValueError(
                    f"fertility_retrain_factor is set but {merges_path} "
                    "has no fertility_ref sidecar — re-save with "
                    "save_bpe_merges(ref_docs=...) to write the base "
                    "fertility reference"
                )
        stats = text.bpe_token_stats(batch_docs, merges=handles["merges"])
        if retrain_hook is None:
            on_stats(stats, epoch_id)
            return
        from pyspark.storagelevel import StorageLevel

        # two consumers (delivery + the monitor aggregation) — persist
        # for the epoch, release in the finally (the scratch discipline)
        stats = stats.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            # deliver BEFORE the hook can mutate the artifact (the
            # fold-after-delivery crash contract: a crash mid-epoch
            # redelivers a batch scored under the SAME tokenizer)
            on_stats(stats, epoch_id)
            # integer sums, order-free — the monitor arithmetic is exact
            agg = stats.agg(
                F.sum("n_bpe_tokens").alias("p"),
                F.sum("n_word_tokens").alias("w"),
            ).first()
            if (agg["w"] or 0) > 0:
                # wordless batches carry no fertility evidence: they
                # neither enter the window (appending (0, 0) would evict
                # a real batch) nor trigger an evaluation (re-evaluating
                # the unchanged old window would advance the debounce
                # streak again on the SAME evidence — one noisy shard
                # followed by an empty shard must not defeat debounce=2)
                win = handles["window"]
                win.append((agg["p"] or 0, agg["w"] or 0))
                while len(win) > fertility_window:
                    win.popleft()
                w_pieces = sum(p for p, _ in win)
                w_words = sum(w for _, w in win)
                base_fertility = handles["ref"][0]
                # sliding-window fertility tracks the CURRENT stream —
                # no lifetime denominator to dilute a late shift
                if (
                    w_pieces / w_words
                    > fertility_retrain_factor * base_fertility
                ):
                    handles["streak"] += 1
                else:
                    handles["streak"] = 0
            if handles["streak"] >= fertility_debounce:
                retrain_hook(spark, epoch_id)
                # re-resolve against the re-trained artifact; the window
                # restarts so the trigger can RE-fire on the next shift
                handles.pop("merges", None)
                win.clear()
                handles["streak"] = 0
        finally:
            stats.unpersist()

    return write


def index_ingest_sink(
    index_path: str,
    kind: str = "ivf",
    retrain_hook: Callable[[SparkSession, int], None] | None = None,
    growth_retrain_fraction: float | None = None,
    compact_every: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch writer for a streaming DataFrame of embeddings
    (vec_id, embedding, ...): each micro-batch is routed/encoded by the
    WRITTEN index's saved structures and appended into its layout —
    `similarity.append_to_{ivf,pq,lsh}_index` as a continuous refresh,
    completing the incremental-ingest trio (near-dup state,
    decontamination grams, ANN index). Requires a prior
    ``save_{kind}_index`` at ``index_path``; probes over the refreshed
    index see old + new vectors identically to a same-structure full
    rebuild (the batch-path equality pinned in tests/test_incremental.py
    — the streaming test pins the replayed composition). At-least-once
    semantics as elsewhere: wrap in ``sinks.dedup_epochs`` so a replayed
    epoch cannot append its vectors twice. Appends land in the flat
    ``{sub}_delta`` (round 12); ``compact_every`` schedules the fold
    back into the routing-partitioned base inline — ``None`` resolves to
    :func:`recommended_compact_every` (dedup-state-measured, same
    one-file-per-epoch delta shape; 0 disables), so a long-running sink
    cannot silently accumulate file-open-bound deltas.

    The measured PLANS.md drift policy is now MECHANISM, not advice
    (IVF recall is drift-robust, so its occupancy skew stays a driver
    query, ``similarity.index_occupancy_stats``):

    - ``kind="pq"`` / ``kind="ivfpq"`` + ``retrain_hook``: each batch's
      share of vectors whose quantization error exceeds the saved base
      quantile (``path/ood_ref``, written by ``save_pq_index`` /
      ``save_ivfpq_index`` — the composed layout's PQ half drifts
      exactly like the standalone one, r14) accumulates into
      a cumulative OOD fraction of the corpus; when it passes
      ``similarity.PQ_OOD_RETRAIN_FRACTION`` (the measured ~10%
      threshold) the hook fires ONCE — it should re-save the index with
      re-seeded AND re-refined codebooks
      (``pq_refine_codebooks(corpus, codebooks=pq_codebooks(corpus,
      representative=True))``: the re-seed recovers what re-running
      Lloyd from stale seeds cannot, but the round-10 bench measured
      that the re-seed WITHOUT the Lloyd pass reads below the stale
      twin — both halves are required) — then monitoring restarts
      against the re-trained reference. Indexes saved before the ood_ref sidecar existed keep
      monitoring off rather than inventing a threshold.
    - ``kind="pq"``/``"ivfpq"`` + ``retrain_hook`` + ``growth_retrain_fraction``:
      the COMPOSITION trigger the one-shot OOD fire lacks (PLANS.md
      round-10 lesson 3, VERDICT r10 next#2): after a re-train the
      drifted region is in-distribution, the OOD monitor correctly
      never re-fires, and the region keeps growing past the codebook
      allocation it got at train time — by stream end recall reads ~0
      under BOTH the stale and once-retrained twins. The growth trigger
      re-fires the hook whenever vectors appended SINCE the last train
      exceed this fraction of the reference corpus size (base_n from
      the ood_ref sidecar, refreshed at each re-train), so codebook
      allocation tracks composition: re-train cost amortizes over a
      bounded growth factor and end-of-stream recall holds (measured:
      ``BENCH_INGEST_MODE=pq_policy``). Both triggers compose — OOD
      catches a sudden distribution break inside the growth window,
      growth catches the slow composition shift OOD is blind to.
    """
    from flink_clickstream_processor_msk_spark.operators import similarity

    if kind not in ("ivf", "pq", "lsh", "ivfpq"):
        raise ValueError(f"unknown index kind {kind!r}")
    _MONITORED = ("pq", "ivfpq")
    if growth_retrain_fraction is not None and (
        kind not in _MONITORED or retrain_hook is None
    ):
        # half-configured periodic re-train: the monitor only runs for
        # the PQ-coded kinds with a hook, so the growth trigger would
        # silently never fire — the corpus_ingest_sink lm_path/
        # min_avg_prob rule (ADVICE r11): refuse loudly at construction
        raise ValueError(
            "growth_retrain_fraction requires kind='pq'/'ivfpq' AND "
            f"retrain_hook (got kind={kind!r}, "
            f"retrain_hook={retrain_hook!r}); the growth trigger is a PQ "
            "re-train policy and cannot run without the monitor"
        )
    if retrain_hook is not None and kind not in _MONITORED:
        # the drift monitor (OOD qerr vs the ood_ref sidecar) runs for
        # the PQ-coded kinds (pq, ivfpq — r14 closed the r13 follow-up
        # by teaching save_ivfpq_index the sidecar); a hook on ivf/lsh
        # would SILENTLY never fire while the caller believes drift is
        # covered. Refuse loudly — those kinds have no trained codebooks
        # to drift (IVF recall is drift-robust, LSH has no trained
        # state; occupancy skew is their monitor).
        raise ValueError(
            f"retrain_hook is only monitored for kind='pq'/'ivfpq' (got "
            f"kind={kind!r}) — the hook would never fire; drop it or "
            "use a PQ-coded index for the drift-monitored tier"
        )
    if compact_every is None:
        compact_every = recommended_compact_every()
    # per-sink monitor state: the saved reference + codebooks + the
    # append-side routing structure are read once (the _StateHandles
    # discipline) and re-resolved after a re-train. Threading the
    # structure through append_to_index removes the per-epoch
    # sidecar-collect job from the append's fixed cost (VERDICT r15 #6);
    # compaction carries sidecars verbatim, so only a re-train
    # invalidates it.
    monitor: dict = {
        "ref": "unresolved",
        "cbs": None,
        "ood": 0,
        "appended": 0,
        "structure": None,
    }

    def _pq_monitor(spark: SparkSession, batch_vecs: DataFrame, epoch_id: int) -> None:
        if monitor["ref"] == "unresolved":
            monitor["ref"] = similarity.load_pq_ood_ref(spark, index_path)
            if monitor["ref"] is not None:
                monitor["cbs"] = (
                    similarity.load_pq_index(spark, index_path)[0]
                    if kind == "pq"
                    else similarity.load_ivfpq_index(spark, index_path)[1]
                )
        if monitor["ref"] is None:
            if growth_retrain_fraction is not None:
                # the growth trigger arithmetic needs base_n from the
                # ood_ref sidecar; a pre-sidecar index would silently
                # disable the periodic policy the caller asked for
                raise ValueError(
                    f"growth_retrain_fraction is set but {index_path} has "
                    "no ood_ref sidecar (index saved before the monitor "
                    f"existed?) — re-save with save_{kind}_index to write "
                    "the base_n reference"
                )
            return
        threshold, base_n, _q = monitor["ref"]
        qerr = similarity.pq_quantization_error(batch_vecs, monitor["cbs"])
        agg = qerr.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("qerr") > threshold).cast("long")).alias("ood"),
        ).first()
        monitor["appended"] += agg["n"] or 0
        monitor["ood"] += agg["ood"] or 0
        frac = monitor["ood"] / max(base_n + monitor["appended"], 1)
        grown = (
            growth_retrain_fraction is not None
            and monitor["appended"] / max(base_n, 1) > growth_retrain_fraction
        )
        if frac > similarity.PQ_OOD_RETRAIN_FRACTION or grown:
            retrain_hook(spark, epoch_id)
            # restart against the re-trained reference (new codebooks,
            # new base quantile — so base_n now includes everything the
            # re-train saw — counters cleared; the append structure
            # re-resolves too): the growth trigger can therefore RE-fire
            # each time the corpus grows another fraction, which is what
            # makes it a periodic policy
            monitor.update(
                ref="unresolved", cbs=None, ood=0, appended=0, structure=None
            )

    def write(batch_vecs: DataFrame, epoch_id: int) -> None:
        spark = batch_vecs.sparkSession
        if monitor["structure"] is None:
            monitor["structure"] = similarity.load_index_structure(
                spark, index_path, kind
            )
        similarity.append_to_index(
            batch_vecs, index_path, kind, structure=monitor["structure"]
        )
        if compact_every and (epoch_id + 1) % compact_every == 0:
            _compact_index_or_warn(spark, index_path, kind, epoch_id)
        if kind in _MONITORED and retrain_hook is not None:
            _pq_monitor(spark, batch_vecs, epoch_id)

    return write
