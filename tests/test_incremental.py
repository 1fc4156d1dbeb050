"""Incremental-ingest artifacts: new batches against SAVED corpus state.

The 100 TB contract under test: (a) incremental minhash dedup of a new
batch against a written (doc_id, shingles, signature) state table yields
EXACTLY the full-batch pipeline's pairs restricted to pairs touching the
new batch — without the corpus text ever being passed in; (b) appending
new vectors to a written IVF index (routed by the saved centroids) probes
identically to a same-centroid full rebuild."""

from __future__ import annotations

import re

import pytest

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_clickstream_processor_msk_spark.operators import dedup, similarity

DOCS_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _doc(i, text):
    return (i, text, "en", "web", len(text))


def _corpus_and_batch(spark):
    """Corpus docs 0-5, new batch 10-13, with duplicate families spanning
    every boundary: corpus-corpus (0,1) — must NOT appear incrementally;
    corpus-new (2,10); new-new (11,12); unique docs everywhere."""
    base_a = "the quick brown fox jumps over the lazy dog again and again today"
    base_b = "pack my box with five dozen liquor jugs before the long winter came"
    base_c = "sphinx of black quartz judge my vow said the old librarian quietly"
    corpus = [
        _doc(0, base_a),
        _doc(1, base_a + " extra"),            # near-dup of 0 (corpus-corpus)
        _doc(2, base_b),
        _doc(3, base_c),
        _doc(4, "completely unrelated words fill this little document nicely"),
        _doc(5, "another independent corpus document with its own phrasing here"),
    ]
    new = [
        _doc(10, base_b + " appended"),        # near-dup of corpus doc 2
        _doc(11, base_c + " tail one"),        # near-dup family with 12 (and 3)
        _doc(12, base_c + " tail two"),
        _doc(13, "a genuinely novel incoming document with fresh content words"),
    ]
    return (
        spark.createDataFrame(corpus, DOCS_SCHEMA),
        spark.createDataFrame(new, DOCS_SCHEMA),
    )


def _pairs_set(df):
    return {
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 12)) for r in df.collect()
    }


def test_incremental_minhash_matches_batch_restriction(spark, tmp_path):
    corpus, new = _corpus_and_batch(spark)
    path = str(tmp_path / "dedup_state")
    dedup.save_dedup_state(corpus, path)

    new_state = dedup.batch_dedup_state(new)
    got = dedup.incremental_minhash_pairs(
        new_state, dedup.load_dedup_state(spark, path), max_bucket_size=None
    )

    full = dedup.minhash_near_duplicates(
        corpus.unionByName(new), max_bucket_size=None
    )
    new_ids = {10, 11, 12, 13}
    want = {
        t
        for t in _pairs_set(full)
        if t[0] in new_ids or t[1] in new_ids
    }
    got_set = _pairs_set(got)
    assert got_set == want
    # the fixture exercises all three pair classes
    assert any(a < 10 and b >= 10 for a, b, _ in got_set)  # corpus-new
    assert any(a >= 10 and b >= 10 for a, b, _ in got_set)  # new-new
    assert all(not (a < 10 and b < 10) for a, b, _ in got_set)  # no corpus-corpus
    spark.catalog.clearCache()


def test_incremental_minhash_respects_bucket_cap_union_semantics(spark, tmp_path):
    """The cap ranks over the UNION of corpus + new (identical to a
    full-batch run with the same cap), so incremental == batch holds
    under the production skew guard too."""
    corpus, new = _corpus_and_batch(spark)
    path = str(tmp_path / "dedup_state_cap")
    dedup.save_dedup_state(corpus, path)
    cap = 2
    got = _pairs_set(
        dedup.incremental_minhash_pairs(
            dedup.batch_dedup_state(new),
            dedup.load_dedup_state(spark, path),
            max_bucket_size=cap,
        )
    )
    full = _pairs_set(
        dedup.minhash_near_duplicates(
            corpus.unionByName(new), max_bucket_size=cap
        )
    )
    new_ids = {10, 11, 12, 13}
    assert got == {t for t in full if t[0] in new_ids or t[1] in new_ids}
    spark.catalog.clearCache()


def test_append_dedup_state_accumulates(spark, tmp_path):
    """After folding a batch in, the NEXT batch is checked against
    old + new: a doc near-duplicating batch-1 content is caught."""
    corpus, new = _corpus_and_batch(spark)
    path = str(tmp_path / "dedup_state_roll")
    dedup.save_dedup_state(corpus, path)
    state1 = dedup.batch_dedup_state(new)
    dedup.append_dedup_state(state1, path)

    batch2 = spark.createDataFrame(
        [_doc(20, "a genuinely novel incoming document with fresh content words exactly")],
        DOCS_SCHEMA,
    )  # near-dup of doc 13 (suffix edit, jaccard 8/9), which lives in the
    # APPENDED state — deterministic band collision at this similarity
    got = _pairs_set(
        dedup.incremental_minhash_pairs(
            dedup.batch_dedup_state(batch2),
            dedup.load_dedup_state(spark, path),
            max_bucket_size=None,
        )
    )
    assert any(a == 13 and b == 20 for a, b, _ in got)
    spark.catalog.clearCache()


def test_probe_path_matches_legacy_reband(spark, tmp_path):
    """The pre-banded probe path (corpus_banded=) must emit EXACTLY the
    legacy corpus ∪ new re-band path's pairs — uncapped and under the
    skew cap (cap ranks per-bucket, so ranking over probed buckets only
    equals ranking over the full union restricted to them)."""
    corpus, new = _corpus_and_batch(spark)
    path = str(tmp_path / "dedup_state_probe")
    dedup.save_dedup_state(corpus, path)
    new_state = dedup.batch_dedup_state(new)
    corpus_state = dedup.load_dedup_state(spark, path)
    banded = dedup.load_banded_state(spark, path)
    for cap in (None, 2):
        legacy = _pairs_set(
            dedup.incremental_minhash_pairs(
                new_state, corpus_state, max_bucket_size=cap
            )
        )
        probed = _pairs_set(
            dedup.incremental_minhash_pairs(
                new_state, corpus_state, max_bucket_size=cap,
                corpus_banded=banded,
            )
        )
        assert probed == legacy and len(probed) > 0
    spark.catalog.clearCache()


def test_probe_path_prunes_banded_partitions(spark, tmp_path):
    """The 100 TB property itself: the probe reads the saved banded table
    through PartitionFilters on (band_idx, pt) — the physical scan of
    banded_state is partition-pruned, not a full re-band or full scan."""
    corpus, new = _corpus_and_batch(spark)
    path = str(tmp_path / "dedup_state_prune")
    dedup.save_dedup_state(corpus, path)
    q = dedup.incremental_minhash_pairs(
        dedup.batch_dedup_state(new),
        dedup.load_dedup_state(spark, path),
        max_bucket_size=None,
        corpus_banded=dedup.load_banded_state(spark, path),
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    # the scan's Location string is truncated in toString(), so match the
    # filter shape itself: the banded_state scan is the only FileScan
    # carrying a (band_idx = N) AND pt IN (...) partition filter
    scan_lines = [
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln
        and "PartitionFilters: [(" in ln
        and "band_idx" in ln
        and "pt" in ln
    ]
    assert scan_lines, plan
    assert any(" IN (" in ln for ln in scan_lines), plan
    spark.catalog.clearCache()


def test_append_updates_banded_state(spark, tmp_path):
    """append_dedup_state folds the batch into the banded table too: the
    NEXT batch's probe-path run catches a near-dup of APPENDED content."""
    corpus, new = _corpus_and_batch(spark)
    path = str(tmp_path / "dedup_state_roll_banded")
    dedup.save_dedup_state(corpus, path)
    dedup.append_dedup_state(dedup.batch_dedup_state(new), path)
    batch2 = spark.createDataFrame(
        [_doc(20, "a genuinely novel incoming document with fresh content words exactly")],
        DOCS_SCHEMA,
    )  # near-dup of appended doc 13 (same suffix-edit fixture as above)
    got = _pairs_set(
        dedup.incremental_minhash_pairs(
            dedup.batch_dedup_state(batch2),
            dedup.load_dedup_state(spark, path),
            max_bucket_size=None,
            corpus_banded=dedup.load_banded_state(spark, path),
        )
    )
    assert any(a == 13 and b == 20 for a, b, _ in got)
    spark.catalog.clearCache()


def test_banded_state_empty_corpus_degrades_gracefully(spark, tmp_path):
    """A brand-new corpus writes a zero-row partitioned table (no files);
    load_banded_state degrades to the contract-schema empty frame and the
    probe path still finds the batch's new-new pairs."""
    corpus, new = _corpus_and_batch(spark)
    path = str(tmp_path / "dedup_state_empty")
    dedup.save_dedup_state(corpus.limit(0), path)
    banded = dedup.load_banded_state(spark, path)
    assert banded.count() == 0
    got = _pairs_set(
        dedup.incremental_minhash_pairs(
            dedup.batch_dedup_state(new),
            dedup.load_dedup_state(spark, path),
            max_bucket_size=None,
            corpus_banded=banded,
        )
    )
    assert any(a == 11 and b == 12 for a, b, _ in got)  # new-new family
    assert all(a >= 10 for a, _b, _ in got)
    spark.catalog.clearCache()


def test_streaming_dedup_ingest_accumulates_state_and_pairs(spark, tmp_path):
    """The streaming composition: documents replayed file-at-a-time
    through a foreachBatch ingest sink — batch 2 must near-dup against
    batch 1's content (caught via the folded state, the corpus text never
    re-read), and the state table must grow to cover every ingested doc."""
    from flink_clickstream_processor_msk_spark.streaming.ingest import (
        dedup_ingest_sink,
        init_dedup_state,
    )

    corpus, new = _corpus_and_batch(spark)  # reuse the crafted families
    src = str(tmp_path / "docs-src")
    corpus.coalesce(1).write.mode("append").parquet(src)
    new.coalesce(1).write.mode("append").parquet(src)

    state_path = str(tmp_path / "ingest-state")
    init_dedup_state(spark, state_path)

    got_pairs: list[tuple] = []

    def on_pairs(pairs_df, _epoch):
        got_pairs.extend(
            (r["doc_a"], r["doc_b"], round(r["jaccard"], 12))
            for r in pairs_df.collect()
        )

    stream = (
        spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            dedup_ingest_sink(state_path, on_pairs, max_bucket_size=None)
        )
        .option("checkpointLocation", str(tmp_path / "ingest-ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    full = dedup.minhash_near_duplicates(
        corpus.unionByName(new), max_bucket_size=None
    )
    # every pair is eventually emitted exactly once: a pair lands in the
    # batch of its LATER doc, checked against state holding the earlier one
    assert sorted(got_pairs) == sorted(_pairs_set(full))
    assert (0, 1) in {(a, b) for a, b, _ in got_pairs}  # batch-1-internal
    assert (2, 10) in {(a, b) for a, b, _ in got_pairs}  # cross-batch
    state = dedup.load_dedup_state(spark, state_path)
    assert state.count() == corpus.count() + new.count()
    spark.catalog.clearCache()


def test_dedup_ingest_epoch_replay_is_idempotent_when_wrapped(spark, tmp_path):
    """The docstring's delivery-semantics claim, executed: wrapping the
    ingest writer in sinks.dedup_epochs makes an at-least-once REPLAY of
    the same epoch a no-op — state does not double-grow and pairs are not
    re-emitted; an unwrapped replay (the raw writer) would append twice."""
    from flink_clickstream_processor_msk_spark.streaming.ingest import (
        dedup_ingest_sink,
        init_dedup_state,
    )
    from flink_clickstream_processor_msk_spark.streaming.sinks import dedup_epochs

    corpus, new = _corpus_and_batch(spark)
    state_path = str(tmp_path / "replay-state")
    init_dedup_state(spark, state_path, corpus=corpus)

    emitted: list[tuple] = []

    def on_pairs(pairs_df, _epoch):
        emitted.extend((r["doc_a"], r["doc_b"]) for r in pairs_df.collect())

    write = dedup_epochs(
        dedup_ingest_sink(state_path, on_pairs, max_bucket_size=None),
        str(tmp_path / "epoch-markers"),
    )
    write(new, epoch_id=7)
    n_state = dedup.load_dedup_state(spark, state_path).count()
    n_pairs = len(emitted)
    assert n_state == corpus.count() + new.count() and n_pairs > 0

    write(new, epoch_id=7)  # broker/source replay of the SAME epoch
    assert dedup.load_dedup_state(spark, state_path).count() == n_state
    assert len(emitted) == n_pairs
    spark.catalog.clearCache()


def test_decontaminate_incremental_matches_batch_split(spark, tmp_path):
    """Flagging a batch against a SAVED benchmark gram table must equal
    the in-table split form when the gram table is built from the same
    test split — and a second batch checks against the same written
    artifact without it being rebuilt."""
    from flink_clickstream_processor_msk_spark.functions.grams import md5_60
    from flink_clickstream_processor_msk_spark.operators import pipeline

    corpus, new = _corpus_and_batch(spark)
    docs = corpus.unionByName(new)
    split_test = [
        r["doc_id"]
        for r in docs.select("doc_id").collect()
        if (md5_60(str(r["doc_id"])) % 100) < 10
    ]
    batch_out = {
        r["doc_id"]: r["contaminated"]
        for r in pipeline.decontaminate(docs).collect()
    }

    path = str(tmp_path / "bench")
    pipeline.save_test_grams(docs.filter(F.col("doc_id").isin(split_test)), path)
    grams = pipeline.load_test_grams(spark, path)
    inc_out = {
        r["doc_id"]: r["contaminated"]
        for r in pipeline.decontaminate_incremental(
            docs.filter(~F.col("doc_id").isin(split_test)), grams
        ).collect()
    }
    assert inc_out == batch_out and len(inc_out) > 0

    # a later batch reuses the same written artifact
    batch2 = spark.createDataFrame(
        [_doc(30, "sphinx of black quartz judge my vow said the old librarian quietly indeed")],
        DOCS_SCHEMA,
    )
    out2 = {
        r["doc_id"]: r["contaminated"]
        for r in pipeline.decontaminate_incremental(batch2, grams).collect()
    }
    # deterministic expectation from a pure-Python gram-overlap model
    import itertools

    from flink_clickstream_processor_msk_spark.functions.grams import (
        ascii_words,
        word_grams,
    )

    def grams3(t):
        return set(word_grams(ascii_words(t), 3))

    test_texts = [
        r["text"] for r in docs.filter(F.col("doc_id").isin(split_test)).collect()
    ]
    bench_grams = set(
        itertools.chain.from_iterable(grams3(t) for t in test_texts)
    )
    b2_text = "sphinx of black quartz judge my vow said the old librarian quietly indeed"
    assert out2 == {30: int(bool(grams3(b2_text) & bench_grams))}


def test_pq_append_matches_same_codebook_rebuild(spark, tmp_path):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    old = emb.filter(F.col("vec_id") < 50)
    new = emb.filter(F.col("vec_id") >= 50)
    path = str(tmp_path / "pq_inc")
    similarity.save_pq_index(old, path)
    similarity.append_to_pq_index(new, path)

    refreshed = similarity.load_pq_index(spark, path)
    assert refreshed[1].count() == emb.count()
    got = similarity.ann_pq_topk(emb, 0, 10, index=refreshed).collect()
    rebuilt = similarity.build_pq_index(emb, codebooks=refreshed[0])
    want = similarity.ann_pq_topk(emb, 0, 10, index=rebuilt).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    spark.catalog.clearCache()


def test_lsh_append_matches_full_rebuild(spark, tmp_path):
    """LSH has no trained state (deterministic hyperplanes), so append ==
    full rebuild with NO drift caveat — and the appended files land in
    the existing bucket partitions (pruning intact)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    old = emb.filter(F.col("vec_id") < 50)
    new = emb.filter(F.col("vec_id") >= 50)
    path = str(tmp_path / "lsh_inc")
    similarity.save_lsh_index(old, path)
    similarity.append_to_lsh_index(new, path)

    refreshed = similarity.load_lsh_index(spark, path)
    assert refreshed.count() == emb.count()
    got = similarity.ann_lsh_topk(emb, 0, 10, index=refreshed).collect()
    from flink_clickstream_processor_msk_spark.operators.dedup import (
        build_lsh_index,
    )

    want = similarity.ann_lsh_topk(
        emb, 0, 10, index=build_lsh_index(emb)
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    spark.catalog.clearCache()


def test_ivf_append_matches_same_centroid_rebuild(spark, tmp_path):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    old = emb.filter(F.col("vec_id") < 50)
    new = emb.filter(F.col("vec_id") >= 50)
    path = str(tmp_path / "ivf_inc")
    similarity.save_ivf_index(old, path)
    similarity.append_to_ivf_index(new, path)

    refreshed = similarity.load_ivf_index(spark, path)
    assert refreshed[1].count() == emb.count()
    got = similarity.ann_ivf_topk(emb, 0, 10, index=refreshed).collect()

    # ground truth: full rebuild under the SAME centroids (the old half's)
    rebuilt = similarity.build_ivf_index(emb, centroids=refreshed[0])
    want = similarity.ann_ivf_topk(emb, 0, 10, index=rebuilt).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # new vectors actually reachable through the refreshed index
    assert any(r["vec_id"] >= 50 for r in got) or any(
        r["vec_id"] >= 50 for r in want
    ) or refreshed[1].filter("vec_id >= 50").count() > 0
    spark.catalog.clearCache()


def test_ivfpq_composed_append_matches_same_structure_rebuild(spark, tmp_path):
    """The composed IVFADC table's incremental refresh: new vectors are
    routed AND encoded by the saved sidecars and appended into the cell
    partitions; the joinless probe over the refreshed table equals the
    separate-structure rebuild under the same centroids + codebooks."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    old = emb.filter(F.col("vec_id") < 50)
    new = emb.filter(F.col("vec_id") >= 50)
    path = str(tmp_path / "ivfpq_inc")
    similarity.save_ivfpq_index(old, path)
    similarity.append_to_ivfpq_index(new, path)

    cents, cbs, table = similarity.load_ivfpq_index(spark, path)
    assert table.count() == emb.count()
    got = similarity.ann_ivfpq_topk(
        emb, 0, 10, composed_index=(cents, cbs, table)
    ).collect()
    want = similarity.ann_ivfpq_topk(
        emb, 0, 10,
        ivf_index=similarity.build_ivf_index(emb, centroids=cents),
        pq_index=similarity.build_pq_index(emb, codebooks=cbs),
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    spark.catalog.clearCache()


def test_corpus_ingest_sink_dedups_and_decontaminates_in_one_pass(
    spark, tmp_path
):
    """The combined ingest leg: one foreachBatch writer emits BOTH the
    near-dup pairs (vs accumulated state) and the decontamination flags
    (vs a saved benchmark gram table) per micro-batch. Flags must equal
    decontaminate_incremental run batch-by-batch; pairs must equal the
    batch pipeline's full pair set, each in its later doc's batch — and
    the k == SHINGLE_K path serves both checks from ONE shingle pass."""
    from flink_clickstream_processor_msk_spark.operators import pipeline
    from flink_clickstream_processor_msk_spark.streaming.ingest import (
        corpus_ingest_sink,
        init_dedup_state,
    )

    corpus, new = _corpus_and_batch(spark)
    # benchmark: one doc sharing 3-grams with corpus doc 2's base text and
    # one with new doc 13's text — so both replayed files get a real flag
    bench = spark.createDataFrame(
        [
            _doc(900, "pack my box with five dozen liquor jugs tonight"),
            _doc(901, "a genuinely novel incoming document with fresh words"),
        ],
        DOCS_SCHEMA,
    )
    grams_path = str(tmp_path / "bench-grams")
    pipeline.save_test_grams(bench, grams_path)

    src = str(tmp_path / "combined-src")
    corpus.coalesce(1).write.mode("append").parquet(src)
    new.coalesce(1).write.mode("append").parquet(src)
    state_path = str(tmp_path / "combined-state")
    init_dedup_state(spark, state_path)

    got_pairs: list[tuple] = []
    got_flags: dict[int, int] = {}

    def on_pairs(df, _epoch):
        got_pairs.extend(
            (r["doc_a"], r["doc_b"], round(r["jaccard"], 12))
            for r in df.collect()
        )

    def on_flags(df, _epoch):
        got_flags.update((r["doc_id"], r["contaminated"]) for r in df.collect())

    q = (
        spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(
            corpus_ingest_sink(
                state_path, grams_path, on_pairs, on_flags,
                max_bucket_size=None,
            )
        )
        .option("checkpointLocation", str(tmp_path / "combined-ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    # pairs: identical contract to dedup_ingest_sink
    full = dedup.minhash_near_duplicates(
        corpus.unionByName(new), max_bucket_size=None
    )
    assert sorted(got_pairs) == sorted(_pairs_set(full))
    # flags: equal to the batch incremental form run per chunk
    grams = pipeline.load_test_grams(spark, grams_path)
    want_flags = {}
    for chunk in (corpus, new):
        want_flags.update(
            (r["doc_id"], r["contaminated"])
            for r in pipeline.decontaminate_incremental(chunk, grams).collect()
        )
    assert got_flags == want_flags
    assert got_flags[2] == 1 and got_flags[13] == 1  # both files flagged
    assert sum(got_flags.values()) < len(got_flags)  # and not everything
    spark.catalog.clearCache()


def test_index_ingest_sink_streams_appends_into_written_index(
    spark, tmp_path
):
    """Streaming ANN index refresh: embeddings replayed file-at-a-time
    through index_ingest_sink land in the written IVF layout, and a
    probe over the refreshed index equals a same-centroid full rebuild —
    wrapped in dedup_epochs, an epoch replay appends nothing twice."""
    from pyspark.sql import functions as F

    from flink_clickstream_processor_msk_spark.streaming.ingest import (
        index_ingest_sink,
    )
    from flink_clickstream_processor_msk_spark.streaming.sinks import dedup_epochs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.filter(F.col("vec_id") < 100)
    stream_vecs = emb.filter(
        (F.col("vec_id") >= 100) & (F.col("vec_id") < 160)
    )
    index_path = str(tmp_path / "stream-ivf")
    similarity.save_ivf_index(base, index_path)

    src = str(tmp_path / "vec-src")
    stream_vecs.filter(F.col("vec_id") < 130).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream_vecs.filter(F.col("vec_id") >= 130).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    write = dedup_epochs(
        index_ingest_sink(index_path, "ivf"),
        str(tmp_path / "idx-markers"),
    )
    q = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(write)
        .option("checkpointLocation", str(tmp_path / "idx-ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    full = base.unionByName(stream_vecs)
    refreshed = similarity.load_ivf_index(spark, index_path)
    got = similarity.ann_ivf_topk(full, 0, k=10, index=refreshed).collect()
    rebuilt = similarity.build_ivf_index(full, centroids=refreshed[0])
    want = similarity.ann_ivf_topk(full, 0, k=10, index=rebuilt).collect()
    assert [(r["vec_id"], r["cosine"]) for r in got] == [
        (r["vec_id"], r["cosine"]) for r in want
    ]
    n_rows = refreshed[1].count()
    assert n_rows == full.count()
    # epoch replay: the wrapped writer refuses an already-delivered epoch
    write(stream_vecs, epoch_id=0)
    assert similarity.load_ivf_index(spark, index_path)[1].count() == n_rows
    spark.catalog.clearCache()


def test_family_safe_split_keeps_families_together(spark):
    """The leakage guard: near-dup family members share one split side
    (their representative's bucket), singletons keep exactly the plain
    train_test_split assignment — and the fixture demonstrates the leak
    the plain split WOULD have whenever a family straddles buckets."""
    from flink_clickstream_processor_msk_spark.operators import pipeline, text

    corpus, new = _corpus_and_batch(spark)
    docs = corpus.unionByName(new)
    pairs = dedup.minhash_near_duplicates(docs, max_bucket_size=None)
    fams = {
        r["doc_id"]: r["family_rep"]
        for r in dedup.minhash_duplicate_families(
            docs, pairs=dedup.ensure_persisted(pairs)
        ).collect()
    }
    assert len(set(fams.values())) >= 2  # multiple real families
    got = {
        r["doc_id"]: (r["split_key"], r["split"])
        for r in pipeline.family_safe_split(docs, test_pct=50, pairs=pairs).collect()
    }
    plain = {
        r["doc_id"]: r["split"]
        for r in text.train_test_split(docs, test_pct=50).collect()
    }
    # family members agree with each other and with their rep's plain split
    for doc, rep in fams.items():
        assert got[doc] == (rep, plain[rep]), (doc, rep)
    # singletons: identical to the plain split
    for doc in set(got) - set(fams):
        assert got[doc] == (doc, plain[doc])
    # the fixture exhibits the leak being fixed: some family straddles
    # the plain split's buckets, and family_safe_split un-straddles it
    straddled = [
        doc for doc, rep in fams.items() if plain[doc] != plain[rep]
    ]
    assert straddled, "fixture never exercises the leakage fix"
    spark.catalog.clearCache()


def test_append_refuses_mismatched_bucket_modulus(spark, tmp_path):
    """An append with a different n_buckets than the written banded state
    would route identical band_keys to different partitions and probes
    would silently miss corpus members — so appends take no modulus:
    they infer the saved one from the ptmod marker, and a state without
    the marker is refused."""
    import pytest

    corpus, new = _corpus_and_batch(spark)
    path = str(tmp_path / "dedup_state_mod")
    dedup.save_dedup_state(corpus, path, n_buckets=32)
    state = dedup.batch_dedup_state(new)
    dedup.append_dedup_state(state, path)                 # inferred
    banded = dedup.load_banded_state(spark, path)
    assert banded.select("ptmod").distinct().collect()[0]["ptmod"] == 32
    # no marker (never saved, or a crashed/foreign layout): refused
    # before anything is written, never guessed
    import os
    import shutil

    never_saved = str(tmp_path / "never_saved")
    with pytest.raises(ValueError, match="banded_ptmod"):
        dedup.append_dedup_state(state, never_saved)
    assert not os.path.exists(never_saved)
    shutil.rmtree(f"{path}/banded_state/banded_ptmod")
    with pytest.raises(ValueError, match="banded_ptmod"):
        dedup.state_ptmod(spark, path)
    spark.catalog.clearCache()


def test_representative_seed_covers_drifted_region(spark):
    """The drift re-seed knob: after an append puts a shifted region
    under HIGH vec_ids, the default smallest-vec_id init contains zero
    seeds there (Lloyd cannot migrate across the gap — the measured
    PLANS.md failure), while representative=True's md5-hash-ordered
    seeds deterministically include members of both regions."""
    base = spark.createDataFrame(
        [(i, [float(i % 7)] * 64, 0) for i in range(100)],
        "vec_id long, embedding array<float>, label int",
    )
    drifted = spark.createDataFrame(
        [(100_000 + i, [50.0 + (i % 7)] * 64, 0) for i in range(100)],
        "vec_id long, embedding array<float>, label int",
    )
    full = base.unionByName(drifted)
    default_init = similarity.ivf_centroids(full, 16)
    rep_init = similarity.ivf_centroids(full, 16, representative=True)
    assert similarity.ivf_centroids(full, 16, representative=True) == rep_init  # deterministic
    assert all(v[0] < 10 for v in default_init)            # all-base seeds
    assert any(v[0] >= 50 for v in rep_init)               # drifted covered
    assert any(v[0] < 10 for v in rep_init)                # base covered too
    cbs = similarity.pq_codebooks(full, representative=True)
    assert any(c[0] >= 50 for c in cbs[0]) and any(c[0] < 10 for c in cbs[0])


def test_compact_folds_delta_into_partitioned_base(spark, tmp_path):
    """Appends land in the flat delta (cheap commit); compaction rebuilds
    the partitioned base from minhash_state and clears the delta — probe
    results are identical before and after, and the post-compact probe
    regains full PartitionFilters pruning with no delta leg."""
    import os

    corpus, new = _corpus_and_batch(spark)
    path = str(tmp_path / "dedup_state_compact")
    dedup.save_dedup_state(corpus, path)
    dedup.append_dedup_state(dedup.batch_dedup_state(new), path)
    assert os.path.isdir(f"{path}/banded_state/delta")

    batch2 = spark.createDataFrame(
        [_doc(20, "a genuinely novel incoming document with fresh content words exactly")],
        DOCS_SCHEMA,
    )
    b2 = dedup.batch_dedup_state(batch2)
    before = _pairs_set(
        dedup.incremental_minhash_pairs(
            b2, dedup.load_dedup_state(spark, path), max_bucket_size=None,
            corpus_banded=dedup.load_banded_state(spark, path),
        )
    )
    dedup.compact_dedup_state(spark, path)
    assert not os.path.exists(f"{path}/banded_state/delta")
    after_df = dedup.incremental_minhash_pairs(
        b2, dedup.load_dedup_state(spark, path), max_bucket_size=None,
        corpus_banded=dedup.load_banded_state(spark, path),
    )
    assert _pairs_set(after_df) == before
    assert any(a == 13 and b == 20 for a, b, _ in before)  # appended content seen
    plan = after_df._jdf.queryExecution().executedPlan().toString()
    # single-doc batch → one pt per band → Catalyst simplifies the
    # IN-list to equality; assert the partition filter itself
    pruned = [
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln
        and "PartitionFilters: [(" in ln
        and "band_idx" in ln
        and "pt" in ln
    ]
    assert pruned, plan
    spark.catalog.clearCache()


def test_ingest_sink_inline_compaction(spark, tmp_path):
    """compact_every schedules the LSM maintenance inside the sink: with
    compact_every=1 the delta is folded after every epoch (absent at
    stream end) and the emitted pair set is untouched — identical to the
    uncompacted replay's (and so to the batch pipeline's)."""
    import os

    from flink_clickstream_processor_msk_spark.streaming.ingest import (
        dedup_ingest_sink,
        init_dedup_state,
    )

    corpus, new = _corpus_and_batch(spark)
    src = str(tmp_path / "compact-src")
    corpus.coalesce(1).write.mode("append").parquet(src)
    new.coalesce(1).write.mode("append").parquet(src)
    state_path = str(tmp_path / "compact-state")
    init_dedup_state(spark, state_path)

    got: list[tuple] = []

    def on_pairs(df, _e):
        got.extend(
            (r["doc_a"], r["doc_b"], round(r["jaccard"], 12))
            for r in df.collect()
        )

    q = (
        spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(
            dedup_ingest_sink(
                state_path, on_pairs, max_bucket_size=None, compact_every=1
            )
        )
        .option("checkpointLocation", str(tmp_path / "compact-ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    assert not os.path.exists(f"{state_path}/banded_state/delta")
    full = dedup.minhash_near_duplicates(
        corpus.unionByName(new), max_bucket_size=None
    )
    assert sorted(got) == sorted(_pairs_set(full))
    spark.catalog.clearCache()


def test_duplicated_banded_rows_stay_exact_and_recompact_restores(
    spark, tmp_path
):
    """Duplicated banded rows (base ∪ delta carrying the same row twice).
    Since the r16 atomic generation install a COMPACT crash can no longer
    produce this (the delta dies with the swap), but an append REPLAY
    still can: a producer whose append lands and whose ack is lost
    retries the same batch into the delta. In that state (a) UNCAPPED
    pair generation stays exact — duplicate collision rows collapse in
    the probe's distinct — and (b) duplicated rows each burn a skew-cap
    rank slot, so capped probes may diverge until a RE-RUN of compact
    (idempotent: the base is rebuilt from minhash_state, where each doc
    appears once) restores capped equality with the batch pipeline."""
    import shutil

    corpus, new = _corpus_and_batch(spark)
    path = str(tmp_path / "dedup_state_crash")
    dedup.save_dedup_state(corpus, path)
    dedup.append_dedup_state(dedup.batch_dedup_state(new), path)
    ptmod = dedup.state_ptmod(spark, path)

    # fold the delta into the base, then replay the SAME append delta
    # (the lost-ack retry): every replayed row is now in base ∪ delta
    delta_dir = f"{path}/banded_state/delta"
    shutil.copytree(delta_dir, f"{path}/_replayed_delta")
    dedup.compact_dedup_state(spark, path)
    shutil.move(f"{path}/_replayed_delta", delta_dir)
    import os
    dup_rows = (
        dedup.load_banded_state(spark, path)
        .groupBy("doc_id", "band_idx", "band_key")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup_rows > 0  # the corruption is real, not hypothetical

    batch2 = spark.createDataFrame(
        [
            _doc(20, "pack my box with five dozen liquor jugs before the long winter came again"),
            _doc(21, "sphinx of black quartz judge my vow said the old librarian quietly tail three"),
        ],
        DOCS_SCHEMA,
    )
    b2 = dedup.batch_dedup_state(batch2)
    try:
        want_uncapped = {
            t
            for t in _pairs_set(
                dedup.minhash_near_duplicates(
                    corpus.unionByName(new).unionByName(batch2),
                    max_bucket_size=None,
                )
            )
            if t[0] in (20, 21) or t[1] in (20, 21)
        }
        got_crashed = _pairs_set(
            dedup.incremental_minhash_pairs(
                b2, None, max_bucket_size=None,
                corpus_banded=dedup.load_banded_state(spark, path),
                corpus_ptmod=ptmod,
            )
        )
        assert got_crashed == want_uncapped and len(got_crashed) > 0

        # re-compact (idempotent) → capped probe == capped batch pipeline
        dedup.compact_dedup_state(spark, path)
        assert not os.path.exists(f"{path}/banded_state/delta")
        cap = 2
        want_capped = {
            t
            for t in _pairs_set(
                dedup.minhash_near_duplicates(
                    corpus.unionByName(new).unionByName(batch2),
                    max_bucket_size=cap,
                )
            )
            if t[0] in (20, 21) or t[1] in (20, 21)
        }
        got_capped = _pairs_set(
            dedup.incremental_minhash_pairs(
                b2, None, max_bucket_size=cap,
                corpus_banded=dedup.load_banded_state(spark, path),
                corpus_ptmod=ptmod,
            )
        )
        assert got_capped == want_capped
    finally:
        b2.unpersist()
    spark.catalog.clearCache()


def test_decontaminate_bloom_map_only_and_no_false_negatives(spark, tmp_path):
    """The map-only decontamination path: flags against a broadcast Bloom
    bitmap must (a) at production bitmap size equal the exact semi-join
    flags on the fixture, (b) at a deliberately tiny bitmap remain a
    SUPERSET of the exact flags (one-sided error: over-flagging only),
    and (c) plan with no join and no hash shuffle — one Arrow pass."""
    from flink_clickstream_processor_msk_spark.operators import pipeline

    corpus, new = _corpus_and_batch(spark)
    docs = corpus.unionByName(new)
    bench = spark.createDataFrame(
        [
            _doc(900, "pack my box with five dozen liquor jugs tonight"),
            _doc(901, "a genuinely novel incoming document with fresh words"),
        ],
        DOCS_SCHEMA,
    )
    grams_path = str(tmp_path / "bloom-bench")
    pipeline.save_test_grams(bench, grams_path)
    exact = {
        r["doc_id"]: r["contaminated"]
        for r in pipeline.decontaminate_incremental(
            docs, pipeline.load_test_grams(spark, grams_path)
        ).collect()
    }
    assert sum(exact.values()) > 0 and sum(exact.values()) < len(exact)

    bloom = pipeline.build_gram_bloom(bench)
    q = pipeline.decontaminate_bloom(docs, bloom)
    got = {r["doc_id"]: r["contaminated"] for r in q.collect()}
    assert got == exact  # 2^22 bits vs ~60 grams: FP prob ~ 0

    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "hashpartitioning" not in plan

    tiny = pipeline.build_gram_bloom(bench, n_bits=256)
    noisy = {
        r["doc_id"]: r["contaminated"]
        for r in pipeline.decontaminate_bloom(docs, tiny).collect()
    }
    assert all(noisy[d] >= exact[d] for d in exact)  # never a false negative
    spark.catalog.clearCache()


def test_build_gram_bloom_vectorized_identity(spark):
    """The numpy-vectorized bloom build (VERDICT r8 wrong #2) sets the
    EXACT bit pattern of the per-gram per-hash scalar loop it replaced —
    pinned against an inline replica of that loop, at two bitmap sizes
    (incl. a tiny one that forces heavy bit collisions through
    np.bitwise_or.at's unbuffered accumulation)."""
    import numpy as np

    from flink_clickstream_processor_msk_spark.functions.hashing import (
        MOD_P,
        perm_coefficients,
    )
    from flink_clickstream_processor_msk_spark.operators import pipeline
    from flink_clickstream_processor_msk_spark.operators.dedup import shingle_hashes
    from pyspark.sql import functions as F

    corpus, new = _corpus_and_batch(spark)
    docs = corpus.unionByName(new)
    gram_rows = (
        shingle_hashes(docs)
        .select(F.explode("shingles").alias("gram"))
        .distinct()
        .collect()
    )
    assert len(gram_rows) > 50  # meaningful collision pressure at 256 bits
    for n_bits in (256, 1 << 14):
        coeffs = perm_coefficients(pipeline.BLOOM_HASHES)
        expected = np.zeros(n_bits // 8, dtype=np.uint8)
        for row in gram_rows:  # the pre-r9 scalar reference loop
            h = row["gram"]
            for a, b in coeffs:
                pos = ((a * h + b) % MOD_P) % n_bits
                expected[pos >> 3] |= 1 << (pos & 7)
        got = pipeline.build_gram_bloom(docs, n_bits=n_bits)
        assert np.array_equal(got, expected), n_bits
    spark.catalog.clearCache()


def test_empty_bootstrap_keeps_configured_modulus(spark, tmp_path):
    """ADVICE r8: a brand-new (zero-row) corpus writes no banded
    partition files, so before the banded_ptmod marker the first append
    silently fell back to the default modulus. Now the configured
    n_buckets survives the empty bootstrap: reads resolve it and
    appends inherit it."""
    from flink_clickstream_processor_msk_spark.streaming.ingest import (
        init_dedup_state,
    )

    _, new = _corpus_and_batch(spark)
    path = str(tmp_path / "dedup_state_bootstrap")
    init_dedup_state(spark, path, n_buckets=32)
    assert dedup.state_ptmod(spark, path) == 32

    state = dedup.batch_dedup_state(new)
    try:
        dedup.append_dedup_state(state, path)  # inherits the configured 32
    finally:
        state.unpersist()
    mods = {
        r["ptmod"]
        for r in dedup.load_banded_state(spark, path)
        .select("ptmod").distinct().collect()
    }
    assert mods == {32}
    spark.catalog.clearCache()


def test_probe_with_resolved_ptmod_and_no_corpus_state(spark, tmp_path):
    """The amortized ingest shape (VERDICT r8 wrong #3): modulus resolved
    once via state_ptmod, corpus_state not loaded at all (the probe path
    never reads the signature table), scratch handles returned for
    cleanup — pair set identical to the per-batch-resolution call."""
    corpus, new = _corpus_and_batch(spark)
    path = str(tmp_path / "dedup_state_resolved")
    dedup.save_dedup_state(corpus, path)

    new_state = dedup.batch_dedup_state(new)
    scratch = []
    try:
        got = _pairs_set(
            dedup.incremental_minhash_pairs(
                new_state,
                None,
                max_bucket_size=None,
                corpus_banded=dedup.load_banded_state(spark, path),
                corpus_ptmod=dedup.state_ptmod(spark, path),
                scratch=scratch,
            )
        )
        legacy = _pairs_set(
            dedup.incremental_minhash_pairs(
                new_state,
                dedup.load_dedup_state(spark, path),
                max_bucket_size=None,
                corpus_banded=dedup.load_banded_state(spark, path),
            )
        )
    finally:
        new_state.unpersist()
        for df in scratch:
            df.unpersist()
    assert got == legacy and len(got) > 0
    assert len(scratch) == 1  # the probe's banded batch table, handed back
    spark.catalog.clearCache()


def test_ingest_sink_releases_scratch_caches(spark, tmp_path):
    """ADVICE r8 (medium): each dedup_ingest_sink epoch persisted the
    batch's banded table with no unpersist — one leaked cached table per
    micro-batch in a long-running query. Drive the sink callable directly
    for three epochs and assert the persisted-RDD census returns to its
    pre-epoch baseline every time (while pairs still flow)."""
    from flink_clickstream_processor_msk_spark.streaming.ingest import (
        dedup_ingest_sink,
        init_dedup_state,
    )

    corpus, new = _corpus_and_batch(spark)
    path = str(tmp_path / "dedup_state_leak")
    init_dedup_state(spark, path, corpus=corpus)

    got: list[tuple] = []
    write = dedup_ingest_sink(
        path, lambda df, _e: got.extend(_pairs_set(df)), max_bucket_size=None
    )

    def cached_count() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    baseline = cached_count()
    batches = [
        new.filter(F.col("doc_id").isin(10, 11)),
        new.filter(F.col("doc_id").isin(12, 13)),
        new.limit(0),  # empty epoch must not leak either
    ]
    for epoch, batch in enumerate(batches):
        write(batch, epoch)
        assert cached_count() == baseline, f"epoch {epoch} leaked a cache"
    assert any(a == 11 and b == 12 for a, b, _ in got)  # cross-epoch pair
    spark.catalog.clearCache()


def test_delete_from_dedup_state_tombstones_and_compaction(spark, tmp_path):
    """The LSM deletion leg: a takedown tombstones a doc (O(ids) flat
    write), probes immediately stop pairing against it and match the
    batch pipeline over the shrunken corpus, re-adding before compaction
    refuses loudly, compaction physically drops the rows + clears the
    tombstones (after which re-adding works), and the staged-rewrite
    crash window self-heals on the next read."""
    import os
    import shutil

    import pytest

    corpus, new = _corpus_and_batch(spark)
    path = str(tmp_path / "dedup_state_delete")
    dedup.save_dedup_state(corpus, path)

    # doc 2 is the corpus partner of new doc 10 — delete it
    dedup.delete_from_dedup_state(spark, path, [2])
    b = dedup.batch_dedup_state(new)
    try:
        got = _pairs_set(
            dedup.incremental_minhash_pairs(
                b, None, max_bucket_size=None,
                corpus_banded=dedup.load_banded_state(spark, path),
                corpus_ptmod=dedup.state_ptmod(spark, path),
            )
        )
        want = {
            t
            for t in _pairs_set(
                dedup.minhash_near_duplicates(
                    corpus.filter(F.col("doc_id") != 2).unionByName(new),
                    max_bucket_size=None,
                )
            )
            if t[0] >= 10 or t[1] >= 10
        }
        assert got == want
        assert all(2 not in (a, b_) for a, b_, _ in got)
        assert len(got) > 0  # new-new pairs survive the takedown

        # re-adding the tombstoned doc before compaction refuses
        readd = dedup.batch_dedup_state(
            corpus.filter(F.col("doc_id") == 2)
        )
        try:
            with pytest.raises(ValueError, match="tombstoned"):
                dedup.append_dedup_state(readd, path)
        finally:
            readd.unpersist()

        # compaction drops the rows physically and clears the tombstones
        dedup.compact_dedup_state(spark, path)
        assert not os.path.exists(f"{path}/minhash_state/deleted_ids")
        raw_ids = {
            r["doc_id"]
            for r in spark.read.parquet(f"{path}/minhash_state/data")
            .select("doc_id").distinct().collect()
        }
        assert 2 not in raw_ids and 0 in raw_ids
        banded_ids = {
            r["doc_id"]
            for r in dedup.load_banded_state(spark, path)
            .select("doc_id").distinct().collect()
        }
        assert 2 not in banded_ids
        got_after = _pairs_set(
            dedup.incremental_minhash_pairs(
                b, None, max_bucket_size=None,
                corpus_banded=dedup.load_banded_state(spark, path),
                corpus_ptmod=dedup.state_ptmod(spark, path),
            )
        )
        assert got_after == want

        # now the re-add is accepted
        readd2 = dedup.batch_dedup_state(corpus.filter(F.col("doc_id") == 2))
        try:
            dedup.append_dedup_state(readd2, path)
        finally:
            readd2.unpersist()
        assert 2 in {
            r["doc_id"]
            for r in dedup.load_dedup_state(spark, path)
            .select("doc_id").distinct().collect()
        }
    finally:
        b.unpersist()

    # crash window: minhash_state deleted, staging dir survives → the
    # next load finishes the rename
    shutil.move(f"{path}/minhash_state", f"{path}/minhash_state_new")
    healed = {
        r["doc_id"]
        for r in dedup.load_dedup_state(spark, path)
        .select("doc_id").distinct().collect()
    }
    assert 2 in healed and os.path.isdir(f"{path}/minhash_state")
    spark.catalog.clearCache()


def test_sink_sees_mid_run_takedown(spark, tmp_path):
    """A delete issued BETWEEN micro-batches of a live ingest takes
    effect on the next epoch, through the sink's cached state handles
    (tombstones are re-checked per epoch; the cached base listing is
    not)."""
    from flink_clickstream_processor_msk_spark.streaming.ingest import (
        dedup_ingest_sink,
        init_dedup_state,
    )

    corpus, new = _corpus_and_batch(spark)
    path = str(tmp_path / "dedup_state_midrun")
    init_dedup_state(spark, path, corpus=corpus)

    per_epoch: dict[int, set] = {}
    write = dedup_ingest_sink(
        path, lambda df, e: per_epoch.__setitem__(e, _pairs_set(df)),
        max_bucket_size=None,
    )
    write(new.filter(F.col("doc_id") == 13), 0)  # warm the handles
    dedup.delete_from_dedup_state(spark, path, [2])
    write(new.filter(F.col("doc_id") == 10), 1)  # 10's partner is doc 2
    assert per_epoch[1] == set()  # takedown visible through cached handles
    write(new.filter(F.col("doc_id").isin(11, 12)), 2)
    assert any(a == 11 and b == 12 for a, b, _ in per_epoch[2])
    spark.catalog.clearCache()


def _vec(val: float, i: int) -> list[float]:
    """64-dim vector around `val` with mild deterministic per-dim texture
    (avoids exact-tie degeneracy in argmin/argmax paths)."""
    return [val + 0.001 * ((i + j) % 5) for j in range(64)]


def _base_and_drifted(spark, n: int = 100, shift: float = 50.0):
    base = spark.createDataFrame(
        [(i, _vec(float(i % 7), i)) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    drifted = spark.createDataFrame(
        [(100_000 + i, _vec(shift + (i % 7), i)) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    return base, drifted


def test_index_occupancy_stats_flags_absorbing_cell(spark, tmp_path):
    """VERDICT r8 missing #4: the IVF drift monitor. On the base-only
    index occupancy is unalarming; after appending a drifted region
    (which the PLANS.md measurement shows concentrates into few stale
    cells while recall stays 1.0) the absorbing cell's skew_ratio crosses
    OCCUPANCY_SKEW_ALARM — the operational signal recall cannot give.
    Empty cells appear as zero rows when n_cells is passed; shares sum
    to 1."""
    base, drifted = _base_and_drifted(spark)
    path = str(tmp_path / "ivf_occ")
    similarity.save_ivf_index(base, path)

    cents, cells = similarity.load_ivf_index(spark, path)
    before = similarity.index_occupancy_stats(cells, n_cells=len(cents)).collect()
    assert {r["cell"] for r in before} == set(range(len(cents)))
    assert abs(sum(r["share"] for r in before) - 1.0) < 1e-9
    max_before = max(r["skew_ratio"] for r in before)

    similarity.append_to_ivf_index(drifted, path)
    cents2, cells2 = similarity.load_ivf_index(spark, path)
    after = similarity.index_occupancy_stats(cells2, n_cells=len(cents2)).collect()
    assert abs(sum(r["share"] for r in after) - 1.0) < 1e-9
    assert sum(r["n_vecs"] for r in after) == 200
    max_after = max(r["skew_ratio"] for r in after)
    assert max_after > max_before
    assert max_after > similarity.OCCUPANCY_SKEW_ALARM


def test_pq_ood_monitor_retrains_exactly_once_and_recall_improves(spark, tmp_path):
    """VERDICT r8 next-round #6: the PQ re-seed policy as mechanism. A
    drifted stream pushes the cumulative OOD fraction (share of appended
    vectors whose quantization error exceeds the saved base quantile)
    past the measured ~10% threshold → the retrain_hook fires EXACTLY
    once (re-saving with representative=True re-seeded codebooks resets
    the reference, so further same-region batches are in-distribution),
    and a drifted-query ADC probe's recall against exact squared-L2
    truth (PQ's own metric) improves over the never-retrained index."""
    from flink_clickstream_processor_msk_spark.streaming.ingest import (
        index_ingest_sink,
    )

    base, drifted = _base_and_drifted(spark)
    seen = [base]

    # stale twin: same appends, no monitor — the recall baseline
    stale_path = str(tmp_path / "pq_stale")
    similarity.save_pq_index(base, stale_path)

    path = str(tmp_path / "pq_mon")
    similarity.save_pq_index(base, path)
    fired: list[int] = []

    def retrain(sp, epoch_id):
        fired.append(epoch_id)
        corpus = seen[0]
        for b in seen[1:]:
            corpus = corpus.unionByName(b)
        similarity.save_pq_index(
            corpus, path,
            codebooks=similarity.pq_codebooks(corpus, representative=True),
        )

    write = index_ingest_sink(path, kind="pq", retrain_hook=retrain)
    batches = [
        drifted.filter((F.col("vec_id") % 4) == i) for i in range(4)
    ]
    for epoch, b in enumerate(batches):
        seen.append(b)
        write(b, epoch)
        similarity.append_to_pq_index(b, stale_path)
    # base_n=100; first 25-vector drifted batch → 25/125 = 20% OOD > 10%
    assert fired == [0], fired

    # recall@10 of a drifted query vs exact squared-L2 ground truth
    all_vecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for df in seen
        for r in df.collect()
    }
    qid = 100_001
    q = all_vecs[qid]

    def d2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    truth = {
        v for v, _ in sorted(
            ((v, d2(q, e)) for v, e in all_vecs.items() if v != qid),
            key=lambda t: (t[1], t[0]),
        )[:10]
    }
    emb_df = spark.createDataFrame(
        [(v, e) for v, e in all_vecs.items()],
        "vec_id long, embedding array<float>",
    )

    def recall(index_path: str) -> float:
        idx = similarity.load_pq_index(spark, index_path)
        got = {
            r["vec_id"]
            for r in similarity.ann_pq_topk(emb_df, qid, 10, index=idx).collect()
        }
        return len(got & truth) / 10.0

    r_stale, r_retrained = recall(stale_path), recall(path)
    assert r_retrained > r_stale, (r_stale, r_retrained)


def test_recommended_compact_every_arithmetic():
    """The cadence default is sqrt(2C/(f·k)) — pinned against hand
    arithmetic, and monotone the right way: costlier compaction → wait
    longer, costlier per-file probes (object stores) → compact sooner.
    Also: append_dedup_state's delta_files=1 default writes ONE delta
    file per append (the knob the derivation's files_per_epoch=1 rests
    on) — checked in test_append_delta_is_one_file below."""
    from flink_clickstream_processor_msk_spark.streaming.ingest import (
        recommended_compact_every,
    )

    assert recommended_compact_every(6.2, 0.00106, 1) == 108
    assert recommended_compact_every(6.2, 0.03, 1) == 20  # object store
    assert recommended_compact_every() == 108  # measured defaults
    assert recommended_compact_every(24.8, 0.00106, 1) == 216  # 4×C → 2×E
    assert recommended_compact_every(6.2, 0.00106, 4) == 54  # 4×files → E/2
    assert recommended_compact_every(0.001, 10.0, 1) == 1  # floor


def test_append_delta_is_one_file(spark, tmp_path):
    """delta_files=1 (default): each append lands exactly ONE parquet
    file in the banded delta and one in minhash_state, whatever partitioning
    the batch frame arrives with — the file-count term that made deep
    deltas probe at 8.7 s vs the 3.4 s floor in the uncoalesced sweep
    (~31 files/append; tools/measure_compaction_cadence.py) stays
    O(epochs), not O(epochs × shuffle partitions)."""
    import os

    def pq_files(sub):
        d = f"{path}/{sub}"
        return {f for f in os.listdir(d) if f.endswith(".parquet")}

    corpus, new = _corpus_and_batch(spark)
    path = str(tmp_path / "one_file_state")
    dedup.save_dedup_state(corpus, path)
    state_before = pq_files("minhash_state/data")
    batch = dedup.batch_dedup_state(new.repartition(8))  # adversarial
    dedup.append_dedup_state(batch, path)
    batch.unpersist()
    delta_files = pq_files("banded_state/delta")
    assert len(delta_files) == 1, delta_files
    assert len(pq_files("minhash_state/data") - state_before) == 1


def test_pq_growth_trigger_refires_periodically(spark, tmp_path):
    """The COMPOSITION trigger (VERDICT r10 next#2): a stream of
    IN-DISTRIBUTION vectors (copies of base — the OOD monitor sees
    ~(1-q) of them over threshold, far under its 10%) still re-fires the
    retrain hook every time the corpus grows past growth_retrain_fraction
    of the CURRENT reference size, with base_n refreshing at each
    re-train — the periodic policy the one-shot OOD fire lacks.

    Arithmetic pinned: base_n=100, 30-vector batches, fraction 0.5 →
    fire at epoch 1 (60/100 > 0.5), re-train sees 160 vectors, fire
    again at epoch 4 (90/160 > 0.5) — exactly [1, 4]."""
    from flink_clickstream_processor_msk_spark.streaming.ingest import (
        index_ingest_sink,
    )

    base, _ = _base_and_drifted(spark)
    path = str(tmp_path / "pq_growth")
    similarity.save_pq_index(base, path)
    seen = [base]
    fired: list[int] = []

    def retrain(sp, epoch_id):
        fired.append(epoch_id)
        corpus = seen[0]
        for b in seen[1:]:
            corpus = corpus.unionByName(b)
        similarity.save_pq_index(
            corpus, path,
            codebooks=similarity.pq_codebooks(corpus, representative=True),
        )

    write = index_ingest_sink(
        path, kind="pq", retrain_hook=retrain, growth_retrain_fraction=0.5
    )
    rows = base.collect()
    for epoch in range(5):
        batch = spark.createDataFrame(
            [
                (200_000 + 1000 * epoch + i, r["embedding"])
                for i, r in enumerate(rows[:30])
            ],
            "vec_id long, embedding array<float>",
        )
        seen.append(batch)
        write(batch, epoch)
    assert fired == [1, 4], fired


def test_lm_quality_ingest_sink_matches_batch(spark, tmp_path):
    """The streaming quality scorer: per-epoch scores against a written
    reference LM compose (across a 2-batch replay) to exactly the batch
    operator's frame over the same documents and the same LM."""
    from flink_clickstream_processor_msk_spark.operators import text
    from flink_clickstream_processor_msk_spark.streaming.ingest import (
        lm_quality_ingest_sink,
    )

    ref = spark.createDataFrame(
        [(i, "the cat sat on the mat") for i in range(5)],
        "doc_id long, text string",
    )
    lm_path = str(tmp_path / "lm")
    text.save_lm(ref, lm_path)

    target = spark.createDataFrame(
        [(100, "the cat sat"), (101, "zq xv qq"), (102, "on the mat the cat")],
        "doc_id long, text string",
    )
    src = str(tmp_path / "src")
    target.filter(F.col("doc_id") < 102).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    target.filter(F.col("doc_id") >= 102).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    got: list = []
    write = lm_quality_ingest_sink(lm_path, lambda df, e: got.extend(df.collect()))
    q = (
        spark.readStream.schema(target.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(write)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    want = text.lm_bigram_score(target, lm=text.load_lm(spark, lm_path)).collect()
    assert {tuple(r) for r in got} == {tuple(r) for r in want}
    assert len(got) == 3


def test_semantic_dedup_ingest_sink_matches_batch(spark, tmp_path):
    """Incremental SemDeDup over the written IVF index: streaming flags
    composed across a 2-batch replay equal dedup.semantic_dedup over the
    FULL corpus with the same saved centroids — including a transitive
    chain (0~1, 1~20, 0≁20) deliberately split across epochs: vector 20
    must be dropped by the already-dropped vector 1, which is exactly
    why the sink appends flagged duplicates too (survivors-only state
    would keep 20). Out-of-order ids too: 21 arrives after 30 but the
    drop rule is vec_id order, not arrival order."""
    import random

    from flink_clickstream_processor_msk_spark.streaming.ingest import (
        semantic_dedup_ingest_sink,
    )

    rng = random.Random(7)

    def jig(base):
        return [x + rng.uniform(-1e-4, 1e-4) for x in base]

    # chain geometry (cosines hand-checked): 3~30 = 0.925, 30~31 = 0.960,
    # 3~31 = 4~31 = 0.781 — at threshold 0.9, vector 31 is a near-dup of
    # the DROPPED 30 ONLY, so its stream-side drop requires the appended
    # flagged-duplicate row
    up = [1.0] * 32 + [0.0] * 32
    down = [0.0] * 32 + [1.0] * 32
    rows = [
        (0, up),                           # kept
        (1, [0.85] * 32 + [0.35] * 32),    # dropped by 0 (0.925)
        (3, down),                         # kept
        (4, jig(down)),                    # dropped by 3 (~1.0)
        (30, [0.35] * 32 + [0.85] * 32),   # dropped by saved 3 (0.925)
        (31, [0.6] * 32 + [0.75] * 32),    # dropped ONLY by 30 (0.960)
        (21, jig(up)),                     # dropped by saved 0, arrives last
    ]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    thresh = 0.9
    # saved index: centroids refined on the FIRST slice (the bootstrap
    # corpus), streamed batches judged under those FIXED centroids
    first = emb.filter(F.col("vec_id") <= 4)
    seed = similarity.ivf_centroids(first, 2)
    cents = similarity.kmeans_refine_centroids(first, seed, iterations=2)
    path = str(tmp_path / "semdedup_ivf")
    _, idx0 = similarity.build_ivf_index(first, centroids=cents)
    similarity._install_index_base(
        idx0, path, "ivf",
        lambda gen_dir: similarity._write_centroids_sidecar(spark, gen_dir, cents),
    )
    idx0.unpersist()

    got: list = []
    write = semantic_dedup_ingest_sink(
        path, lambda df, e: got.extend(df.collect()), threshold=thresh
    )
    write(emb.filter(F.col("vec_id") == 30), 0)
    write(emb.filter(F.col("vec_id").isin([31, 21])), 1)

    _, full_idx = similarity.build_ivf_index(emb, centroids=cents)
    want = {
        r["vec_id"]: r
        for r in dedup.semantic_dedup(
            emb, threshold=thresh, index=full_idx
        ).collect()
    }
    got_by_id = {r["vec_id"]: r for r in got}
    assert set(got_by_id) == {30, 31, 21}
    for i in (30, 31, 21):
        assert got_by_id[i]["is_kept"] == want[i]["is_kept"], (i, want[i])
        assert got_by_id[i]["cell"] == want[i]["cell"], i
    # the interesting cases actually happened: 30 dropped by the saved
    # corpus, 21 dropped by saved 0 despite arriving last, and 31
    # dropped by the FLAGGED-AND-APPENDED 30 from the earlier epoch —
    # survivors-only state would have kept it
    assert not got_by_id[30]["is_kept"]
    assert not got_by_id[31]["is_kept"]
    assert not got_by_id[21]["is_kept"]
    full_idx.unpersist()
    spark.catalog.clearCache()


def test_semantic_dedup_ingest_sink_replay_guard(spark, tmp_path):
    """The documented at-least-once failure, executed: an UNWRAPPED
    redelivery of an epoch self-matches against its own appended rows
    (every vector suddenly has a lower-id... itself is excluded, but its
    appended twin row flags nothing — the real corruption is the DOUBLE
    APPEND, which poisons every later epoch's lower-id comparisons and
    double-counts the index). Wrapped in sinks.dedup_epochs, redelivery
    is a no-op: no second flag emission, no second append."""
    import os

    from flink_clickstream_processor_msk_spark.streaming.ingest import (
        semantic_dedup_ingest_sink,
    )
    from flink_clickstream_processor_msk_spark.streaming.sinks import (
        dedup_epochs,
    )

    base = spark.createDataFrame(
        [(i, [float(i % 7)] * 64) for i in range(10)],
        "vec_id long, embedding array<float>",
    )
    path = str(tmp_path / "replay_ivf")
    similarity.save_ivf_index(base, path)

    batch = spark.createDataFrame(
        [(100, [50.0] * 64), (101, [60.0] * 64)],
        "vec_id long, embedding array<float>",
    )
    calls: list[int] = []
    inner = semantic_dedup_ingest_sink(
        path, lambda df, e: calls.append(df.count())
    )
    write = dedup_epochs(inner, str(tmp_path / "markers"))

    def index_rows():
        # through the LSM read path: base + the flat append delta
        return similarity._read_index_table(spark, path, "cells").count()

    write(batch, 0)
    n_after_first = index_rows()
    assert n_after_first == 12 and calls == [2]
    write(batch, 0)  # redelivery of the SAME epoch: must be a no-op
    assert index_rows() == n_after_first
    assert calls == [2]
    write(batch, 1)  # a genuinely new epoch still processes
    assert calls == [2, 2]
    spark.catalog.clearCache()


def test_dsir_ingest_sink_matches_batch_selection(spark, tmp_path):
    """The streaming DSIR gate: save_dsir learns the ratio table + the
    train-time rank cutoff once; a 2-batch replay of the training corpus
    through dsir_ingest_sink reproduces (a) the batch operator's exact
    scores and (b) dsir_select's rank-cut selected set — the cutoff
    translation is what lets a per-shard gate apply a GLOBAL rank
    decision with no state. Novel-gram documents (absent from training)
    still score: the written ratio table carries all n_buckets rows."""
    from flink_clickstream_processor_msk_spark.operators import pipeline
    from flink_clickstream_processor_msk_spark.streaming.ingest import (
        dsir_ingest_sink,
    )

    corpus = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta", "t"),
            (1, "alpha beta gamma epsilon", "r"),
            (2, "spam junk click buy", "r"),
            (3, "junk spam now free deal", "r"),
            (4, "alpha beta unrelated words here", "r"),
            (5, "click buy free junk spam", "r"),
        ],
        "doc_id long, text string, src string",
    )
    target = corpus.where("src = 't'")
    path = str(tmp_path / "dsir")
    pipeline.save_dsir(corpus, target, path, n_buckets=64, keep_fraction=0.5)

    batch_sel = {
        r["doc_id"]: r
        for r in pipeline.dsir_select(
            corpus, target, n_buckets=64, keep_fraction=0.5
        ).collect()
    }

    src = str(tmp_path / "src")
    corpus.filter(F.col("doc_id") < 3).coalesce(1).write.mode("append").parquet(src)
    corpus.filter(F.col("doc_id") >= 3).coalesce(1).write.mode("append").parquet(src)
    got: list = []
    write = dsir_ingest_sink(path, lambda df, e: got.extend(df.collect()))
    q = (
        spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(write)
        .option("checkpointLocation", str(tmp_path / "dsir_ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got_by_id = {r["doc_id"]: r for r in got}
    assert set(got_by_id) == set(batch_sel)
    for i, want in batch_sel.items():
        assert got_by_id[i]["dsir_score"] == want["dsir_score"], i
        assert got_by_id[i]["selected"] == want["selected"], i

    # a post-training batch with grams never seen at train time still
    # scores (all-buckets ratio table) and lands below the cutoff
    novel = spark.createDataFrame(
        [(99, "zz yy xx ww vv uu", "r")], "doc_id long, text string, src string"
    )
    got2: list = []
    write2 = dsir_ingest_sink(path, lambda df, e: got2.extend(df.collect()))
    write2(novel, 0)
    # every unseen bucket carries the constant smoothing ratio
    # (N_r+B)/(N_t+B), so the score exists and equals that constant
    assert len(got2) == 1 and got2[0]["n_grams"] == 5


def _index_rows(spark, path, kind):
    from flink_clickstream_processor_msk_spark.operators import lsm

    sub = similarity._INDEX_TABLES[kind][0]
    return spark.read.parquet(lsm.data_path(spark, path, sub)).count()


@pytest.mark.parametrize("kind", ["ivf", "pq", "lsh", "ivfpq"])
def test_index_delete_lifecycle(spark, tmp_path, kind):
    """Written-index deletes, all four layouts: tombstoned vectors vanish
    from loads (and thus probes) immediately, re-adding refuses until a
    compact, compaction physically drops the rows + clears tombstones,
    and the ids can then be re-ingested."""
    base, _ = _base_and_drifted(spark)
    path = str(tmp_path / f"idx_{kind}")
    save = {
        "ivf": similarity.save_ivf_index,
        "pq": similarity.save_pq_index,
        "lsh": similarity.save_lsh_index,
        "ivfpq": similarity.save_ivfpq_index,
    }[kind]
    load = {
        "ivf": similarity.load_ivf_index,
        "pq": similarity.load_pq_index,
        "lsh": similarity.load_lsh_index,
        "ivfpq": similarity.load_ivfpq_index,
    }[kind]
    append = {
        "ivf": similarity.append_to_ivf_index,
        "pq": similarity.append_to_pq_index,
        "lsh": similarity.append_to_lsh_index,
        "ivfpq": similarity.append_to_ivfpq_index,
    }[kind]

    def loaded_table():
        out = load(spark, path)
        return out if isinstance(out, DataFrame) else out[-1]

    victims = [0, 7, 42]
    # a delete against a path with no index is refused, not parked in a
    # journal nothing reads
    with pytest.raises(ValueError, match=re.escape(f"no index at {path}")):
        similarity.delete_from_index(spark, path, victims)
    save(base, path)
    similarity.delete_from_index(spark, path, victims)

    got_ids = {r["vec_id"] for r in loaded_table().select("vec_id").collect()}
    assert got_ids == set(range(100)) - set(victims)  # hidden at load
    assert _index_rows(spark, path, kind) == 100  # but physically present

    readd = base.filter(F.col("vec_id").isin(victims))
    with pytest.raises(ValueError, match="tombstoned"):
        append(readd, path)

    similarity.compact_index(spark, path, kind)
    assert _index_rows(spark, path, kind) == 97  # physically dropped
    assert similarity.load_index_tombstones(spark, path) is None

    append(readd, path)  # legal again after compaction
    assert {r["vec_id"] for r in loaded_table().select("vec_id").collect()} == set(
        range(100)
    )


def test_index_delete_excludes_from_probes(spark, tmp_path):
    """The user-visible contract: a deleted vector never appears in top-k
    again — the prior #1 neighbor disappears from the IVF and PQ probes
    right after the tombstone write, no compaction needed."""
    base, _ = _base_and_drifted(spark)
    for kind, save, load, probe in (
        ("ivf", similarity.save_ivf_index, similarity.load_ivf_index,
         lambda idx, q: similarity.ann_ivf_topk(base, q, 5, index=idx)),
        ("pq", similarity.save_pq_index, similarity.load_pq_index,
         lambda idx, q: similarity.ann_pq_topk(base, q, 5, index=idx)),
    ):
        path = str(tmp_path / f"probe_{kind}")
        save(base, path)
        q = 3
        top1 = probe(load(spark, path), q).first()["vec_id"]
        similarity.delete_from_index(spark, path, [top1])
        after = {r["vec_id"] for r in probe(load(spark, path), q).collect()}
        assert top1 not in after and len(after) == 5, kind


def test_index_compact_refuses_conflicting_duplicate_rows(spark, tmp_path):
    """ADVICE r12: compact_index's vec_id dedup exists to heal the
    crash-window REPLAY (byte-identical rows in base + delta) — but the
    same live vec_id appended twice with DIFFERENT vectors must refuse
    loudly, not collapse to an arbitrary nondeterministic winner."""
    base, _ = _base_and_drifted(spark)
    path = str(tmp_path / "idx_conflict")
    similarity.save_ivf_index(base, path)
    # a live id re-appended with a different payload
    clash = base.filter(F.col("vec_id") == 7).select(
        "vec_id",
        F.transform("embedding", lambda x: x + F.lit(1.0)).alias(
            "embedding"
        ),
    )
    similarity.append_to_ivf_index(clash, path)
    # force a compaction trigger (no tombstones, but a delta exists)
    with pytest.raises(ValueError, match="CONFLICTING"):
        similarity.compact_index(spark, path, "ivf")

    # byte-identical replay still heals: duplicate the delta file itself
    import glob
    import shutil

    path2 = str(tmp_path / "idx_replay")
    similarity.save_ivf_index(base.filter(F.col("vec_id") < 90), path2)
    similarity.append_to_ivf_index(
        base.filter(F.col("vec_id") >= 90), path2
    )
    for f in glob.glob(f"{path2}/cells/delta/part-*.parquet"):
        shutil.copy(f, f.replace("part-", "replay-part-"))
    similarity.compact_index(spark, path2, "ivf")
    _, cells = similarity.load_ivf_index(spark, path2)
    assert cells.count() == 100  # deduped, not doubled


def test_index_compact_crash_window_self_heals(spark, tmp_path):
    """Crash between compact's delete and rename (live dir gone, staged
    dir present): the next load finishes the swap and reads the
    compacted rows."""
    import shutil as _sh

    base, _ = _base_and_drifted(spark)
    path = str(tmp_path / "crash_ivf")
    similarity.save_ivf_index(base, path)
    similarity.delete_from_index(spark, path, [1, 2])
    similarity.compact_index(spark, path, "ivf")
    # simulate the window re-opening: stage the live dir, remove it
    _sh.move(f"{path}/cells", f"{path}/cells_new")
    cents, cells = similarity.load_ivf_index(spark, path)
    assert cells.count() == 98
    import os as _os

    assert _os.path.exists(f"{path}/cells")


def test_corpus_ingest_quality_gate_filters_before_dedup(spark, tmp_path):
    """The lm_path/min_avg_prob gate: junk (and unscoreable <2-token)
    documents are rejected BEFORE the dedup/decontamination legs — they
    reach on_rejected with their scores (NULL for unscoreable), never
    enter the state, and produce no pairs or flags."""
    from flink_clickstream_processor_msk_spark.operators import pipeline, text
    from flink_clickstream_processor_msk_spark.streaming.ingest import (
        corpus_ingest_sink,
        init_dedup_state,
    )

    ref = spark.createDataFrame(
        [_doc(800 + i, "the quick brown fox jumps over the lazy dog today")
         for i in range(6)],
        DOCS_SCHEMA,
    )
    lm_path = str(tmp_path / "gate-lm")
    text.save_lm(ref, lm_path)

    good_a = _doc(1, "the quick brown fox jumps over the lazy dog today")
    good_b = _doc(2, "the quick brown fox jumps over the lazy dog today now")
    junk = _doc(3, "zq xv qqq zk wvv xoxo qq zzz")
    tiny = _doc(4, "one")
    batch = spark.createDataFrame([good_a, good_b, junk, tiny], DOCS_SCHEMA)

    # threshold between the junk and good scores, derived from the LM
    scores = {
        r["doc_id"]: r["avg_prob"]
        for r in text.lm_bigram_score(
            batch, lm=text.load_lm(spark, lm_path)
        ).collect()
    }
    assert scores[1] > scores[3] and scores[2] > scores[3]
    cut = (max(scores[3], 0.0) + min(scores[1], scores[2])) / 2

    grams_path = str(tmp_path / "gate-grams")
    pipeline.save_test_grams(
        spark.createDataFrame(
            [_doc(900, "the quick brown fox jumps over the lazy dog today")],
            DOCS_SCHEMA,
        ),
        grams_path,
    )
    state_path = str(tmp_path / "gate-state")
    init_dedup_state(spark, state_path)

    got_pairs, got_flags, got_rejects = [], {}, {}
    write = corpus_ingest_sink(
        state_path, grams_path,
        on_pairs=lambda df, e: got_pairs.extend(
            (r["doc_a"], r["doc_b"]) for r in df.collect()
        ),
        on_flags=lambda df, e: got_flags.update(
            (r["doc_id"], r["contaminated"]) for r in df.collect()
        ),
        lm_path=lm_path,
        min_avg_prob=cut,
        on_rejected=lambda df, e: got_rejects.update(
            (r["doc_id"], r["avg_prob"]) for r in df.collect()
        ),
    )
    write(batch, 0)

    assert set(got_rejects) == {3, 4}
    assert got_rejects[4] is None  # unscoreable: no bigram to judge
    assert got_rejects[3] is not None and got_rejects[3] < cut
    # only admitted docs entered the state / legs
    state_ids = {
        r["doc_id"]
        for r in dedup.load_dedup_state(spark, state_path).collect()
    }
    assert state_ids == {1, 2}
    assert set(got_flags) == {1, 2}  # flags only for admitted
    assert bool(got_flags[1])  # shares grams with the benchmark doc
    assert all({a, b} <= {1, 2} for a, b in got_pairs)
    assert (1, 2) in got_pairs  # near-dups among admitted still detected


def test_corpus_ingest_dsir_gate_selects_before_dedup(spark, tmp_path):
    """The dsir_path selection gate on the combined ingest leg: documents
    below the written importance model's train-time cutoff (and
    bigram-less documents it cannot judge) are rejected FIRST — they
    reach on_rejected with NULL avg_prob (never LM-scored), never enter
    the state, produce no pairs or flags; target-like near-dups among
    the admitted are still detected."""
    from flink_clickstream_processor_msk_spark.operators import pipeline
    from flink_clickstream_processor_msk_spark.streaming.ingest import (
        corpus_ingest_sink,
        init_dedup_state,
    )

    med = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    web = "spam junk click buy now free cheap deal win prize"
    train = spark.createDataFrame(
        [
            _doc(800, med),
            _doc(801, med + " lambda mu"),
            _doc(802, web),
            _doc(803, web + " offer code"),
        ],
        DOCS_SCHEMA,
    )
    dsir_path = str(tmp_path / "gate-dsir")
    pipeline.save_dsir(
        train, train.filter(F.col("doc_id") <= 801), dsir_path,
        n_buckets=128, keep_fraction=0.5,
    )

    batch = spark.createDataFrame(
        [
            _doc(1, med),                       # target-like, admitted
            _doc(2, med + " nu"),               # near-dup of 1, admitted
            _doc(3, web + " extra junk words"), # off-target, rejected
            _doc(4, "one"),                     # unscoreable, rejected
        ],
        DOCS_SCHEMA,
    )
    grams_path = str(tmp_path / "gate-dsir-grams")
    pipeline.save_test_grams(
        spark.createDataFrame([_doc(900, med)], DOCS_SCHEMA), grams_path
    )
    state_path = str(tmp_path / "gate-dsir-state")
    init_dedup_state(spark, state_path)

    got_pairs, got_flags, got_rejects = [], {}, {}
    write = corpus_ingest_sink(
        state_path, grams_path,
        on_pairs=lambda df, e: got_pairs.extend(
            (r["doc_a"], r["doc_b"]) for r in df.collect()
        ),
        on_flags=lambda df, e: got_flags.update(
            (r["doc_id"], r["contaminated"]) for r in df.collect()
        ),
        dsir_path=dsir_path,
        on_rejected=lambda df, e: got_rejects.update(
            (r["doc_id"], r["avg_prob"]) for r in df.collect()
        ),
    )
    write(batch, 0)

    assert set(got_rejects) == {3, 4}
    assert got_rejects[3] is None and got_rejects[4] is None  # never LM-scored
    state_ids = {
        r["doc_id"]
        for r in dedup.load_dedup_state(spark, state_path).collect()
    }
    assert state_ids == {1, 2}
    assert set(got_flags) == {1, 2}
    assert bool(got_flags[1])  # shares grams with the benchmark doc
    assert all({a, b} <= {1, 2} for a, b in got_pairs)
    assert (1, 2) in got_pairs  # near-dups among admitted still detected


def test_corpus_ingest_both_gates_select_then_quality_then_dedup(
    spark, tmp_path
):
    """dsir_path AND lm_path/min_avg_prob on one corpus_ingest_sink: the
    selection gate runs first, the quality gate scores only what it
    admitted, then the dedup leg probes and folds. DSIR rejects reach
    on_rejected with NULL avg_prob (never LM-scored), LM rejects carry
    their score, and the state, pairs and flags hold only documents
    both gates admit."""
    from flink_clickstream_processor_msk_spark.operators import pipeline, text
    from flink_clickstream_processor_msk_spark.streaming.ingest import (
        corpus_ingest_sink,
        init_dedup_state,
    )

    med = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    web = "spam junk click buy now free cheap deal win prize"
    train = spark.createDataFrame(
        [_doc(800, med), _doc(801, med + " lambda mu"),
         _doc(802, web), _doc(803, web + " offer code")],
        DOCS_SCHEMA,
    )
    dsir_path, lm_path = str(tmp_path / "dsir"), str(tmp_path / "lm")
    pipeline.save_dsir(
        train, train.filter(F.col("doc_id") <= 801), dsir_path,
        n_buckets=128, keep_fraction=0.5,
    )
    # the LM knows only the first half of the target's word chain
    text.save_lm(
        spark.createDataFrame(
            [_doc(700 + i, "alpha beta gamma delta epsilon zeta")
             for i in range(6)],
            DOCS_SCHEMA,
        ),
        lm_path,
    )
    batch = spark.createDataFrame(
        [
            _doc(1, med),                                # both admit
            _doc(2, med + " nu"),                        # near-dup of 1
            _doc(3, web + " extra junk words"),          # DSIR rejects
            _doc(4, "one"),                              # DSIR: unscoreable
            _doc(5, "eta theta iota kappa lambda mu"),   # LM rejects
        ],
        DOCS_SCHEMA,
    )
    scores = {
        r["doc_id"]: r["avg_prob"]
        for r in text.lm_bigram_score(
            batch, lm=text.load_lm(spark, lm_path)
        ).collect()
    }
    cut = (scores[5] + min(scores[1], scores[2])) / 2
    assert scores[5] < cut
    grams_path = str(tmp_path / "grams")
    pipeline.save_test_grams(
        spark.createDataFrame([_doc(900, med)], DOCS_SCHEMA), grams_path
    )
    state_path = str(tmp_path / "state")
    init_dedup_state(spark, state_path)

    events: list = []

    def record(kind, key, value):
        return lambda df, e: events.append(
            (kind, {key(r): value(r) for r in df.collect()})
        )

    corpus_ingest_sink(
        state_path, grams_path,
        on_pairs=record("pairs", lambda r: (r["doc_a"], r["doc_b"]),
                        lambda r: None),
        on_flags=record("flags", lambda r: r["doc_id"],
                        lambda r: r["contaminated"]),
        dsir_path=dsir_path, lm_path=lm_path, min_avg_prob=cut,
        on_rejected=record("rejected", lambda r: r["doc_id"],
                           lambda r: r["avg_prob"]),
    )(batch, 0)

    assert [kind for kind, _ in events] == [
        "rejected", "rejected", "pairs", "flags"
    ]
    (_, dsir_rejects), (_, lm_rejects), (_, pairs), (_, flags) = events
    assert dsir_rejects == {3: None, 4: None}  # never LM-scored
    assert lm_rejects == {5: pytest.approx(scores[5])}
    assert set(pairs) == {(1, 2)}
    assert set(flags) == {1, 2} and flags[1]
    assert {
        r["doc_id"] for r in dedup.load_dedup_state(spark, state_path).collect()
    } == {1, 2}
    spark.catalog.clearCache()


def test_ingest_legs_have_one_copy_and_no_geometry_knobs():
    """No Spark. Each ingest leg's model or state call is named in ONE
    top-level function of streaming/ingest.py, so corpus_ingest_sink
    cannot regrow a copy of a standalone leg; and no public function of
    operators/dedup.py or streaming/ingest.py takes the minhash geometry
    or a per-append file count — the banded state does not record its
    band layout, so a per-call geometry would make probes miss."""
    import ast
    import inspect

    from flink_clickstream_processor_msk_spark.streaming import ingest

    top = ast.parse(inspect.getsource(ingest)).body
    for leg in ("load_dsir", "load_lm", "batch_dedup_state",
                "append_dedup_state", "compact_dedup_state"):
        holders = [
            f.name
            for f in top
            if isinstance(f, (ast.FunctionDef, ast.ClassDef))
            and any(
                leg in (getattr(n, "id", None), getattr(n, "attr", None),
                        getattr(n, "name", None))
                for n in ast.walk(f)
            )
        ]
        assert len(holders) == 1, (leg, holders)
    for mod in (dedup, ingest):
        for name, fn in inspect.getmembers(mod, inspect.isfunction):
            if fn.__module__ == mod.__name__ and not name.startswith("_"):
                params = set(inspect.signature(fn).parameters)
                assert not params & {"n_perms", "n_bands", "delta_files"}, name


def test_corpus_ingest_half_configured_gate_refused(spark, tmp_path):
    """Passing exactly one of lm_path/min_avg_prob is a silently-disabled
    quality gate the caller believes is on (ADVICE r10) — sink
    construction must refuse loudly, before any epoch runs."""
    import pytest

    from flink_clickstream_processor_msk_spark.streaming.ingest import (
        corpus_ingest_sink,
    )

    for kwargs in (
        {"lm_path": str(tmp_path / "lm")},
        {"min_avg_prob": 0.5},
    ):
        with pytest.raises(ValueError, match="quality gate"):
            corpus_ingest_sink(
                str(tmp_path / "state"), str(tmp_path / "grams"),
                on_pairs=lambda df, e: None,
                on_flags=lambda df, e: None,
                **kwargs,
            )


@pytest.mark.parametrize("kind", ["ivf", "pq", "lsh", "ivfpq"])
def test_index_append_writes_one_flat_delta_file(spark, tmp_path, kind):
    """Round 12: appends land as ONE flat parquet file per batch in
    ``{sub}_delta`` (the banded-dedup-state delta_files=1 discipline —
    dynamic-partition appends paid per-partition committer overhead and
    wrote n_touched_cells files each), loads union the delta, and
    :func:`compact_index` folds it back into the partitioned base and
    removes the delta dir."""
    import os

    base, _ = _base_and_drifted(spark)
    path = str(tmp_path / f"delta_{kind}")
    sub = similarity._INDEX_TABLES[kind][0]
    save = {
        "ivf": similarity.save_ivf_index,
        "pq": similarity.save_pq_index,
        "lsh": similarity.save_lsh_index,
        "ivfpq": similarity.save_ivfpq_index,
    }[kind]
    load = {
        "ivf": similarity.load_ivf_index,
        "pq": similarity.load_pq_index,
        "lsh": similarity.load_lsh_index,
        "ivfpq": similarity.load_ivfpq_index,
    }[kind]
    append = {
        "ivf": similarity.append_to_ivf_index,
        "pq": similarity.append_to_pq_index,
        "lsh": similarity.append_to_lsh_index,
        "ivfpq": similarity.append_to_ivfpq_index,
    }[kind]

    def loaded_ids():
        out = load(spark, path)
        table = out if isinstance(out, DataFrame) else out[-1]
        return {r["vec_id"] for r in table.select("vec_id").collect()}

    def delta_files():
        d = f"{path}/{sub}/delta"
        if not os.path.isdir(d):
            return []
        return [f for f in os.listdir(d) if f.endswith(".parquet")]

    save(base.filter(F.col("vec_id") < 80), path)
    append(base.filter((F.col("vec_id") >= 80) & (F.col("vec_id") < 90)), path)
    assert len(delta_files()) == 1
    append(base.filter(F.col("vec_id") >= 90), path)
    assert len(delta_files()) == 2
    assert loaded_ids() == set(range(100))
    similarity.compact_index(spark, path, kind)
    assert not os.path.isdir(f"{path}/{sub}/delta")
    assert loaded_ids() == set(range(100))
    assert _index_rows(spark, path, kind) == 100


def test_index_compact_rerun_heals_duplicated_delta(spark, tmp_path):
    """Replayed delta rows (since r16 a compact crash cannot duplicate
    rows — the install is one rename — but a producer re-sending an
    acked append after its own crash still can): rows appear twice at
    read; RE-RUNNING compact de-duplicates by vec_id and removes the
    delta — the fold is idempotent."""
    import shutil as _sh

    base, _ = _base_and_drifted(spark)
    path = str(tmp_path / "dupheal_ivf")
    similarity.save_ivf_index(base.filter(F.col("vec_id") < 90), path)
    new = base.filter(F.col("vec_id") >= 90)
    similarity.append_to_ivf_index(new, path)
    _sh.copytree(f"{path}/cells/delta", f"{path}/cells_delta_bak")
    similarity.compact_index(spark, path, "ivf")
    # replay simulation: the folded delta resurfaces
    _sh.move(f"{path}/cells_delta_bak", f"{path}/cells/delta")
    _, cells = similarity.load_ivf_index(spark, path)
    assert cells.count() == 110  # 10 appended rows visible twice
    similarity.compact_index(spark, path, "ivf")
    _, cells = similarity.load_ivf_index(spark, path)
    assert cells.count() == 100
    assert _index_rows(spark, path, "ivf") == 100


def test_save_index_clears_stale_delta(spark, tmp_path):
    """A re-train (save over an appended index) rebuilds the base from
    the full corpus; a surviving delta would double the appended rows —
    save_*_index must drop it."""
    base, _ = _base_and_drifted(spark)
    path = str(tmp_path / "resave_pq")
    similarity.save_pq_index(base.filter(F.col("vec_id") < 90), path)
    similarity.append_to_pq_index(base.filter(F.col("vec_id") >= 90), path)
    similarity.save_pq_index(base, path)  # the re-train shape
    _, codes = similarity.load_pq_index(spark, path)
    assert codes.count() == 100


def test_dedup_sink_compact_every_defaults_to_recommended(
    spark, tmp_path, monkeypatch
):
    """ADVICE r11 (medium): compact_every=None must RESOLVE to
    recommended_compact_every() at sink construction — the measured
    cadence is the default, not a docstring claim — and 0 disables
    inline compaction explicitly."""
    import os

    from flink_clickstream_processor_msk_spark.streaming import ingest
    from flink_clickstream_processor_msk_spark.streaming.ingest import (
        dedup_ingest_sink,
        init_dedup_state,
    )

    docs = spark.createDataFrame(
        [(i, f"doc text number {i} alpha beta") for i in range(6)],
        "doc_id long, text string",
    )
    monkeypatch.setattr(ingest, "recommended_compact_every", lambda: 1)

    path = str(tmp_path / "default_on")
    init_dedup_state(spark, path)
    write = dedup_ingest_sink(path, lambda df, e: df.count())
    write(docs.filter(F.col("doc_id") < 3), 0)
    # compacted after the epoch: the delta was folded into the base
    assert not os.path.isdir(f"{path}/banded_state/delta")

    path0 = str(tmp_path / "explicit_off")
    init_dedup_state(spark, path0)
    write0 = dedup_ingest_sink(
        path0, lambda df, e: df.count(), compact_every=0
    )
    write0(docs.filter(F.col("doc_id") >= 3), 0)
    assert os.path.isdir(f"{path0}/banded_state/delta")


def test_index_ingest_growth_trigger_misconfig_refused(spark, tmp_path):
    """ADVICE r11: growth_retrain_fraction without kind='pq'+retrain_hook
    is a silently-disabled periodic re-train — refuse at construction;
    and a pq index missing the ood_ref sidecar (saved before the monitor
    existed) raises on the first epoch instead of silently never firing."""
    import shutil as _sh

    from flink_clickstream_processor_msk_spark.streaming.ingest import (
        index_ingest_sink,
    )

    with pytest.raises(ValueError, match="growth_retrain_fraction"):
        index_ingest_sink(str(tmp_path / "i1"), kind="ivf",
                          growth_retrain_fraction=0.5)
    with pytest.raises(ValueError, match="growth_retrain_fraction"):
        index_ingest_sink(str(tmp_path / "i2"), kind="pq",
                          growth_retrain_fraction=0.5)

    base, _ = _base_and_drifted(spark)
    path = str(tmp_path / "no_sidecar_pq")
    similarity.save_pq_index(base, path)
    _sh.rmtree(f"{path}/codes/ood_ref")
    write = index_ingest_sink(
        path, kind="pq",
        retrain_hook=lambda s, e: None,
        growth_retrain_fraction=0.5,
    )
    with pytest.raises(ValueError, match="ood_ref"):
        write(base.filter(F.col("vec_id") < 5), 0)


def test_corpus_ingest_embedding_leg_composes_gates_and_semdedup(
    spark, tmp_path
):
    """Round-12 composition: one corpus_ingest_sink pass over
    (documents, embeddings) — the LM quality gate runs FIRST (cheap gates
    before expensive state), then the ADMITTED batch is SemDeDup-checked
    against the written IVF index exactly as the standalone sink would,
    and also folds into the minhash state. Pins: (a) gated-out documents
    never reach the index or the semantic flags, (b) the admitted flags
    equal dedup.semantic_dedup over bootstrap ∪ admitted under the saved
    centroids (batch parity through the composition), (c) the
    both-or-neither construction rule."""
    from flink_clickstream_processor_msk_spark.operators import pipeline, text
    from flink_clickstream_processor_msk_spark.streaming.ingest import (
        corpus_ingest_sink,
        init_dedup_state,
    )

    schema = DOCS_SCHEMA + ", embedding array<float>"

    def mdoc(i, txt, emb):
        return (*_doc(i, txt), [float(x) for x in emb])

    up = [1.0] * 32 + [0.0] * 32
    down = [0.0] * 32 + [1.0] * 32

    ref = spark.createDataFrame(
        [_doc(800 + i, "the quick brown fox jumps over the lazy dog today")
         for i in range(6)],
        DOCS_SCHEMA,
    )
    lm_path = str(tmp_path / "memb-lm")
    text.save_lm(ref, lm_path)

    good_a = mdoc(10, "the quick brown fox jumps over the lazy dog", up)
    good_b = mdoc(11, "the lazy dog jumps over the quick brown fox",
                  [x + 1e-4 for x in up])          # near-dup of good_a
    good_c = mdoc(
        12,
        "the quick brown fox naps under the green tree",
        [1.0 if i % 2 == 0 else -1.0 for i in range(64)],  # ⊥ everything
    )
    junk = mdoc(13, "zq xv qqq zk wvv xoxo qq zzz",
                [x + 2e-4 for x in up])            # would match, but gated
    batch0 = spark.createDataFrame([good_a, junk], schema)
    batch1 = spark.createDataFrame([good_b, good_c], schema)
    all_docs = spark.createDataFrame([good_a, good_b, good_c, junk], schema)

    scores = {
        r["doc_id"]: r["avg_prob"]
        for r in text.lm_bigram_score(
            all_docs, lm=text.load_lm(spark, lm_path)
        ).collect()
    }
    cut = (max(scores[13], 0.0)
           + min(scores[10], scores[11], scores[12])) / 2

    # bootstrap index on two seed vectors (ids below the batch ids)
    boot = spark.createDataFrame(
        [(0, [float(x) for x in down]), (1, [1.0] * 64)],
        "vec_id long, embedding array<float>",
    )
    index_path = str(tmp_path / "memb-ivf")
    similarity.save_ivf_index(boot, index_path, n_centroids=2)

    grams_path = str(tmp_path / "memb-grams")
    pipeline.save_test_grams(
        spark.createDataFrame([_doc(900, "held out benchmark sentence")],
                              DOCS_SCHEMA),
        grams_path,
    )
    state_path = str(tmp_path / "memb-state")
    init_dedup_state(spark, state_path)

    with pytest.raises(ValueError, match="embedding leg"):
        corpus_ingest_sink(
            state_path, grams_path,
            on_pairs=lambda df, e: None, on_flags=lambda df, e: None,
            semantic_index_path=index_path,
        )

    sem_flags: dict = {}
    write = corpus_ingest_sink(
        state_path, grams_path,
        on_pairs=lambda df, e: df.count(),
        on_flags=lambda df, e: df.count(),
        lm_path=lm_path, min_avg_prob=cut,
        on_rejected=lambda df, e: df.count(),
        semantic_index_path=index_path,
        on_semantic_flags=lambda df, e: sem_flags.update(
            (r["vec_id"], (r["cell"], r["is_kept"])) for r in df.collect()
        ),
        semantic_threshold=0.9,
    )
    write(batch0, 0)
    write(batch1, 1)

    # (a) the junk doc was gated before the embedding leg
    assert set(sem_flags) == {10, 11, 12}
    cents, cells = similarity.load_ivf_index(spark, index_path)
    assert {r["vec_id"] for r in cells.select("vec_id").collect()} == {
        0, 1, 10, 11, 12
    }
    # (b) batch parity through the composition: flags == the batch
    # operator over bootstrap ∪ admitted under the SAME saved centroids
    admitted = boot.unionByName(
        all_docs.filter(F.col("doc_id") != 13).select(
            F.col("doc_id").alias("vec_id"), "embedding"
        )
    )
    _, full_idx = similarity.build_ivf_index(admitted, centroids=cents)
    want = {
        r["vec_id"]: (r["cell"], r["is_kept"])
        for r in dedup.semantic_dedup(
            admitted, threshold=0.9, index=full_idx
        ).collect()
    }
    assert sem_flags == {i: want[i] for i in (10, 11, 12)}
    assert sem_flags[11][1] is False  # near-dup of admitted 10: dropped
    assert sem_flags[10][1] and sem_flags[12][1]
    full_idx.unpersist()
    spark.catalog.clearCache()


def test_corpus_ingest_minhash_refusal_leaves_index_unmutated(
    spark, tmp_path
):
    """ADVICE r12 medium: in the composed sink the embedding leg's index
    FOLD must come after append_dedup_state succeeds (flags still
    deliver early). A minhash-leg tombstone refusal therefore leaves the
    IVF index byte-for-byte alone — before the r13 reorder, every retry
    of the permanently-failing epoch re-appended the same rows to
    cells_delta and the two states diverged until a compact."""
    from flink_clickstream_processor_msk_spark.operators import (
        dedup as dd,
        pipeline,
    )
    from flink_clickstream_processor_msk_spark.streaming.ingest import (
        corpus_ingest_sink,
        init_dedup_state,
    )

    schema = DOCS_SCHEMA + ", embedding array<float>"
    up = [1.0] * 32 + [0.0] * 32
    doc = (*_doc(10, "the quick brown fox jumps over the lazy dog"),
           [float(x) for x in up])
    batch = spark.createDataFrame([doc], schema)

    state_path = str(tmp_path / "ref-state")
    init_dedup_state(spark, state_path)
    # fold doc 10 in, then tombstone it: the NEXT append of doc 10 must
    # refuse (the hard-rule re-add refusal) until a compact runs
    dd.append_dedup_state(
        dd.batch_dedup_state(batch.drop("embedding")), state_path
    )
    dd.delete_from_dedup_state(spark, state_path, [10])

    boot = spark.createDataFrame(
        [(0, [0.0] * 32 + [1.0] * 32), (1, [1.0] * 64)],
        "vec_id long, embedding array<float>",
    )
    index_path = str(tmp_path / "ref-ivf")
    similarity.save_ivf_index(boot, index_path, n_centroids=2)
    grams_path = str(tmp_path / "ref-grams")
    pipeline.save_test_grams(
        spark.createDataFrame(
            [_doc(900, "held out benchmark sentence")], DOCS_SCHEMA
        ),
        grams_path,
    )

    sem_epochs: list = []
    write = corpus_ingest_sink(
        state_path, grams_path,
        on_pairs=lambda df, e: df.count(),
        on_flags=lambda df, e: df.count(),
        semantic_index_path=index_path,
        on_semantic_flags=lambda df, e: sem_epochs.append(df.count()),
    )
    before = sorted(
        r["vec_id"]
        for r in similarity.load_ivf_index(spark, index_path)[1]
        .select("vec_id")
        .collect()
    )
    for _ in range(2):  # a foreachBatch retry re-runs the SAME epoch
        with pytest.raises(ValueError, match="tombstoned"):
            write(batch, 0)
    after = sorted(
        r["vec_id"]
        for r in similarity.load_ivf_index(spark, index_path)[1]
        .select("vec_id")
        .collect()
    )
    assert after == before == [0, 1]  # index never mutated, no dup rows
    assert sem_epochs  # flags still delivered early (the split contract)


def test_semantic_sink_inline_compaction_folds_delta(spark, tmp_path):
    """compact_every on the SemDeDup sink (r12 review catch: the index
    sinks shipped the flat delta with NO inline fold, the exact silent
    no-compaction default ADVICE r11 flagged on the dedup sinks): with
    compact_every=1 each epoch ends with cells_delta folded into the
    partitioned base, and the NEXT epoch still judges against old+new —
    flags identical to an uncompacted run."""
    import os

    from flink_clickstream_processor_msk_spark.streaming.ingest import (
        semantic_dedup_ingest_sink,
    )

    base, _ = _base_and_drifted(spark)
    got_a: dict = {}
    got_b: dict = {}
    for label, sink_kwargs, got in (
        ("compact", {"compact_every": 1}, got_a),
        ("nocompact", {"compact_every": 0}, got_b),
    ):
        path = str(tmp_path / f"sem_{label}")
        similarity.save_ivf_index(base.filter(F.col("vec_id") < 60), path)
        write = semantic_dedup_ingest_sink(
            path,
            lambda df, e, g=got: g.update(
                (r["vec_id"], r["is_kept"]) for r in df.collect()
            ),
            **sink_kwargs,
        )
        write(base.filter((F.col("vec_id") >= 60) & (F.col("vec_id") < 80)), 0)
        write(base.filter(F.col("vec_id") >= 80), 1)
        has_delta = os.path.isdir(f"{path}/cells/delta")
        assert has_delta == (label == "nocompact"), label
        n = similarity._read_index_table(spark, path, "cells").count()
        assert n == 100, (label, n)
    assert got_a == got_b and set(got_a) == set(range(60, 100))


def test_index_ingest_sink_inline_compaction(spark, tmp_path):
    """index_ingest_sink compact_every: the appended delta folds back
    into the base on cadence; probes over the compacted index equal the
    uncompacted read."""
    import os

    from flink_clickstream_processor_msk_spark.streaming.ingest import (
        index_ingest_sink,
    )

    base, _ = _base_and_drifted(spark)
    path = str(tmp_path / "cmp_ivf")
    similarity.save_ivf_index(base.filter(F.col("vec_id") < 80), path)
    write = index_ingest_sink(path, kind="ivf", compact_every=1)
    write(base.filter(F.col("vec_id") >= 80), 0)
    assert not os.path.isdir(f"{path}/cells/delta")
    _, cells = similarity.load_ivf_index(spark, path)
    assert cells.count() == 100


def test_corpus_ingest_semantic_threshold_alone_refused(spark, tmp_path):
    """A semantic_threshold (or embedding_col override) without the
    index/callback pair is a silently-disabled embedding leg — refuse at
    construction (r12 review catch, the lm_path/min_avg_prob class)."""
    from flink_clickstream_processor_msk_spark.streaming.ingest import (
        corpus_ingest_sink,
    )

    for kwargs in (
        {"semantic_threshold": 0.9},
    ):
        with pytest.raises(ValueError, match="embedding leg"):
            corpus_ingest_sink(
                str(tmp_path / "state"), str(tmp_path / "grams"),
                on_pairs=lambda df, e: None,
                on_flags=lambda df, e: None,
                **kwargs,
            )


def test_tokenizer_ingest_sink_fertility_drift_fires_and_retrains(
    spark, tmp_path
):
    """Tokenizer drift monitoring (round 12 — the PQ-OOD pattern applied
    to the BPE artifact): in-domain batches score at the saved base
    fertility and never fire; a domain-shifted batch (words the merges
    never saw decompose toward characters) inflates cumulative fertility
    past factor × base and fires the retrain hook ONCE; after the hook
    re-trains on the grown corpus and re-saves with a fresh reference,
    the same shifted text no longer fires (counters + handles reset —
    the periodic-policy shape). Misconfiguration refuses loudly."""
    from flink_clickstream_processor_msk_spark.operators import text
    from flink_clickstream_processor_msk_spark.streaming.ingest import (
        tokenizer_ingest_sink,
    )

    base = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon alpha beta") for i in range(6)],
        "doc_id long, text string",
    )
    shifted = spark.createDataFrame(
        [(100 + i, "zq xw vq zq xw vq zq") for i in range(4)],
        "doc_id long, text string",
    )
    shifted2 = spark.createDataFrame(
        [(200 + i, "zq xw vq zq xw vq zq") for i in range(4)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "tok")
    text.save_bpe_merges(spark, text.train_bpe_merges(base, 24), path,
                         ref_docs=base)

    with pytest.raises(ValueError, match="tokenizer drift"):
        tokenizer_ingest_sink(path, lambda df, e: None,
                              fertility_retrain_factor=1.3)
    with pytest.raises(ValueError, match="tokenizer drift"):
        tokenizer_ingest_sink(path, lambda df, e: None,
                              retrain_hook=lambda s, e: None)

    fires: list[int] = []
    fertilities: list[float] = []

    def hook(s, epoch):
        fires.append(epoch)
        grown = base.unionByName(shifted)
        text.save_bpe_merges(
            s, text.train_bpe_merges(grown, 48), path, ref_docs=grown
        )

    def on_stats(df, epoch):
        agg = df.agg(
            (F.sum("n_bpe_tokens") / F.sum("n_word_tokens")).alias("f")
        ).first()
        fertilities.append(float(agg["f"]))

    write = tokenizer_ingest_sink(
        path, on_stats, retrain_hook=hook, fertility_retrain_factor=1.3
    )
    write(base.limit(3), 0)      # in-domain: no fire
    assert fires == []
    write(shifted, 1)            # shift: fertility inflates -> fire
    assert fires == [1]
    write(shifted2, 2)           # re-trained tokenizer covers the shift
    assert fires == [1]
    # the drift was real and the re-train absorbed it: shifted text read
    # far above base fertility under the stale merges, near-base after
    assert fertilities[1] > 1.3 * fertilities[0]
    assert fertilities[2] < fertilities[1]

    # missing sidecar: saved without ref_docs + monitoring on -> loud
    bare = str(tmp_path / "tok_bare")
    text.save_bpe_merges(spark, text.train_bpe_merges(base, 8), bare)
    w2 = tokenizer_ingest_sink(
        bare, lambda df, e: None,
        retrain_hook=lambda s, e: None, fertility_retrain_factor=1.3,
    )
    with pytest.raises(ValueError, match="fertility_ref"):
        w2(base.limit(2), 0)


def test_tokenizer_drift_tracks_current_stream_not_lifetime(
    spark, tmp_path
):
    """ADVICE r12: the r12 trigger compared LIFETIME pieces/words, so a
    long in-domain prefix diluted the denominator and a later genuine
    shift fired late or never. The windowed monitor (default: per-batch,
    the PQ-OOD per-epoch shape) fires on the FIRST shifted batch no
    matter how much in-domain volume preceded it; fertility_debounce
    rides out a one-off noisy shard; wordless batches leave the streak
    untouched; bad knobs refuse at construction."""
    from flink_clickstream_processor_msk_spark.operators import text
    from flink_clickstream_processor_msk_spark.streaming.ingest import (
        tokenizer_ingest_sink,
    )

    base = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon alpha beta")
         for i in range(6)],
        "doc_id long, text string",
    )
    shifted = spark.createDataFrame(
        [(100 + i, "zq xw vq zq xw vq zq") for i in range(4)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "tok_win")
    text.save_bpe_merges(spark, text.train_bpe_merges(base, 24), path,
                         ref_docs=base)

    with pytest.raises(ValueError, match="fertility_window"):
        tokenizer_ingest_sink(
            path, lambda df, e: None, retrain_hook=lambda s, e: None,
            fertility_retrain_factor=1.3, fertility_window=0,
        )

    fires: list[int] = []
    write = tokenizer_ingest_sink(
        path, lambda df, e: None,
        retrain_hook=lambda s, e: fires.append(e),
        fertility_retrain_factor=1.3,
    )
    # 10 in-domain epochs: under lifetime accounting this prefix would
    # hold the cumulative ratio near base long past the shift
    for e in range(10):
        write(base, e)
    assert fires == []
    write(shifted, 10)  # first shifted batch fires immediately
    assert fires == [10]

    # debounce=2: one shifted shard doesn't fire, two consecutive do;
    # an in-domain shard in between resets the streak
    fires2: list[int] = []
    write2 = tokenizer_ingest_sink(
        path, lambda df, e: None,
        retrain_hook=lambda s, e: fires2.append(e),
        fertility_retrain_factor=1.3, fertility_debounce=2,
    )
    write2(shifted, 0)
    assert fires2 == []
    write2(base, 1)     # streak resets
    write2(shifted, 2)
    assert fires2 == []
    # wordless batch: no fertility evidence, streak unchanged
    write2(spark.createDataFrame([(500, "   ")],
                                 "doc_id long, text string"), 3)
    write2(shifted, 4)
    assert fires2 == [4]

    # window=3, debounce=2 (the r13 review scenario): ONE noisy shard
    # followed by a WORDLESS shard must not fire — re-evaluating the
    # unchanged window would double-count the same evidence; only a
    # second worded exceedance may complete the streak
    fires3: list[int] = []
    write3 = tokenizer_ingest_sink(
        path, lambda df, e: None,
        retrain_hook=lambda s, e: fires3.append(e),
        fertility_retrain_factor=1.3,
        fertility_window=3, fertility_debounce=2,
    )
    write3(shifted, 0)
    assert fires3 == []
    write3(spark.createDataFrame([(600, "   ")],
                                 "doc_id long, text string"), 1)
    assert fires3 == []           # wordless: no second streak increment
    write3(shifted, 2)            # real second exceedance completes it
    assert fires3 == [2]


def test_sink_inline_compaction_defers_on_conflict(spark, tmp_path):
    """r13 review: the conflict refusal raising from INSIDE a sink's
    inline compaction cadence would strand the epoch in a permanently
    failing retry loop after both states already mutated. The sinks now
    warn and defer — the epoch completes, flags deliver, the batch is
    folded, and the conflicting delta survives for manual repair."""
    import warnings

    from flink_clickstream_processor_msk_spark.streaming.ingest import (
        semantic_dedup_ingest_sink,
    )

    base, _ = _base_and_drifted(spark)
    path = str(tmp_path / "sink_conflict")
    similarity.save_ivf_index(base.filter(F.col("vec_id") < 80), path)
    # plant the conflict: a live id re-appended with a different vector
    clash = base.filter(F.col("vec_id") == 7).select(
        "vec_id",
        F.transform("embedding", lambda x: x + F.lit(1.0)).alias(
            "embedding"
        ),
    )
    similarity.append_to_ivf_index(clash, path)

    flags: list[int] = []
    write = semantic_dedup_ingest_sink(
        path,
        lambda df, _e: flags.append(df.count()),
        compact_every=1,  # cadence fires on epoch 0
    )
    batch = base.filter(
        (F.col("vec_id") >= 80) & (F.col("vec_id") < 90)
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        write(batch, 0)  # must NOT raise
    assert any("deferring ivf index compaction" in str(w.message)
               for w in caught), [str(w.message) for w in caught]
    assert flags and flags[0] == 10  # flags delivered for the batch
    # the epoch's own fold landed despite the deferred compaction
    _, cells = similarity.load_ivf_index(spark, path)
    assert cells.filter(F.col("vec_id") >= 80).count() == 10
    # the conflict is still present (deferred, not silently collapsed)
    with pytest.raises(ValueError, match="CONFLICTING"):
        similarity.compact_index(spark, path, "ivf")


def test_compact_index_survives_full_tombstone_coverage(spark, tmp_path):
    """r13 review (runtime-verified bug): compacting after tombstones
    covered EVERY row wrote an empty partitionBy dir with no
    schema-bearing file, so every later load crashed with
    UNABLE_TO_INFER_SCHEMA and the pre-compaction data was already gone.
    The empty base must stay loadable and re-ingestable."""
    base, _ = _base_and_drifted(spark)
    small = base.filter(F.col("vec_id") < 10)
    path = str(tmp_path / "all_gone")
    similarity.save_ivf_index(small, path)
    similarity.delete_from_index(spark, path, list(range(10)))
    similarity.compact_index(spark, path, "ivf")  # must not destroy
    _, cells = similarity.load_ivf_index(spark, path)
    assert cells.count() == 0
    # deleted ids are re-ingestable after the physical drop
    similarity.append_to_ivf_index(small.filter(F.col("vec_id") < 3), path)
    _, cells = similarity.load_ivf_index(spark, path)
    assert cells.count() == 3
    # and the next non-empty compaction restores the partitioned layout
    similarity.compact_index(spark, path, "ivf")
    assert similarity.load_ivf_index(spark, path)[1].count() == 3


def test_lsh_append_uses_saved_n_planes(spark, tmp_path):
    """r13 review: appends bucketed under the DEFAULT plane count while
    the base was saved with a different one, putting appended vectors in
    a different code space (probes silently miss them). The lsh_meta
    sidecar pins the save-time n_planes for appends."""
    base, _ = _base_and_drifted(spark)
    path = str(tmp_path / "lsh12")
    similarity.save_lsh_index(base.filter(F.col("vec_id") < 80), path,
                              n_planes=12)
    assert similarity.saved_lsh_n_planes(spark, path) == 12
    newer = base.filter(F.col("vec_id") >= 80)
    similarity.append_to_lsh_index(newer, path)
    # appended buckets must equal a 12-plane rebuild of the same rows
    from flink_clickstream_processor_msk_spark.operators.dedup import (
        build_lsh_index,
    )

    want = {
        (r["vec_id"], r["bucket"])
        for r in build_lsh_index(newer, 12).select("vec_id", "bucket").collect()
    }
    got = {
        (r["vec_id"], r["bucket"])
        for r in similarity.load_lsh_index(spark, path)
        .filter(F.col("vec_id") >= 80)
        .select("vec_id", "bucket")
        .collect()
    }
    assert got == want
    # a missing sidecar (crashed or foreign layout) is refused, never
    # silently read as the default plane count
    import shutil

    shutil.rmtree(f"{path}/buckets/lsh_meta")
    with pytest.raises(ValueError, match="lsh_meta"):
        similarity.saved_lsh_n_planes(spark, path)


def test_save_index_clears_stale_tombstones(spark, tmp_path):
    """r13 review: a re-save cleared the stale delta but NOT deleted_ids,
    so a full re-train's freshly rebuilt rows were silently suppressed at
    every load (and physically dropped at the next compact). A re-save
    states 'this is the corpus now' — old-generation tombstones die with
    the old generation."""
    base, _ = _base_and_drifted(spark)
    path = str(tmp_path / "resave")
    similarity.save_ivf_index(base, path)
    similarity.delete_from_index(spark, path, [5])
    assert similarity.load_ivf_index(spark, path)[1].filter(
        F.col("vec_id") == 5
    ).count() == 0
    similarity.save_ivf_index(base, path)  # full re-train incl. vec 5
    assert similarity.load_ivf_index(spark, path)[1].filter(
        F.col("vec_id") == 5
    ).count() == 1
    assert similarity.load_index_tombstones(spark, path) is None


def _stage_lsh_generation(spark, base, path, n_planes):
    """Replay save_lsh_index's staging (data + lsh_meta inside
    ``buckets_new``) WITHOUT the installing swap — the crash-just-before-
    rename simulation shared by the self-heal and atomicity tests."""
    from flink_clickstream_processor_msk_spark.operators import lsm
    from flink_clickstream_processor_msk_spark.operators.similarity import (
        build_lsh_index,
    )

    idx = build_lsh_index(base, n_planes=n_planes)
    lsm.write_base_staged(idx, path, "buckets", ("bucket",))
    idx.unpersist()
    spark.createDataFrame([(n_planes,)], "n_planes int").coalesce(
        1
    ).write.mode("overwrite").parquet(
        f"{lsm.staged_dir(path, 'buckets')}/lsh_meta"
    )


def test_lsh_first_save_crash_self_heal_keeps_n_planes(spark, tmp_path):
    """r16 (generation install): the lsh_meta sidecar is staged INSIDE
    the generation, so a first save with non-default n_planes crashing
    just before the swap leaves a COMPLETE staged generation — the next
    read self-heals it and the healed index resolves its saved n_planes,
    never the default. (Pre-r16 the meta lived outside the generation
    and a pick-your-poison write ordering decided which crash window
    existed; neither ordering could protect both saves and self-heals.)"""
    import os

    base, _ = _base_and_drifted(spark)
    path = str(tmp_path / "lsh_heal")
    _stage_lsh_generation(spark, base, path, n_planes=32)
    assert os.path.isdir(f"{path}/buckets_new") and not os.path.isdir(
        f"{path}/buckets"
    )
    healed = similarity.load_lsh_index(spark, path)  # self-heal install
    assert os.path.isdir(f"{path}/buckets")
    assert healed.count() == base.count()
    assert similarity.saved_lsh_n_planes(spark, path) == 32  # NOT default


def test_lsh_resave_crash_before_swap_keeps_old_generation_whole(
    spark, tmp_path
):
    """r16 atomicity (closes the documented r15 trade): a RE-save with a
    DIFFERENT n_planes crashing anywhere before the swap leaves the old
    generation fully live — saved_lsh_n_planes still answers the OLD
    planes and probes still route over the OLD buckets (pre-r16, the
    meta-first ordering had a window spanning the whole staged base
    write where the NEW meta silently fronted the OLD-plane buckets)."""
    base, _ = _base_and_drifted(spark)
    path = str(tmp_path / "lsh_resave")
    similarity.save_lsh_index(base, path, n_planes=12)
    assert similarity.saved_lsh_n_planes(spark, path) == 12
    # crash-interrupted re-save: the new generation is fully staged
    # (data + meta) but the swap never ran
    _stage_lsh_generation(spark, base, path, n_planes=32)
    assert similarity.saved_lsh_n_planes(spark, path) == 12  # OLD meta
    idx = similarity.load_lsh_index(spark, path)
    want = {
        (r["vec_id"], r["bucket"])
        for r in similarity.build_lsh_index(base, n_planes=12)
        .select("vec_id", "bucket").collect()
    }
    got = {(r["vec_id"], r["bucket"]) for r in idx.collect()}
    assert got == want  # OLD-plane buckets, consistent with the OLD meta
    # re-running the crashed save converges to the new generation
    similarity.save_lsh_index(base, path, n_planes=32)
    assert similarity.saved_lsh_n_planes(spark, path) == 32


def test_append_dedup_state_heals_interrupted_swap(spark, tmp_path):
    """r15 review #2: an append landing in save/compact's delete-rename
    crash window (live minhash_state missing, staged dir present) must
    FINISH the swap before writing — a bare mode('append') would create
    a fresh live dir holding only the batch, permanently orphan the
    staged corpus (self_heal_swap no-ops once the live dir exists), and
    the next compact would silently rebuild the banded base from that
    batch-only source of truth."""
    import os
    import shutil

    corpus, new = _corpus_and_batch(spark)
    path = str(tmp_path / "append_heal")
    dedup.save_dedup_state(corpus, path)
    # simulate the crash window: live dir deleted, staged dir present
    shutil.move(f"{path}/minhash_state", f"{path}/minhash_state_new")

    dedup.append_dedup_state(dedup.batch_dedup_state(new), path)
    assert not os.path.isdir(f"{path}/minhash_state_new")  # swap finished
    got = dedup.load_dedup_state(spark, path)
    assert got.count() == corpus.count() + new.count()  # corpus intact
    # and the banded read still covers corpus ∪ batch after a compact
    dedup.compact_dedup_state(spark, path)
    assert (
        dedup.load_banded_state(spark, path).select("doc_id").distinct().count()
        == corpus.count() + new.count()
    )


def test_save_dedup_state_clears_stale_journal(spark, tmp_path):
    """r15 (shared LSM core, VERDICT r14 #2): the dedup side had the
    SAME latent re-save hazards the index side fixed in r13 — a re-save
    over a live banded_delta left stale rows unioned into every read,
    and a re-save over live tombstones silently suppressed freshly saved
    docs. Both die with the old generation — since r16 ATOMICALLY, the
    journal living inside the directory the swap replaces."""
    import os

    corpus, new = _corpus_and_batch(spark)
    path = str(tmp_path / "resave_state")
    dedup.save_dedup_state(corpus, path)
    dedup.append_dedup_state(dedup.batch_dedup_state(new), path)
    dedup.delete_from_dedup_state(spark, path, [1])
    assert os.path.isdir(f"{path}/banded_state/delta")
    assert os.path.isdir(f"{path}/minhash_state/deleted_ids")
    n_corpus_rows = (
        dedup._banded_frame(
            dedup._signatures_from_sets(dedup.shingle_hashes(corpus)),
            dedup.state_ptmod(spark, path),
        ).count()
    )

    dedup.save_dedup_state(corpus, path)  # re-save: this is the corpus now
    assert not os.path.exists(f"{path}/banded_state/delta")
    assert not os.path.exists(f"{path}/minhash_state/deleted_ids")
    banded = dedup.load_banded_state(spark, path)
    # no stale delta rows for `new`'s docs, no suppressed doc 1
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    assert banded.filter(F.col("doc_id").isin(list(new_ids))).count() == 0
    assert banded.filter(F.col("doc_id") == 1).count() > 0
    assert banded.count() == n_corpus_rows
    sigs = dedup.load_dedup_state(spark, path)
    assert sigs.count() == corpus.count()
    assert sigs.filter(F.col("doc_id") == 1).count() == 1


def test_index_sink_refuses_unmonitored_retrain_hook(spark, tmp_path):
    """r13 review (narrowed in r14 — ivfpq is now monitored): a
    retrain_hook on kinds without trained codebooks (ivf, lsh) would
    silently never fire while the caller believes drift is covered —
    refuse at construction, the half-configured-trigger rule."""
    from flink_clickstream_processor_msk_spark.streaming.ingest import (
        index_ingest_sink,
    )

    for kind in ("ivf", "lsh"):
        with pytest.raises(ValueError, match="only monitored for kind"):
            index_ingest_sink(
                str(tmp_path / "idx"), kind=kind,
                retrain_hook=lambda s, e: None,
            )


def test_ivfpq_index_sink_ood_monitor_fires(spark, tmp_path):
    """r14 (closing the r13 named follow-up): save_ivfpq_index writes the
    ood_ref sidecar, and index_ingest_sink(kind='ivfpq') runs the same
    cumulative-OOD monitor as the standalone PQ sink — the composed
    layout's PQ half drifts identically. A drifted stream fires the hook
    exactly once; the re-save resets the reference."""
    from flink_clickstream_processor_msk_spark.streaming.ingest import (
        index_ingest_sink,
    )

    base, drifted = _base_and_drifted(spark)
    seen = [base]
    path = str(tmp_path / "ivfpq_mon")
    similarity.save_ivfpq_index(base, path)
    assert similarity.load_pq_ood_ref(spark, path) is not None
    fired: list[int] = []

    def retrain(sp, epoch_id):
        fired.append(epoch_id)
        corpus = seen[0]
        for b in seen[1:]:
            corpus = corpus.unionByName(b)
        similarity.save_ivfpq_index(corpus, path)

    write = index_ingest_sink(path, kind="ivfpq", retrain_hook=retrain)
    batches = [drifted.filter((F.col("vec_id") % 4) == i) for i in range(4)]
    for epoch, b in enumerate(batches):
        seen.append(b)
        write(b, epoch)
    # base_n=100; first 25-vector drifted batch -> 25/125 = 20% OOD > 10%
    assert fired == [0], fired
    # the refreshed table carries base + all appended vectors exactly once
    total = sum(df.count() for df in seen)
    cents, cbs, table = similarity.load_ivfpq_index(spark, path)
    assert table.select("vec_id").distinct().count() == total
    assert table.count() == total


def test_pq_codebooks_refuse_indivisible_dim(spark):
    """r13 review: dim % m != 0 silently truncated the trailing dims from
    codes, ADC, and the OOD monitor alike."""
    emb = spark.createDataFrame(
        [(i, [float(i)] * 65) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="not divisible"):
        similarity.pq_codebooks(emb, m=8)


def test_staged_save_crash_windows_self_heal(spark, tmp_path):
    """r16 generation-install crash windows (the r14 staged-install
    pinning, re-pinned on the atomic layout):

    (a) a FIRST save crashing between the completed staging (data +
        sidecars inside {sub}_new) and the swap leaves {sub}_new only —
        the next read self-heals by renaming, and the healed generation
        is COMPLETE (sidecars travel inside it);
    (b) a RE-save crashing anywhere before the swap leaves the OLD
        generation fully live — base, sidecars, delta, tombstones all
        still consistent (the expensive window carries no partial
        state, and the journal cannot be cleared early: it dies only
        WITH the swap);
    (c) re-running the crashed save converges to the new generation
        with an empty journal."""
    base, drifted = _base_and_drifted(spark)
    path = str(tmp_path / "heal")

    # (a) simulate a first-save crash after staging completes but
    # before the swap: run the save's stages by hand, skipping the swap
    from flink_clickstream_processor_msk_spark.operators import lsm
    from flink_clickstream_processor_msk_spark.operators.similarity import (
        _write_centroids_sidecar,
        build_ivf_index,
    )

    cents, cells = build_ivf_index(base)
    lsm.write_base_staged(cells, path, "cells", ("cell",))
    _write_centroids_sidecar(spark, lsm.staged_dir(path, "cells"), cents)
    cells.unpersist()
    import os

    assert os.path.isdir(f"{path}/cells_new") and not os.path.isdir(
        f"{path}/cells"
    )
    got_cents, got_rows = similarity.load_ivf_index(spark, path)  # self-heal
    assert os.path.isdir(f"{path}/cells") and not os.path.isdir(
        f"{path}/cells_new"
    )
    assert got_cents == cents and got_rows.count() == base.count()

    # (b) re-save crash with staging complete, swap never run: the old
    # generation (with a live delta + tombstone) must stay intact
    similarity.append_to_ivf_index(drifted, path)
    similarity.delete_from_index(spark, path, [3])
    n_old = similarity.load_ivf_index(spark, path)[1].count()
    cents2, cells2 = build_ivf_index(base.unionByName(drifted))
    lsm.write_base_staged(cells2, path, "cells", ("cell",))
    _write_centroids_sidecar(spark, lsm.staged_dir(path, "cells"), cents2)
    cells2.unpersist()  # crash here: staged generation never installed
    healed = similarity.load_ivf_index(spark, path)[1]
    assert healed.count() == n_old  # old base ∪ delta, tombstone applied
    assert healed.filter(F.col("vec_id") == 3).count() == 0
    # the OLD sidecar still fronts the OLD base (no mixed window)
    assert similarity._load_centroids(spark, path) == cents

    # (c) re-running the full save converges: new generation, journal gone
    similarity.save_ivf_index(base.unionByName(drifted), path)
    final = similarity.load_ivf_index(spark, path)[1]
    assert final.count() == base.count() + drifted.count()
    assert final.filter(F.col("vec_id") == 3).count() == 1  # deletes died with old gen
    assert similarity.load_index_tombstones(spark, path) is None
    assert not os.path.isdir(f"{path}/cells/delta")


def test_semantic_decon_sink_matches_batch_flags(spark, tmp_path):
    """The streaming embedding-decontamination gate (r14):
    save_benchmark_embeddings writes the benchmark once; a 2-batch replay
    of the train vectors through semantic_decon_ingest_sink reproduces
    decontaminate_semantic's exact hit counts and flags (stateless gate —
    the benchmark broadcast resolves once per sink); the saved-scorer
    form agrees; an oversized benchmark refuses at SAVE time."""
    from flink_clickstream_processor_msk_spark.operators import pipeline
    from flink_clickstream_processor_msk_spark.streaming.ingest import (
        semantic_decon_ingest_sink,
    )

    def vec(i, j=None):
        v = [0.0] * 64
        v[i] = 1.0
        if j is not None:
            v[j] = 1.0
        return v

    test = spark.createDataFrame(
        [(1000, vec(0)), (1001, vec(1))],
        "vec_id long, embedding array<float>",
    )
    train = spark.createDataFrame(
        [(0, vec(0)), (1, vec(0, 1)), (2, vec(2)), (3, vec(1)), (4, vec(3))],
        "vec_id long, embedding array<float>",
    )
    path = str(tmp_path / "benchmark")
    pipeline.save_benchmark_embeddings(test, path)

    want = {
        r["vec_id"]: (r["n_test_hits"], r["contaminated"])
        for r in pipeline.decontaminate_semantic(train, test, threshold=0.7).collect()
    }
    assert want == {0: (1, True), 1: (2, True), 2: (0, False), 3: (1, True), 4: (0, False)}

    saved = {
        r["vec_id"]: (r["n_test_hits"], r["contaminated"])
        for r in pipeline.decontaminate_semantic_saved(
            train, path, threshold=0.7
        ).collect()
    }
    assert saved == want

    src = str(tmp_path / "src")
    train.filter(F.col("vec_id") < 2).coalesce(1).write.mode("append").parquet(src)
    train.filter(F.col("vec_id") >= 2).coalesce(1).write.mode("append").parquet(src)
    got: list = []
    write = semantic_decon_ingest_sink(
        path, lambda df, e: got.extend(df.collect()), threshold=0.7
    )
    q = (
        spark.readStream.schema(train.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(write)
        .option("checkpointLocation", str(tmp_path / "decon_ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert {
        r["vec_id"]: (r["n_test_hits"], r["contaminated"]) for r in got
    } == want

    with pytest.raises(ValueError, match="max_test_rows"):
        pipeline.save_benchmark_embeddings(test, str(tmp_path / "b2"), max_test_rows=1)


def test_banded_resave_crash_keeps_modulus_and_base_paired(spark, tmp_path):
    """r16 (ADVICE r15 low): the banded_ptmod marker is staged INSIDE the
    generation, so a re-save with a CHANGED n_buckets crashing before the
    swap leaves the OLD marker paired with the OLD base — probes keep
    routing correctly (pre-r16 the marker was overwritten at the state
    root BEFORE the swap, exactly the silent probe-miss modulus mismatch
    the module guards against). Re-running the save converges."""
    from flink_clickstream_processor_msk_spark.operators import lsm

    corpus, new = _corpus_and_batch(spark)
    path = str(tmp_path / "modulus_atomic")
    dedup.save_dedup_state(corpus, path, n_buckets=32)
    assert dedup.state_ptmod(spark, path) == 32

    # crash-interrupted re-save with a different modulus: both staging
    # dirs complete (data + marker inside banded_state_new), no swap
    state = dedup.batch_dedup_state(corpus)
    try:
        lsm.write_base_staged(
            state.select("doc_id", "shingles", "signature"),
            path, "minhash_state", (),
        )
        dedup._stage_banded_generation(state, path, 64)
    finally:
        state.unpersist()
    assert dedup.state_ptmod(spark, path) == 32  # OLD marker, OLD base
    # probes against the (old) state still resolve every corpus member
    b = dedup.batch_dedup_state(new)
    try:
        got = {
            t[:2]
            for t in _pairs_set(
                dedup.incremental_minhash_pairs(
                    b, None, max_bucket_size=None,
                    corpus_banded=dedup.load_banded_state(spark, path),
                    corpus_ptmod=dedup.state_ptmod(spark, path),
                )
            )
        }
    finally:
        b.unpersist()
    assert len(got) > 0  # near-dup partners still found, no silent miss

    dedup.save_dedup_state(corpus, path, n_buckets=64)  # re-run converges
    assert dedup.state_ptmod(spark, path) == 64
    spark.catalog.clearCache()


def test_dedup_state_layout_is_generation_only(spark, tmp_path):
    """The generation layout is the ONLY on-disk shape: through save →
    append → delete → compact, the dedup state root holds nothing but
    its two generation dirs — the journal (delta, tombstones) and the
    banded_ptmod marker live inside their generations."""
    import os

    corpus, new = _corpus_and_batch(spark)
    path = str(tmp_path / "dedup_layout")

    def root():
        return set(os.listdir(path))

    dedup.save_dedup_state(corpus, path)
    assert root() == {"minhash_state", "banded_state"}
    assert os.path.isdir(f"{path}/banded_state/banded_ptmod")
    state = dedup.batch_dedup_state(new)
    try:
        dedup.append_dedup_state(state, path)
    finally:
        state.unpersist()
    assert os.path.isdir(f"{path}/banded_state/delta")
    dedup.delete_from_dedup_state(spark, path, [1])
    assert os.path.isdir(f"{path}/minhash_state/deleted_ids")
    assert root() == {"minhash_state", "banded_state"}

    dedup.compact_dedup_state(spark, path)
    assert root() == {"minhash_state", "banded_state"}
    assert set(os.listdir(f"{path}/banded_state")) >= {"data", "banded_ptmod"}
    assert not os.path.exists(f"{path}/banded_state/delta")
    assert not os.path.exists(f"{path}/minhash_state/deleted_ids")
    assert dedup.state_ptmod(spark, path) == dedup.NUM_STATE_BUCKETS
    spark.catalog.clearCache()


def test_index_layout_is_generation_only(spark, tmp_path):
    """The index twin: through save → append → delete → compact, an IVF
    index root holds only its ``cells`` generation, with the centroids
    sidecar and the journal inside it."""
    import os

    base, drifted = _base_and_drifted(spark)
    path = str(tmp_path / "ivf_layout")
    similarity.save_ivf_index(base, path)
    assert set(os.listdir(path)) == {"cells"}
    assert os.path.isdir(f"{path}/cells/centroids")
    similarity.append_to_ivf_index(drifted, path)
    assert os.path.isdir(f"{path}/cells/delta")
    similarity.delete_from_index(spark, path, [0])
    assert os.path.isdir(f"{path}/cells/deleted_ids")
    assert set(os.listdir(path)) == {"cells"}

    similarity.compact_index(spark, path, "ivf")
    assert set(os.listdir(path)) == {"cells"}
    assert set(os.listdir(f"{path}/cells")) >= {"data", "centroids"}
    assert not os.path.exists(f"{path}/cells/delta")
    assert not os.path.exists(f"{path}/cells/deleted_ids")
    assert (
        similarity.load_ivf_index(spark, path)[1].count()
        == base.count() + drifted.count() - 1
    )
    spark.catalog.clearCache()
