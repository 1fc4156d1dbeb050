"""Deduplication operators for training-data pipelines (SURVEY.md §7.1 M6).

Four families, each with the scale-path shape it needs at 100 TB:

- exact: content-hash groupBy — one shuffle on a 60-bit hash, no text
  comparison; map-side combine keeps the exchange tiny.
- MinHash + LSH: shingle → signature → band buckets; the only shuffle keys
  are (band, band_key), so candidate generation never compares all pairs
  (O(n·bands) exploded rows, not O(n²)); exact Jaccard runs only on
  band-collision candidates.
- SimHash: 32-bit fingerprint, banded into 4 bytes — Hamming-distance
  candidates via byte-equality buckets (same no-cross-join property).
- embedding cosine: deterministic random-hyperplane LSH buckets, exact
  cosine verification within buckets only.

Joins, banding, and verification are pure Catalyst; per-document array
compute — md5 feature extraction (shingle/n-gram/token hashing) and the
MinHash signature matrix — runs as Arrow-batched pandas UDFs (hashlib +
numpy), measured 2-5× faster than the equivalent `transform`-lambda
expressions, whose per-element HOF lambdas run interpreted. Every formula
has an exact SQL twin in oracles_beyond.py.
"""

from __future__ import annotations

import hashlib
import math

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

from flink_clickstream_processor_msk_spark.functions.parallel import (
    one_slice_rows,
    parallelized as _parallelized,
)
from flink_clickstream_processor_msk_spark.functions.hashing import (
    H28_MOD,
    MOD_P,
    h60,
    perm_coefficients,
)
from flink_clickstream_processor_msk_spark.operators import lsm
from flink_clickstream_processor_msk_spark.operators.text import SHINGLE_K

N_PERMS = 16
N_BANDS = 4  # rows per band = N_PERMS // N_BANDS = 4
SIMHASH_BITS = 32
SIMHASH_BANDS = 4  # 8 bits per band -> Hamming candidates
JACCARD_THRESHOLD = 0.5
COSINE_THRESHOLD = 0.30
N_PLANES = 8

# Production default for the LSH bucket skew cap: a giant duplicate family
# (boilerplate pages in a web corpus) of m members emits m·(m-1)/2 pairs in
# ONE bucket — the 10× scaling run (PLANS.md "Dedup") showed pair-count, not
# corpus size, drives cost, so the cap is on by default at library entry
# points. 512 members → ≤130 k pairs per bucket, comfortably sub-quadratic;
# the oracle-checked configurations pass ``max_bucket_size=None`` explicitly
# to keep candidate generation exact.
MAX_BUCKET_SIZE_DEFAULT = 512


def _materialized(df: DataFrame) -> DataFrame:
    """Mark a derived table for reuse across join branches.

    Candidate-pair self-joins and verification joins reference the
    signature/fingerprint table 2–4×; without materialization Spark
    recomputes the full hash pipeline from the scan per branch (broadcast
    joins leave no exchange to reuse). At 100 TB the equivalent step is
    writing the signature table to storage between the two passes; within
    one job, a spillable persist is that materialization."""
    return df.persist(StorageLevel.MEMORY_AND_DISK)


def _tracked(df: DataFrame, scratch: list | None) -> DataFrame:
    """``_materialized`` with the caller-release contract (the r12 sweep
    of VERDICT r11 wrong #1): the persisted frame is appended to
    ``scratch`` when the caller passes a list, giving long-running apps a
    release path. Unlike the LM/tfidf scorers the persist itself stays ON
    by default — these are the signature/fingerprint tables the CLAUDE.md
    hard rule covers (broadcast joins leave no exchange to reuse; the
    un-persisted recompute measured 3-5×), so silently skipping the cache
    on the default path would regress every caller."""
    df = _materialized(df)
    if scratch is not None:
        scratch.append(df)
    return df


def checkpoint_backed(df: DataFrame) -> DataFrame:
    """Tag a frame the caller just ``localCheckpoint()``ed so
    :func:`ensure_persisted` leaves it untouched. An explicit repo-owned
    marker (r16, VERDICT r15 #2) instead of probing the analyzed plan's
    Java class name through py4j: the repo checkpoints exactly the
    frames it tags, so the tag cannot drift with Spark internals, and a
    broad exception fallback is no longer needed."""
    df._spark_graft_checkpoint_backed = True
    return df


def ensure_persisted(df: DataFrame) -> DataFrame:
    """Re-mark a shared derived table for persist after an external
    ``spark.catalog.clearCache()``: index/pairs tables feed self-joins and
    repeated probes, and an unpersisted plan would re-run the signature
    pipeline per branch. Persisting an already-persisted frame at the same
    level is a no-op, so this is safe to call on every access.

    A checkpoint-backed frame (tagged by :func:`checkpoint_backed` — the
    r15 pairs artifact) is returned untouched: its blocks already live
    in the block manager, the lineage-cut plan CANNOT recompute, and a
    persist mark would only materialize a second copy of the same rows
    per clearCache cycle (r15 review #5)."""
    if getattr(df, "_spark_graft_checkpoint_backed", False):
        return df
    sl = df.storageLevel
    if not (sl.useMemory or sl.useDisk):
        df.persist(StorageLevel.MEMORY_AND_DISK)
    return df


# --- exact -----------------------------------------------------------------

def exact_duplicates(documents: DataFrame) -> DataFrame:
    """Exact dedup: keep the lowest doc_id per identical text.

    Output: one row per distinct content (doc_id = representative,
    group_size = #copies). ``group_size > 1`` rows are the duplicates.
    """
    return (
        documents.groupBy(h60(F.col("text")).alias("content_hash"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).cast("int").alias("group_size"),
        )
        .select("doc_id", "content_hash", "group_size")
    )


# --- MinHash + LSH ---------------------------------------------------------

def shingle_hashes(
    documents: DataFrame, k: int = SHINGLE_K, fenced: bool = False
) -> DataFrame:
    """(doc_id, distinct word-k-gram hash array) — basis for MinHash &
    Jaccard; ``k`` defaults to the repo-wide SHINGLE_K (3, the
    oracle-checked config) and is tunable per caller (decontamination at
    GPT-3/Pile-practice k=13, for instance — see pipeline.decontaminate).

    Arrow-batched Python, not Catalyst expressions, deliberately: md5 over
    ~150 shingles/doc inside `transform` lambdas runs interpreted (HOFs
    don't codegen) and parses hex through `conv` — measured 5× slower than
    hashlib's C md5 at sf0.1. Same formula as the SQL oracle either way.

    ``fenced=True`` marks the kernel asNondeterministic — an optimizer
    fence, not a semantics change (the kernel is pure). Callers that
    EXPLODE the shingle array must pass it: Catalyst infers a size()>0
    filter from Generate, pushes it below the parallelize exchange, and
    DUPLICATES the ArrowEvalPython — the md5 kernel ran twice over the
    full corpus (two ArrowEvalPython nodes in
    plans/r16/decontaminate_before.txt, one feeding only the pushed
    filter; guide §4.4, r16). It must stay OFF for the MinHash signature
    path: a fence breaks ExtractPythonUDFs' chaining of
    ``sig(sh28(text))`` into ONE eval node, adding a JVM↔Python round
    trip of every shingle array (measured as a 1→2 eval-node plan
    regression when the fence was briefly global, r16).
    """
    from flink_clickstream_processor_msk_spark.functions.grams import (
        ascii_words,
        md5_60,
        word_grams,
    )

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sh28(texts: pd.Series) -> pd.Series:
        # shingles repeat across documents (boilerplate, common phrases);
        # one md5 per distinct shingle per Arrow batch, dict hits after
        cache: dict[str, int] = {}

        def go(text: str | None) -> list[int] | None:
            if text is None:
                return None  # NULL propagation, as the Catalyst form had
            grams = set(word_grams(ascii_words(text), k))
            out = set()
            for g in grams:
                h = cache.get(g)
                if h is None:
                    h = md5_60(g) % H28_MOD
                    cache[g] = h
                out.add(h)
            return sorted(out)

        return texts.map(go)

    if fenced:
        sh28 = sh28.asNondeterministic()

    return _parallelized(documents).select("doc_id", sh28("text").alias("shingles"))


def _signatures_from_sets(sets_: DataFrame) -> DataFrame:
    """MinHash signature per doc over any distinct-hash feature array
    (word shingles, char n-grams, …): for each affine permutation, the min
    over the doc's feature hashes. No explode, no shuffle.

    Vectorized with numpy inside a pandas UDF: the equivalent
    ``array_min(transform(...))`` per permutation runs N_PERMS interpreted
    passes over each feature array. Broadcasting ``(a·h + b) mod P`` over
    (n_feats × N_PERMS) and taking the column min stays in C. Values are
    exact (int64: a < 2^30, h < 2^28 ⇒ a·h + b < 2^59)."""
    import numpy as np

    coeffs = perm_coefficients(N_PERMS)
    a_vec = np.array([a for a, _ in coeffs], dtype=np.int64)
    b_vec = np.array([b for _, b in coeffs], dtype=np.int64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig(feats: pd.Series) -> pd.Series:
        def go(hs) -> list[int] | None:
            # parity with array_min(transform(...)): NULL/empty feature
            # arrays degrade to NULL signature entries, not a job kill
            if hs is None or len(hs) == 0:
                return [None] * len(a_vec)
            h = np.asarray(hs, dtype=np.int64)[:, None]
            return ((h * a_vec + b_vec) % MOD_P).min(axis=0).tolist()

        return feats.map(go)

    return sets_.select("doc_id", "shingles", sig("shingles").alias("signature"))


def minhash_signatures(documents: DataFrame) -> DataFrame:
    """MinHash signatures over word-3-gram shingle sets."""
    return _signatures_from_sets(shingle_hashes(documents))


def _banded(
    signatures: DataFrame,
    max_bucket_size: int | None = None,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_id, band_idx, band_key) rows — the LSH banding step, shared by
    the batch candidate join and the incremental ingest path so the
    band-key formula (and the bucket-cap semantics: keep the
    ``max_bucket_size`` LOWEST doc_ids per bucket) cannot desync.
    ``carry`` propagates extra columns (e.g. shingles) through the
    explode, one copy per band row.

    The geometry is the module's ``N_PERMS``/``N_BANDS``, never a
    parameter: the banded state records its bucket modulus but not its
    band layout, so a save, append, probe or compact under a different
    band count would route band keys differently and probes would
    silently miss candidates."""
    rows = N_PERMS // N_BANDS
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_idx"),
                F.concat_ws(
                    "-", *[F.col("signature")[i * rows + j] for j in range(rows)]
                ).alias("band_key"),
            )
            for i in range(N_BANDS)
        ]
    )
    banded = signatures.select(
        "doc_id", *carry, F.explode(bands).alias("band")
    ).select("doc_id", *carry, "band.band_idx", "band.band_key")
    return _cap_buckets(banded, max_bucket_size)


def _cap_buckets(banded: DataFrame, max_bucket_size: int | None) -> DataFrame:
    """Apply the skew cap to (doc_id, band_idx, band_key) rows: keep the
    ``max_bucket_size`` LOWEST doc_ids per bucket. Shared by ``_banded``
    (batch: cap over the full corpus) and the pre-banded probe path of
    :func:`incremental_minhash_pairs` (cap over corpus ∪ new restricted to
    the probed buckets — identical per-bucket, since the rank of a doc in
    a bucket depends only on that bucket's membership)."""
    if max_bucket_size is None:
        return banded
    from pyspark.sql import Window

    rank = F.row_number().over(
        Window.partitionBy("band_idx", "band_key").orderBy("doc_id")
    )
    return (
        banded.withColumn("_rank", rank)
        .filter(F.col("_rank") <= max_bucket_size)
        .drop("_rank")
    )


def _bucket_pairs(banded: DataFrame, keys: list, member: Column) -> DataFrame:
    """Ordered candidate pairs per LSH bucket via ONE exchange of the
    banded rows (guide §2.3 — shuffle fewer bytes; r17, VERDICT r16 #3):
    group by the bucket key with a partial-aggregated ``collect_list``,
    sort members (by the member's id — the struct's FIRST field or the
    bare id column, unique within a bucket, so the order is a
    deterministic total order), and expand each member against the
    strictly-later slice — exactly the ``a.id < b.id`` self-join
    predicate, emitting the m·(m-1)/2 ordered pairs directly.

    This REPLACES the banded self-join everywhere: the join shape moves
    the banded table TWICE through its exchange (or, at bench scale,
    broadcasts a corpus×N_BANDS-row build side — impossible long before
    100 TB under the 8 GB broadcast cap, after which AQE degrades it to a
    sort-merge join shuffling both sides) and recomputes the banding per
    join branch; this shape shuffles the banded bytes ONCE at any scale,
    bands once, and drops singleton buckets (the vast majority of
    buckets) in the ``size >= 2`` filter before any pair work exists.
    NULL bucket keys must be filtered by the CALLER where they can occur
    (a join on key equality drops them; groupBy would unite them).

    Returns columns ``a``/``b`` — the member values, ``a`` strictly lower
    — for the caller's verify/select step."""
    buckets = (
        banded.groupBy(*keys)
        .agg(F.sort_array(F.collect_list(member)).alias("ms"))
        .filter(F.size("ms") >= 2)
    )
    return buckets.select(F.posexplode("ms").alias("i", "a"), "ms").select(
        "a",
        F.explode(F.slice("ms", F.col("i") + F.lit(2), F.size("ms"))).alias(
            "b"
        ),
    )


def lsh_candidate_pairs(
    signatures: DataFrame, max_bucket_size: int | None = None
) -> DataFrame:
    """Band the signatures and emit candidate pairs per band collision.

    The shuffle key is (band_idx, band_key): docs only meet if an entire
    band of their signatures agrees — the classic S-curve knob.

    ``max_bucket_size`` is the 100 TB skew guard: a family of m mutual
    duplicates puts m docs in one bucket and emits m·(m-1)/2 pairs — a
    single giant family (common in web corpora: boilerplate pages) turns
    one reducer quadratic. Capping keeps the ``max_bucket_size`` lowest
    doc_ids per bucket; duplicates still chain to their family's
    representatives through the surviving members. Default None preserves
    exact candidate generation (the oracle-checked configuration).

    Pair generation is the one-exchange grouped expansion
    (:func:`_bucket_pairs`), not a self-join — same pair set, half the
    banded-table shuffle. band_key is never NULL (concat_ws), so the
    groupBy and the join-equality null semantics coincide."""
    banded = _banded(signatures, max_bucket_size)
    return (
        _bucket_pairs(banded, ["band_idx", "band_key"], F.col("doc_id"))
        .select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"))
        .distinct()
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays."""
    return F.size(F.array_intersect(a, b)) / F.size(F.array_union(a, b))


def minhash_near_duplicates(
    documents: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    max_bucket_size: int | None = MAX_BUCKET_SIZE_DEFAULT,
    scratch: list | None = None,
) -> DataFrame:
    """Full fuzzy-dedup pipeline: LSH candidates → exact-Jaccard verify.

    ``max_bucket_size`` defaults to the production skew cap
    (``MAX_BUCKET_SIZE_DEFAULT``); pass ``None`` for exact candidate
    generation (the oracle-checked configuration). ``scratch``: receives
    the persisted signature table for caller release."""
    return _lsh_verified_pairs(
        shingle_hashes(documents), "jaccard", threshold, max_bucket_size,
        scratch=scratch,
    )


def save_pairs(pairs: DataFrame, path: str) -> None:
    """Write a verified near-dup pairs table — the cluster-scale artifact
    the session cache stands in for locally (PLANS.md "Duplicate
    families"): the LSH pipeline runs ONCE to build pairs; family
    resolution, corpus cleaning, and dedup audits then read the written
    table instead of re-shingling the corpus. Plain parquet — consumers
    scan it whole (no routing column to prune on) and it is
    pair-count-sized, tiny next to the corpus it indexes."""
    pairs.write.mode("overwrite").parquet(path)


def load_pairs(spark, path: str) -> DataFrame:
    """Read a saved pairs table; plugs into
    ``minhash_duplicate_families(..., pairs=...)`` and
    ``pipeline.clean_corpus(..., pairs=...)``."""
    return spark.read.parquet(path)


# --- incremental ingest dedup ------------------------------------------------
# The 100 TB ingest pattern: shingling + signing the corpus is the dominant
# cost of the fuzzy-dedup pipeline, and it is a per-DOCUMENT cost — so it
# should be paid once per document EVER, not once per ingest batch. The
# corpus keeps a written (doc_id, shingles, signature) state table; each
# new batch is shingled/signed alone, banded against the saved state, and
# only pairs TOUCHING the new batch are generated and verified. The corpus
# text is never re-read (the API does not even accept it).


#: default number of hash partitions the banded state is routed into per
#: band. A probe batch of m docs touches ≈ min(m, n_buckets) partitions
#: per band, so the read fraction of the corpus's banded state is
#: ≈ m / n_buckets for micro-batches — size n_buckets to the expected
#: corpus/batch ratio (64 suits local tests; a 100 TB corpus ingesting
#: 10 k-doc batches wants 2^12-2^14). The value used at write time is
#: self-described by the table's constant ``ptmod`` column (RLE-compressed
#: to nothing), so probes never have to be told it out of band — a
#: mismatch would silently prune WRONG partitions.
NUM_STATE_BUCKETS = 64

BANDED_STATE_SCHEMA = (
    "doc_id long, band_key string, shingles array<long>, band_idx int, "
    "pt int, ptmod int"
)


def _state_bucket(band_key: Column, n_buckets) -> Column:
    """Deterministic partition route for a band_key: crc32 (stable across
    Spark versions and sessions — the write and every later probe must
    agree) folded into ``n_buckets``."""
    return F.pmod(F.crc32(band_key), F.lit(n_buckets).cast("bigint")).cast(
        "int"
    )


def _banded_frame(state: DataFrame, n_buckets: int) -> DataFrame:
    """The banded state table as a frame: UNCAPPED (the cap is a
    probe-time policy — rank over corpus ∪ new; baking it into the saved
    table would freeze the corpus-only ranking); shingles ride along
    (N_BANDS× duplication on disk) so a probe verifies candidates from
    the pruned read alone — no corpus-wide doc_id→shingles join scan per
    batch."""
    return (
        _banded(state, carry=("shingles",))
        .withColumn("pt", _state_bucket(F.col("band_key"), n_buckets))
        .withColumn("ptmod", F.lit(n_buckets))
    )


def _write_ptmod_marker(spark, gen_dir: str, n_buckets: int) -> None:
    """Persist the modulus INDEPENDENTLY of row count: an empty corpus
    writes no partition files (the ptmod column then has no row to
    self-describe with), and before this marker existed the first
    append after an empty-corpus bootstrap silently fell back to the
    default modulus, discarding a configured n_buckets (ADVICE r8).
    Written INTO the (staged) generation dir (r16, ADVICE r15 low): the
    marker installs atomically with the base it describes, so no crash
    or concurrent read can pair a new modulus with an old base."""
    one_slice_rows(spark, [(n_buckets,)], "ptmod int").write.mode(
        "overwrite"
    ).parquet(f"{gen_dir}/banded_ptmod")


def _stage_banded_generation(
    state: DataFrame, path: str, n_buckets: int
) -> None:
    """Build the staged banded generation: clustered data write
    (``repartition(band_idx, pt)`` before ``partitionBy`` — the 5×
    probe-read splinter lesson, enforced in
    :func:`lsm.write_base_staged`) + the ptmod marker, both inside
    ``banded_state_new``; the journal is empty by construction. The
    caller installs it with ONE :func:`lsm.swap_base` rename."""
    lsm.write_base_staged(
        _banded_frame(state, n_buckets), path, "banded_state", ("band_idx", "pt"),
    )
    _write_ptmod_marker(
        state.sparkSession, lsm.staged_dir(path, "banded_state"), n_buckets
    )


def state_ptmod(spark, path: str) -> int:
    """The banded state's bucket modulus: the ``banded_ptmod`` marker
    written inside the generation (row-count-independent — the
    empty-corpus bootstrap keeps its configured modulus). Every state
    starts with :func:`save_dedup_state`, which always writes it, so a
    missing marker means a crashed or foreign layout and is refused
    loudly. One tiny-file read; ingest sinks resolve this ONCE and
    thread it through probe + append instead of paying two footer-read
    jobs per micro-batch (VERDICT r8 wrong #3)."""
    from pyspark.errors import AnalysisException

    p = lsm.sidecar_path(spark, path, "banded_state", "banded_ptmod")
    try:
        row = spark.read.parquet(p).first()
    except AnalysisException:
        row = None
    if row is None:
        raise ValueError(
            f"no banded_ptmod marker at {p}; save_dedup_state first"
        )
    return row["ptmod"]


def save_dedup_state(
    documents: DataFrame, path: str, n_buckets: int = NUM_STATE_BUCKETS
) -> None:
    """Write the corpus's minhash state: (doc_id, shingles, signature) —
    the amortized artifact :func:`incremental_minhash_pairs` checks new
    batches against — PLUS the pre-banded
    (doc_id, band_key, shingles | band_idx, pt) table hash-partitioned by
    (band_idx, pt). The banded table is what makes per-batch probe cost
    corpus-independent: a new batch touches ≈ min(batch, n_buckets)
    partitions per band, the probe reads ONLY those (partition pruning,
    plan-asserted in tests/test_incremental.py) instead of re-banding
    corpus ∪ new per ingest batch (the round-7 corpus-proportional term),
    and the carried shingles let it verify candidates without a
    corpus-wide doc_id→shingles join scan. Cost of that last property:
    the banded table stores shingles ``N_BANDS``× (space-for-time; the
    signature state remains the compact 1× copy).

    r16 (generation layout, VERDICT r15 #1): each table is a GENERATION
    directory — data + sidecars + journal — installed by ONE rename, so
    a re-save's journal reset (``delta`` + ``deleted_ids`` emptied) and
    its ptmod marker land ATOMICALLY with the base they belong to; the
    pre-r16 few-fs-ops windows (old base live with its tombstones
    cleared; a new marker fronting an old base) no longer exist. Both
    expensive writes land in staging dirs while the old generations stay
    fully live; then the source of truth swaps first. The one remaining
    cross-table window — a crash between the two swaps leaves the new
    ``minhash_state`` (whose tombstones died with it) fronting the old
    banded generation, whose stale rows and previously-deleted docs stay
    probe-visible — heals at the next :func:`compact_dedup_state` (or a
    save re-run), which rebuilds the banded table from the NEW truth;
    truth-first ordering is what makes that healer converge to the
    intended save rather than reverting it."""
    state = batch_dedup_state(documents)
    spark = state.sparkSession
    try:
        lsm.write_base_staged(state, path, "minhash_state", ())
        _stage_banded_generation(state, path, n_buckets)
        lsm.swap_base(spark, path, "minhash_state")
        lsm.swap_base(spark, path, "banded_state")
    finally:
        state.unpersist()


def append_dedup_state(
    new_state: DataFrame, path: str, resolved_ptmod: int | None = None
) -> None:
    """Fold a new batch's state rows (as returned by
    :func:`batch_dedup_state`) into the saved state, so the NEXT ingest
    batch is checked against old + new. The bucket modulus is the one
    the state was saved with (the ``banded_ptmod`` marker,
    :func:`state_ptmod` — it survives an empty-corpus bootstrap), never
    a caller's: a different modulus would route the same band_key to a
    different partition and probes would silently miss corpus members.
    ``resolved_ptmod`` lets a long-running ingest sink thread the
    marker it already read, skipping the per-batch marker read.

    The banded rows go to the generation's FLAT ``delta``, not into the
    partitioned base: a dynamic-partition append commits one file per
    touched (band_idx, pt) directory — measured 3.6-5.7 s of committer
    overhead for a 500-doc batch (~250 directories) vs 0.2 s flat. The
    LSM answer: appends are cheap and flat, probes read base ∪ delta
    (the delta is recent-appends-sized and its (band_idx, pt) filter
    pushes down as an ordinary row-group filter), and
    :func:`compact_dedup_state` periodically rebuilds the partitioned
    base from the signature table and clears the delta."""
    spark = new_state.sparkSession
    # a live tombstone would silently suppress the re-added rows at
    # every read — refuse until compaction clears it (shared guard)
    lsm.refuse_tombstoned(
        new_state, path, "minhash_state", "doc_id",
        "compact_dedup_state", "documents",
    )
    n_buckets = (
        resolved_ptmod if resolved_ptmod is not None else state_ptmod(spark, path)
    )
    # lsm.data_path self-heals any interrupted swap BEFORE the append
    # (r15 review #2, now enforced inside the lsm resolvers): a
    # mode("append") parquet write into a missing live dir CREATES it,
    # after which self_heal_swap no-ops forever — the staged corpus would
    # be orphaned and the next compact (which rebuilds the banded base
    # from minhash_state, the source of truth) would silently shrink the
    # corpus to the appended batches. ONE file per append (here and in
    # lsm.append_delta): uncoalesced, ~5000 tiny delta files put the
    # probe at 8.7 s — file-open-bound (tools/measure_compaction_cadence.py)
    new_state.select("doc_id", "shingles", "signature").coalesce(1).write.mode(
        "append"
    ).parquet(lsm.data_path(spark, path, "minhash_state"))
    lsm.append_delta(_banded_frame(new_state, n_buckets), path, "banded_state")


def load_dedup_state(spark, path: str) -> DataFrame:
    """The signature state, minus tombstoned ids. The lsm resolver
    self-heals an interrupted swap first: if the live generation is gone
    but the staging dir ``minhash_state_new`` survived (crash between a
    save/compact's delete and rename), the rename is finished before
    reading."""
    return apply_tombstones(
        spark, path, spark.read.parquet(lsm.data_path(spark, path, "minhash_state"))
    )


def _banded_or_empty(spark, read) -> DataFrame:
    """Degrade a banded-leg read to an empty contract-schema frame: a
    zero-row corpus writes no partition directories (Spark emits no
    files under ``partitionBy`` for an empty frame) and a fresh state
    has no delta yet, so schema inference fails on either leg."""
    from pyspark.errors import AnalysisException

    cols = ("doc_id", "band_idx", "band_key", "shingles", "pt", "ptmod")
    try:
        return read().select(*cols)
    except AnalysisException:
        return one_slice_rows(spark, [], BANDED_STATE_SCHEMA).select(*cols)


def load_banded_base(spark, path: str) -> DataFrame:
    """The partitioned banded BASE alone (written by
    :func:`save_dedup_state` / :func:`compact_dedup_state`). Its file
    listing is pinned at read time, and the base only changes at
    compaction — so a long-running ingest sink reads it ONCE and re-reads
    only the delta per batch (re-resolving after compaction). The lsm
    resolver self-heals an interrupted install first."""
    return _banded_or_empty(
        spark,
        lambda: spark.read.parquet(lsm.data_path(spark, path, "banded_state")),
    )


def load_banded_delta(spark, path: str) -> DataFrame:
    """The flat append DELTA alone (:func:`append_dedup_state`) — the
    per-batch re-read: appends-sized, a small flat dir listing."""
    return _banded_or_empty(
        spark,
        lambda: spark.read.parquet(
            lsm.delta_path(spark, path, "banded_state")
        ),
    )


def load_banded_state(spark, path: str) -> DataFrame:
    """Read the pre-banded corpus state: partitioned base ∪ flat delta,
    minus any tombstoned doc_ids (:func:`delete_from_dedup_state`)."""
    return apply_tombstones(
        spark,
        path,
        load_banded_base(spark, path).unionByName(
            load_banded_delta(spark, path)
        ),
    )


# --- deletion (LSM tombstones) ----------------------------------------------
# Real corpora shrink as well as grow (takedowns, license revocations,
# opt-outs). An append-only dedup state would keep emitting pairs against
# ghost documents forever, so deletion follows the same LSM shape as
# appends: a delete is a cheap flat tombstone write, every read applies
# tombstones (a broadcast anti-join against the small id list), and
# compaction physically drops the rows and clears the tombstones.
#
# SINGLE-WRITER CONTRACT (appends + compaction): one owner mutates a state
# path at a time — the shape streaming/ingest.py enforces naturally (the
# sink serializes epochs and calls compact BETWEEN them via compact_every).
# An append racing a foreign compaction can land its delta rows after the
# compact's state read but before its delta delete; those rows stay safe in
# minhash_state (the source of truth — the next compact restores them) but
# probes would MISS them until then. Deletes and reads are race-free (flat
# appends / read-time filters). Cross-JOB coordination needs an external
# lock or a manifest layer (Delta/Iceberg) — out of scope here.


def delete_from_dedup_state(spark, path: str, doc_ids) -> None:
    """Tombstone documents out of the dedup state: subsequent probes
    generate no pairs against them (the filter applies at READ time, so
    in-flight state handles see deletes on their next epoch), and the
    next :func:`compact_dedup_state` removes their rows physically and
    clears the tombstones. ``doc_ids``: an iterable of ids or a
    DataFrame with a ``doc_id`` column. O(ids) flat write — the
    append-side LSM discipline applied to deletes.

    Re-adding a tombstoned id before a compaction has run is REFUSED by
    :func:`append_dedup_state` (the tombstone would silently suppress
    the re-added rows — delete-then-readd requires a compact between).

    Tombstones live INSIDE the ``minhash_state`` generation (r16): the
    source of truth owns its deletes, so a save/compact clears them
    atomically with the corpus rewrite they became physical in."""
    lsm.write_tombstones(spark, path, "minhash_state", doc_ids, "doc_id")


def load_deleted_ids(spark, path: str) -> DataFrame | None:
    """The live tombstone set, or None when no deletes are pending
    (:func:`lsm.load_tombstones` — one filesystem stat in the no-delete
    common case)."""
    return lsm.load_tombstones(spark, path, "minhash_state")


def apply_tombstones(spark, path: str, df: DataFrame) -> DataFrame:
    """Filter a state read against the live tombstones
    (:func:`lsm.apply_tombstones` on doc_id: a broadcast LEFT ANTI join;
    no plan node at all when no deletes are pending)."""
    return lsm.apply_tombstones(spark, path, "minhash_state", df, "doc_id")


def compact_dedup_state(spark, path: str) -> None:
    """Fold the flat append delta back into the partitioned banded base —
    the periodic maintenance a high-frequency ingest schedules (the LSM
    compaction). The base is REBUILT from ``minhash_state`` (the
    append-only source of truth the banded table is derivable from), so
    no read-modify-write of the partitioned dir is needed; the delta is
    deleted afterwards. Crash between the two steps leaves delta rows
    duplicated in the base — probes stay correct for pair GENERATION
    (candidates are de-duplicated), but duplicated rows each occupy a
    skew-cap rank slot, so re-run compact (idempotent) before relying on
    capped probes again (pinned in tests/test_incremental.py).

    When tombstones are pending (:func:`delete_from_dedup_state`), the
    rebuild reads the FILTERED state, so the new base physically drops
    deleted rows; ``minhash_state`` itself is rewritten as a fresh
    generation whose empty journal IS the tombstone clear — atomic with
    the corpus that made the deletes physical (r16) — after which the
    deleted ids may be re-ingested.

    Swap order (r16): banded FIRST, then minhash. A crash between the
    two leaves the new (filtered) banded generation over the old
    ``minhash_state``, whose tombstones are STILL LIVE inside it — every
    read stays consistent (old data minus tombstones == the filtered
    state just installed) and a compact re-run is a plain retry. The
    reverse order would open a window where tombstoned rows resurface in
    banded probes. Contrast :func:`save_dedup_state`, where truth-first
    is what lets a later compact COMPLETE a crashed save instead of
    reverting it — the orders differ because compact derives from the
    old truth while save replaces it."""
    n_buckets = state_ptmod(spark, path)
    had_tombstones = load_deleted_ids(spark, path) is not None
    state = _materialized(load_dedup_state(spark, path))
    try:
        _stage_banded_generation(state, path, n_buckets)
        if had_tombstones:
            # physical removal from the source of truth: a fresh
            # generation (no tombstones) staged before either swap
            lsm.write_base_staged(
                state.select("doc_id", "shingles", "signature"),
                path, "minhash_state", (),
            )
        lsm.swap_base(spark, path, "banded_state")
        if had_tombstones:
            lsm.swap_base(spark, path, "minhash_state")
    finally:
        state.unpersist()


def batch_dedup_state(new_docs: DataFrame) -> DataFrame:
    """Shingle + sign ONE ingest batch (persisted: it feeds both the band
    join and the verify join in :func:`incremental_minhash_pairs`, and is
    then appended to the corpus state)."""
    return _materialized(_signatures_from_sets(shingle_hashes(new_docs)))


def incremental_minhash_pairs(
    new_state: DataFrame,
    corpus_state: DataFrame | None,
    threshold: float = JACCARD_THRESHOLD,
    max_bucket_size: int | None = MAX_BUCKET_SIZE_DEFAULT,
    corpus_banded: DataFrame | None = None,
    corpus_ptmod: int | None = None,
    scratch: list | None = None,
) -> DataFrame:
    """Verified near-dup pairs that TOUCH the new batch — (new × corpus)
    and (new × new) — without re-shingling or re-signing the corpus.

    Exactly the batch pipeline's pairs restricted to the new batch
    (pinned in tests/test_incremental.py): banding, the bucket cap (rank
    over the UNION of corpus + new, identical to a full-batch run), and
    the exact-Jaccard verify all share the batch code paths; the only
    structural change is that the candidate join probes the new batch's
    bands against the union instead of self-joining the union — candidate
    cost is O(new bands × bucket occupancy), independent of corpus size.

    With ``corpus_banded`` (the pre-banded table written by
    :func:`save_dedup_state`, via :func:`load_banded_state`), the corpus
    is NOT re-banded per batch either, and the corpus-wide verify scan
    disappears too: the new batch's bands are banded alone, their
    ≈ min(batch, n_buckets) touched (band_idx, pt) partitions per band
    are collected driver-side, the saved banded table is read with
    partition pruning, and candidates are verified from the shingles
    CARRIED in the probed rows — per-batch corpus cost is the pruned read
    alone, O(batch/n_buckets × corpus-bucket occupancy). The cap ranks
    over (probed corpus buckets ∪ new), which equals the legacy
    rank-over-full-union within every probed bucket (rank is
    per-bucket), and untouched buckets cannot produce new-touching pairs
    — pinned equal in tests/test_incremental.py. Without it, the legacy
    corpus ∪ new re-band runs (O(corpus) explode per batch — the round-7
    caveat).

    Scale shape (probe path): one shuffle-free band explode over the NEW
    batch, one pruned scan + (band_idx, band_key) join, exact Jaccard
    inline on collisions (re-computed per colliding band, deduped by
    ``distinct`` — Jaccard is deterministic and symmetric, so duplicate
    collision rows collapse exactly).

    ``corpus_ptmod`` (from :func:`state_ptmod`, resolved once by a
    long-running sink) skips the per-call modulus footer read; with it,
    ``corpus_state`` may be ``None`` — the probe path never touches the
    signature table. ``scratch``: the probe persists the new batch's
    banded table (it feeds the touched-partition collect AND the pair
    join); pass a list to receive that handle for unpersisting after the
    pairs are consumed — per-epoch callers that skip this leak one cached
    table per call (ADVICE r8)."""
    new_ids = new_state.select("doc_id")
    if corpus_banded is not None:
        new_banded = _materialized(
            _banded(new_state, carry=("shingles",))
        )
        if scratch is not None:
            scratch.append(new_banded)
        if corpus_ptmod is not None:
            row = {"ptmod": corpus_ptmod}
        else:
            row = corpus_banded.select("ptmod").first()
        if row is None:
            corpus_touched = None  # brand-new corpus: new×new pairs only
        else:
            n_buckets = row["ptmod"]
            # driver-bounded: ≤ N_BANDS × n_buckets rows, whatever the
            # batch size — the collect that makes static partition
            # pruning possible on the saved banded table
            touched = (
                new_banded.select(
                    "band_idx",
                    _state_bucket(F.col("band_key"), n_buckets).alias("pt"),
                )
                .distinct()
                .collect()
            )
            by_band: dict[int, set[int]] = {}
            for r in touched:
                by_band.setdefault(r["band_idx"], set()).add(r["pt"])
            pred = F.lit(False)
            for band_idx in sorted(by_band):
                pred = pred | (
                    (F.col("band_idx") == band_idx)
                    & F.col("pt").isin(sorted(by_band[band_idx]))
                )
            # exact-bucket restriction beyond partition granularity: only
            # corpus rows whose whole (band_idx, band_key) bucket the new
            # batch actually touches take part in ranking + pairing
            corpus_touched = (
                corpus_banded.filter(pred)
                .join(
                    new_banded.select("band_idx", "band_key").distinct(),
                    ["band_idx", "band_key"],
                    "left_semi",
                )
                .select("doc_id", "band_idx", "band_key", "shingles")
            )
        probe_cols = ("doc_id", "band_idx", "band_key", "shingles")
        union_rows = new_banded.select(*probe_cols)
        if corpus_touched is not None:
            union_rows = corpus_touched.unionByName(union_rows)
        capped = _cap_buckets(union_rows, max_bucket_size)
        a = capped.join(new_ids, "doc_id", "left_semi").alias("a")
        b = capped.alias("b")
        return (
            a.join(
                b,
                (F.col("a.band_idx") == F.col("b.band_idx"))
                & (F.col("a.band_key") == F.col("b.band_key"))
                & (F.col("a.doc_id") != F.col("b.doc_id")),
            )
            .select(
                F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
                F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias(
                    "doc_b"
                ),
                jaccard(F.col("a.shingles"), F.col("b.shingles")).alias(
                    "jaccard"
                ),
            )
            .filter(F.col("jaccard") >= threshold)
            .distinct()
        )
    if corpus_state is None:
        raise ValueError(
            "corpus_state is required when corpus_banded is not given"
        )
    all_state = corpus_state.select(
        "doc_id", "shingles", "signature"
    ).unionByName(new_state.select("doc_id", "shingles", "signature"))
    banded_all = _banded(all_state, max_bucket_size)
    banded_new = banded_all.join(new_ids, "doc_id", "left_semi")
    a, b = banded_new.alias("a"), banded_all.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
        )
        .distinct()
    )
    feats = all_state.select("doc_id", "shingles")
    return (
        pairs.join(
            feats.withColumnRenamed("doc_id", "doc_a").withColumnRenamed(
                "shingles", "sh_a"
            ),
            "doc_a",
        )
        .join(
            feats.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                "shingles", "sh_b"
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _lsh_verified_pairs(
    sets_: DataFrame,
    sim_col: str,
    threshold: float,
    max_bucket_size: int | None = MAX_BUCKET_SIZE_DEFAULT,
    scratch: list | None = None,
) -> DataFrame:
    """Shared fuzzy-dedup scaffold: MinHash-LSH candidates over a
    (doc_id, shingles) feature-set frame, then exact-Jaccard verification
    of candidates only. At 100 TB the only shuffles are the band-bucket
    join and the two feature-set joins — never an all-pairs compare.
    ``scratch``: receives the persisted signature table for caller
    release (:func:`_tracked`)."""
    sigs = _tracked(_signatures_from_sets(sets_), scratch)
    pairs = lsh_candidate_pairs(sigs, max_bucket_size)
    feats = sigs.select("doc_id", "shingles")
    return (
        pairs.join(feats.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("shingles", "sh_a"), "doc_a")
        .join(feats.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("shingles", "sh_b"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            jaccard(F.col("sh_a"), F.col("sh_b")).alias(sim_col),
        )
        .filter(F.col(sim_col) >= threshold)
    )


NGRAM_N = 5
NGRAM_JACCARD_THRESHOLD = 0.35


def char_ngram_hashes(documents: DataFrame, n: int = NGRAM_N) -> DataFrame:
    """(doc_id, distinct char-n-gram 28-bit hash array). Character n-grams
    are the tokenizer-free dedup feature space — robust to whitespace and
    punctuation edits that break word shingles. Arrow-batched Python for
    the same measured reason as :func:`shingle_hashes`."""
    import hashlib as _hl

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def ng28(texts: pd.Series) -> pd.Series:
        # char n-grams repeat heavily across documents (the n-gram space of
        # natural text is small): one md5 per distinct gram per Arrow batch
        cache: dict[str, int] = {}

        def go(text: str | None) -> list[int] | None:
            if text is None:
                return None
            m = max(len(text) - (n - 1), 1)
            grams = {text[i : i + n] for i in range(m)}
            out = set()
            for g in grams:
                h = cache.get(g)
                if h is None:
                    h = int(_hl.md5(g.encode()).hexdigest()[:15], 16) % H28_MOD
                    cache[g] = h
                out.add(h)
            return sorted(out)

        return texts.map(go)

    return _parallelized(documents).select("doc_id", ng28("text").alias("shingles"))


def ngram_jaccard_near_duplicates(
    documents: DataFrame,
    n: int = NGRAM_N,
    threshold: float = NGRAM_JACCARD_THRESHOLD,
    max_bucket_size: int | None = MAX_BUCKET_SIZE_DEFAULT,
    scratch: list | None = None,
) -> DataFrame:
    """Char-n-gram Jaccard near-dups: MinHash-LSH candidates over the
    n-gram sets, exact n-gram Jaccard verification. ``max_bucket_size``
    and ``scratch`` as in :func:`minhash_near_duplicates`."""
    return _lsh_verified_pairs(
        char_ngram_hashes(documents, n), "ngram_jaccard", threshold,
        max_bucket_size=max_bucket_size, scratch=scratch,
    )


# --- duplicate families (connected components) -----------------------------

# Below this many (directed) edge rows the whole pair graph is streamed to
# the driver and solved there: each distributed label-propagation round
# costs a join + groupBy + scalar action, pure scheduler overhead for a
# small graph. The bound prices PYTHON heap, not raw longs: 200k edge
# tuples (streamed via toLocalIterator, never a full Row list) plus a
# ≤400k-entry union-find dict is tens of MB of driver heap — comfortably
# bounded on a default driver. Larger graphs take the distributed path.
SMALL_GRAPH_EDGE_ROWS = 200_000


def _union_find_min_labels(edge_rows) -> dict:
    """Union-find with path compression and union-by-min: the root of every
    set is always the minimum id it contains, so find(v) after all unions is
    exactly the distributed min-label fixpoint (same contract as the DuckDB
    recursive-CTE oracle and tests/test_dedup_model.py:_model_components)."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_rows:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def connected_components(
    edges: DataFrame,
    src: str,
    dst: str,
    max_iterations: int = 50,
    small_graph_edge_rows: int = SMALL_GRAPH_EDGE_ROWS,
    stats: dict | None = None,
) -> DataFrame:
    """(id, component) for every vertex of an undirected pair graph, where
    component = the minimum vertex id in the connected component.

    Dedup pipelines need this step to go from near-dup PAIRS to "keep one
    document per duplicate FAMILY": pairs chain (A~B, B~C => A,B,C are one
    family) and the family representative must be consistent across chains.

    Size-adaptive: the pair graph is the set of NEAR-DUPLICATE pairs, which
    is tiny relative to the corpus in the common case — below
    ``small_graph_edge_rows`` the (already counted, bounded) edge list is
    collected and solved with driver-side union-find in one job. Above it,
    alternating LARGE-STAR / SMALL-STAR contraction (Kiveris et al. 2014,
    "Connected Components in MapReduce and Beyond" — the public
    MapReduce-era algorithm): large-star hangs every
    larger-than-center neighbor off the neighborhood minimum, small-star
    hangs the smaller neighbors (and the center) off it, and the
    alternation contracts every component into a star rooted at its
    minimum id in O(log² n) rounds REGARDLESS of diameter. The min-label
    propagation it replaced (round 12) converged in O(component diameter)
    rounds — a transitive dup CHAIN of length L (exactly what near-dup
    families produce) cost L join+groupBy rounds; the star alternation
    takes ~log L (measured, PLANS.md "Round-12 measured scaling notes":
    a 1200-edge chain converges in 12 rounds / 10.5 s vs 1201
    diameter-bound rounds / ~498 s projected from the measured per-round
    cost). Convergence is detected by an edge-set fingerprint
    (count + sum of xxhash64, the cheap per-round check) and CONFIRMED
    with one exceptAll equality job before returning — the fingerprint
    never decides alone. Both paths produce the same deterministic output
    (min id) — hash-comparable against the DuckDB recursive-CTE oracle.
    ``stats``: optional dict that receives ``{"path": "driver"|"star",
    "rounds": n}`` — the observability hook the round-12 measurement
    and the chain test read.
    """
    spark = edges.sparkSession
    id_type = edges.schema[src].dataType
    # one count on the (caller-persisted) pair table decides the path; the
    # symmetric doubling is implicit (2 directed rows per pair)
    n_pairs = edges.count()
    if n_pairs == 0:
        return edges.select(
            F.col(src).alias("id"), F.col(dst).alias("lbl")
        ).limit(0)

    if 2 * n_pairs <= small_graph_edge_rows:
        labels = _union_find_min_labels(
            (r[0], r[1]) for r in edges.select(src, dst).toLocalIterator()
        )
        schema = T.StructType(
            [T.StructField("id", id_type), T.StructField("lbl", id_type)]
        )
        if stats is not None:
            stats.update(path="driver", rounds=0)
        return spark.createDataFrame(sorted(labels.items()), schema)

    vertices = _materialized(
        edges.select(F.col(src).alias("id"))
        .union(edges.select(F.col(dst).alias("id")))
        .distinct()
    )
    # canonical (a > b) orientation; both star steps preserve it.
    # localCheckpoint (not persist) per round: each round's plan embeds
    # ~12 copies of the previous round's subtree (E appears in sym twice,
    # sym in mins/large, large in mins2/new_e), so WITHOUT lineage
    # truncation Catalyst re-analyzes an exponentially growing tree —
    # measured 2.7 → 3.1 → 13.4 s → stalled by round 4 on a 120-edge
    # chain. Cluster deployments swap in checkpoint() on reliable storage.
    E = (
        edges.select(
            F.greatest(F.col(src), F.col(dst)).alias("a"),
            F.least(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )

    def _fingerprint(df: DataFrame):
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("h"),
        ).first()
        return row["n"], row["h"]

    fp = _fingerprint(E)
    for rounds in range(1, max_iterations + 1):
        # LARGE-STAR: for every center u, attach each neighbor v > u to
        # m(u) = min(Γ(u) ∪ {u}); one groupBy + one join, output stays
        # (bigger, smaller)-oriented because v > u ≥ m
        sym = E.select("a", "b").union(
            E.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        mins = (
            sym.groupBy("a")
            .agg(F.min("b").alias("m"))
            .select("a", F.least("m", "a").alias("m"))
        )
        large = (
            sym.join(mins, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .distinct()
        )
        # SMALL-STAR: for every center u over its smaller neighbors
        # Γ⁻(u), attach u and each v ∈ Γ⁻(u) \ {m} to m = min(Γ⁻(u));
        # the (bigger, smaller) orientation means Γ⁻ is just the b column
        mins2 = large.groupBy("a").agg(F.min("b").alias("m"))
        new_e = (
            large.join(mins2, "a")
            .filter(F.col("b") != F.col("m"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .union(mins2.select("a", F.col("m").alias("b")))
            .distinct()
            .localCheckpoint()
        )
        new_fp = _fingerprint(new_e)
        if new_fp == fp:
            # fingerprints collide only adversarially; confirm with the
            # sound set-equality check before trusting the fixpoint
            # (equal counts + empty one-direction difference ⇒ equal sets)
            if new_e.exceptAll(E).limit(1).count() == 0:
                # converged: every non-root vertex carries exactly one
                # (vertex, component-min) edge; roots label themselves
                labels = _materialized(
                    vertices.join(
                        new_e.select(
                            F.col("a").alias("id"), F.col("b").alias("lbl")
                        ),
                        "id",
                        "left",
                    ).select("id", F.coalesce("lbl", "id").alias("lbl"))
                )
                labels.count()
                vertices.unpersist()
                if stats is not None:
                    stats.update(path="star", rounds=rounds)
                return labels
        E = new_e
        fp = new_fp
    # non-convergence exit: release the persisted vertex table so a
    # caller that catches and retries doesn't accumulate cached frames
    # (the r12 review catch)
    vertices.unpersist()
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} rounds"
    )


def minhash_duplicate_families(
    documents: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    max_bucket_size: int | None = MAX_BUCKET_SIZE_DEFAULT,
    pairs: DataFrame | None = None,
    small_graph_edge_rows: int = SMALL_GRAPH_EDGE_ROWS,
    cc_stats: dict | None = None,
) -> DataFrame:
    """Near-dup pairs (MinHash-LSH + exact Jaccard) resolved into duplicate
    families: one row per document that has at least one near-duplicate,
    labeled with its family representative (min doc_id in the family) and
    the family size. Downstream "keep one per family" is then a filter
    (``doc_id == family_rep``).

    Size-adaptive like ``connected_components``: below the small-graph
    threshold the collected labels are already on the driver, so family
    sizes come from the same dict — the whole query is two Spark jobs
    (count + collect) plus a local-relation result, with no window
    exchange. Above it, distributed components + a window count.

    ``pairs`` lets the caller supply an already-built (and ideally
    persisted) ``minhash_near_duplicates`` result, so a suite that runs
    pairs + families + clean_corpus builds the LSH pipeline once — the
    cluster-scale analog is resolving families from a written pairs table
    rather than re-shingling the corpus.

    ``small_graph_edge_rows``/``cc_stats`` forward to
    :func:`connected_components` (pass 0 to force the distributed
    star path; ``cc_stats`` receives its ``{"path", "rounds"}``
    observability dict, with ``path="driver", rounds=0`` when this
    function's own union-find fast path answers first) — the hooks the
    PLANS.md "Round-13 measured scaling notes" measurement drove.
    """
    from collections import Counter

    from pyspark.sql import Window

    # materialized: the pair table is read twice (count/branch decision,
    # then collect or the symmetric union), which would re-run the LSH
    # verify join per branch
    if pairs is None:
        pairs = minhash_near_duplicates(documents, threshold, max_bucket_size)
    pairs = ensure_persisted(pairs)
    n_pairs = pairs.count()
    if 2 * n_pairs <= small_graph_edge_rows:
        if cc_stats is not None:
            cc_stats.update({"path": "driver", "rounds": 0})
        labels = _union_find_min_labels(
            (r[0], r[1]) for r in pairs.select("doc_a", "doc_b").collect()
        )
        sizes = Counter(labels.values())
        id_type = pairs.schema["doc_a"].dataType
        schema = T.StructType(
            [
                T.StructField("doc_id", id_type),
                T.StructField("family_rep", id_type),
                T.StructField("family_size", T.IntegerType()),
            ]
        )
        rows = sorted((doc, rep, sizes[rep]) for doc, rep in labels.items())
        return documents.sparkSession.createDataFrame(rows, schema)

    cc = connected_components(
        pairs,
        "doc_a",
        "doc_b",
        small_graph_edge_rows=small_graph_edge_rows,
        stats=cc_stats,
    )
    w = Window.partitionBy("family_rep")
    return (
        cc.select(F.col("id").alias("doc_id"), F.col("lbl").alias("family_rep"))
        .select(
            "doc_id",
            "family_rep",
            F.count(F.lit(1)).over(w).cast("int").alias("family_size"),
        )
    )


def dedup_graph_stats(
    documents: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    max_bucket_size: int | None = MAX_BUCKET_SIZE_DEFAULT,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Per-document analytics of the near-dup PAIR GRAPH — the dedup
    audit view: (doc_id, degree, family_rep, family_size) for every doc
    with at least one near-duplicate. Degree vs family_size separates the
    two duplication regimes a corpus audit cares about: a clique
    (boilerplate stamped everywhere — degree ≈ family_size − 1) vs a
    chain of pairwise edits (degree ≪ family_size — near-dup DRIFT, where
    transitive dedup may over-merge). All-integer columns, so the DuckDB
    twin (oracles_beyond.dedup_graph_stats) hash-matches without float
    ceremony.

    ``pairs`` plugs in the session-cached/written pairs table exactly as
    in :func:`minhash_duplicate_families`; degree is one map-side-combined
    groupBy over the symmetric edge list, families reuse the
    size-adaptive component resolver — nothing here re-touches text."""
    if pairs is None:
        pairs = minhash_near_duplicates(documents, threshold, max_bucket_size)
    pairs = ensure_persisted(pairs)
    fam = minhash_duplicate_families(documents, pairs=pairs)
    degree = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionAll(pairs.select(F.col("doc_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("int").alias("degree"))
    )
    return fam.join(degree, "doc_id").select(
        "doc_id", "degree", "family_rep", "family_size"
    )


# --- SimHash ---------------------------------------------------------------

def simhash(documents: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """Per-doc SimHash: sign of per-bit sums of token-hash contributions
    (+1 when the token hash has the bit set, −1 otherwise), token
    multiplicity included. Vote_i > 0 ⇔ 2·count_i > n_tokens.

    Arrow-batched Python (hashlib md5 + numpy bit-vote) — measured well
    ahead of the Catalyst fold, whose per-token lambdas run interpreted.
    The bit vote broadcasts (n_tokens × bits) and column-sums in C — 4.6×
    over the per-bit Python loop at 500-word docs; word hashes are cached
    per Arrow batch (natural-language tokens repeat). Zero shuffle either
    way; formula identical to the SQL oracle."""
    import hashlib as _hl

    import numpy as np

    from flink_clickstream_processor_msk_spark.functions.grams import (
        WS_ASCII as _ws,
    )

    @F.pandas_udf(T.LongType())
    def fp(texts: pd.Series) -> pd.Series:
        ws = _ws
        shifts = np.arange(bits, dtype=np.int64)
        cache: dict[str, int] = {}

        def go(text: str | None) -> int | None:
            if text is None:
                return None
            words = [w for w in ws.split(text) if w]
            if not words:
                return 0
            hs = np.empty(len(words), dtype=np.int64)
            for i, w in enumerate(words):
                h = cache.get(w)
                if h is None:
                    h = int(_hl.md5(w.encode()).hexdigest()[:15], 16)
                    cache[w] = h
                hs[i] = h
            # vote_i > 0 <=> 2*count_i > n_tokens (multiplicity included)
            counts = ((hs[:, None] >> shifts) & 1).sum(axis=0)
            return int(((counts * 2 > len(words)).astype(np.int64) << shifts).sum())

        return texts.map(go)

    return _parallelized(documents).select("doc_id", fp("text").alias("simhash"))


def simhash_near_duplicates(
    documents: DataFrame, max_hamming: int = 3, bits: int = SIMHASH_BITS,
    scratch: list | None = None,
) -> DataFrame:
    """Hamming-distance near-dups via byte-band buckets: a pair within
    Hamming ≤ 3 of a 32-bit fingerprint must agree on ≥1 of 4 bytes
    (pigeonhole), so banding loses nothing and avoids the cross join.
    ``scratch``: receives the persisted fingerprint table
    (:func:`_tracked`)."""
    sh = _tracked(simhash(documents, bits), scratch)
    band_width = bits // SIMHASH_BANDS
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_idx"),
                F.shiftright(F.col("simhash"), i * band_width)
                .bitwiseAND(F.lit((1 << band_width) - 1))
                .alias("band_val"),
            )
            for i in range(SIMHASH_BANDS)
        ]
    )
    banded = sh.select("doc_id", "simhash", F.explode(bands).alias("band")).select(
        "doc_id", "simhash", "band.band_idx", "band.band_val"
    )
    # NULL simhash (NULL text) ⇒ NULL band_val: the old join-on-equality
    # dropped those rows; the grouped expansion must filter them
    # explicitly or they would bucket together (see _bucket_pairs)
    return (
        _bucket_pairs(
            banded.filter(F.col("band_val").isNotNull()),
            ["band_idx", "band_val"],
            F.struct("doc_id", "simhash"),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# --- embedding cosine ------------------------------------------------------

def hyperplanes(n_planes: int = N_PLANES, dim: int = 64) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes, derivable by any engine:
    component (p, d) = ((md5-hash60("plane:p:d") mod 2001) − 1000)/1000."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = int(hashlib.md5(f"plane:{p}:{d}".encode()).hexdigest()[:15], 16)
            row.append(((h % 2001) - 1000) / 1000.0)
        planes.append(row)
    return planes


def double_array_literal(xs: list[float]) -> Column:
    """array<double> literal built as ONE parsed SQL expression.

    ``F.array(*[F.lit(x) ...])`` costs a py4j round-trip per element and
    ``F.lit(list)`` pays per-element list conversion (~38 ms for 64 doubles);
    parsing a literal string is ~100× cheaper and plan-identical. ``repr``
    emits shortest-round-trip decimals, so the parsed doubles are
    bit-identical to the Python values."""
    return F.expr("array(" + ",".join(repr(float(x)) + "D" for x in xs) + ")")


def embedding_lsh_bucket(vec_sql: str, planes: list[list[float]]) -> Column:
    """Random-hyperplane signature: bit p = (vec · plane_p >= 0).

    ``vec_sql`` is the SQL text of the vector expression; the whole bucket
    (n_planes dot-product folds + bit sum) is built as ONE parsed
    expression — the per-plane py4j construction it replaces measured
    ~0.1 s per call at 8 planes."""

    def dot(plane: list[float]) -> str:
        arr = "array(" + ",".join(repr(float(x)) + "D" for x in plane) + ")"
        return (
            f"aggregate(zip_with({vec_sql}, {arr}, (x, y) -> x * y),"
            " 0.0D, (acc, x) -> acc + x)"
        )

    bits = " + ".join(
        f"(CASE WHEN {dot(plane)} >= 0 THEN {1 << p} ELSE 0 END)"
        for p, plane in enumerate(planes)
    )
    return F.expr(f"cast(({bits}) as int)")


def cosine(a: Column, b: Column) -> Column:
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    return dot / (na * nb)


# Dots within this margin of the sign boundary are recomputed with the
# sequential fold: numpy matmul sums pairwise, the oracle folds sequentially,
# and the two differ only in low-order bits (≤ ~1e-12 absolute for 64 terms
# of O(1)) — so outside the margin the SIGN is provably identical.
_SIGN_EPS = 1e-6


def _seq_dot(a, b) -> float:
    """Sequential IEEE-double fold — same order as :func:`cosine` /
    the DuckDB oracle's aggregate fold."""
    d = 0.0
    for x, y in zip(a, b):
        d += x * y
    return d


# Cosines within this margin of the threshold are recomputed with the
# sequential fold (dot AND both norms): numpy's einsum/matmul sums
# pairwise, the Catalyst/oracle fold sums sequentially, and the resulting
# cosines differ only in low-order bits (≤ ~1e-12 relative for 64 terms of
# O(1)) — so outside the margin the >= threshold COMPARISON is provably
# identical.
_COS_EPS = 1e-6

#: applyInPandas output schema of :func:`_semdedup_flags_kernel` — shared
#: by the batch ``semantic_dedup(vectorized=True)`` path and the
#: incremental sink so the two can never drift apart.
SEMDEDUP_FLAGS_SCHEMA = "vec_id long, cell int, is_kept boolean"

#: column-block budget for the within-cell dot matmul: blocks of ~2^24
#: double elements (~128 MB) stream the pair matrix over batch-column
#: slices, so a 100k-vector cell never materializes an n² matrix — the
#: kernel's memory is O(n_cell·dim + n_cell·block), bounded by the same
#: cell caps that bound the quadratic work itself (the k ∝ n policy).
_CELL_MATMUL_BLOCK_ELEMS = 1 << 24


def _semdedup_flags_kernel(threshold: float):
    """Per-cell SemDeDup decision kernel for ``groupBy("cell").
    applyInPandas`` — the :func:`build_lsh_index` ``_SIGN_EPS`` pattern
    applied to the one place a per-PAIR interpreted Catalyst fold
    survived through round 11 (VERDICT r11 "What's wrong" #2): the whole
    cell's pair cosines are ONE numpy matmul per column block (each
    vector crosses Arrow once per cell, not once per candidate pair),
    and any pair whose numpy cosine lands inside ``_COS_EPS`` of the
    threshold is re-folded sequentially (dot AND both norms), so every
    keep/drop decision matches the sequential-IEEE-fold :func:`cosine`
    (and the DuckDB oracle) bit-for-bit.

    Input rows: ``(vec_id, v, cell, is_batch)`` — saved/corpus members
    carry ``is_batch=false`` and only gate, batch members get an output
    row. Output: ``(vec_id, cell, is_kept)`` per batch member,
    ``is_kept=false`` iff SOME cell member (saved or batch) has a LOWER
    vec_id and cosine >= threshold — the deterministic keep-first rule.
    NaN cosines (zero-norm vectors) count as matches, mirroring Spark's
    NaN-greatest comparison ordering; the ANSI Catalyst fold THROWS on
    that 0/0 instead, so keeping the row is a strict robustness
    improvement reachable only on degenerate input."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        bmask = pdf["is_batch"].to_numpy(dtype=bool)
        bidx = np.nonzero(bmask)[0]
        if len(bidx) == 0:
            return pd.DataFrame(
                {
                    "vec_id": pd.Series([], dtype="int64"),
                    "cell": pd.Series([], dtype="int32"),
                    "is_kept": pd.Series([], dtype="bool"),
                }
            )
        M = np.stack(
            [np.asarray(v, dtype=np.float64) for v in pdf["v"].to_numpy()]
        )
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        norms = np.sqrt(np.einsum("ij,ij->i", M, M))
        bids = ids[bidx]
        dropped = np.zeros(len(bidx), dtype=bool)
        block = max(1, _CELL_MATMUL_BLOCK_ELEMS // max(len(ids), 1))
        for s in range(0, len(bidx), block):
            cols = bidx[s : s + block]
            dots = M @ M[cols].T
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dots / np.outer(norms, norms[cols])
            ge = (cos >= threshold) | np.isnan(cos)
            for i, j in zip(*np.nonzero(np.abs(cos - threshold) < _COS_EPS)):
                a, b = M[i], M[cols[j]]
                d = _seq_dot(a, b)
                n = math.sqrt(_seq_dot(a, a)) * math.sqrt(_seq_dot(b, b))
                c = d / n if n != 0.0 else float("nan")
                ge[i, j] = math.isnan(c) or c >= threshold
            lower = ids[:, None] < ids[cols][None, :]
            dropped[s : s + block] = (ge & lower).any(axis=0)
        return pd.DataFrame(
            {
                "vec_id": bids,
                "cell": pdf["cell"].to_numpy()[bidx].astype("int32"),
                "is_kept": ~dropped,
            }
        )

    return kernel


def build_lsh_index(
    embeddings: DataFrame, n_planes: int = N_PLANES, dim: int = 64
) -> DataFrame:
    """The build side of the embedding-LSH index: ``(vec_id, v, bucket)``,
    persisted for reuse across probes (at cluster scale: written out as a
    table partitioned by ``bucket``, so a probe reads a handful of buckets
    instead of scanning the corpus).

    Buckets are bit-identical to :func:`embedding_lsh_bucket` (the Catalyst
    per-row fold) and the SQL oracle, but computed as one numpy matmul per
    Arrow batch — the per-row HOF folds run interpreted and measured ~5×
    slower than brute-force scoring, defeating the index. Sign-boundary
    dots fall back to the sequential fold (see ``_SIGN_EPS``).
    """
    planes = hyperplanes(n_planes, dim)

    @F.pandas_udf("integer")
    def bucket_udf(emb: pd.Series) -> pd.Series:
        import numpy as np

        if len(emb) == 0:
            return pd.Series([], dtype="int32")
        P = np.asarray(planes, dtype=np.float64)
        M = np.stack([np.asarray(v, dtype=np.float64) for v in emb.to_numpy()])
        dots = M @ P.T
        for i, j in zip(*np.nonzero(np.abs(dots) < _SIGN_EPS)):
            dots[i, j] = _seq_dot(M[i], P[j])
        bits = (dots >= 0).astype(np.int64) << np.arange(P.shape[0], dtype=np.int64)
        return pd.Series(bits.sum(axis=1).astype(np.int32))

    return _materialized(
        embeddings.select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("v"),
            bucket_udf("embedding").alias("bucket"),
        )
    )


def embedding_near_duplicates(
    embeddings: DataFrame,
    threshold: float = COSINE_THRESHOLD,
    n_planes: int = N_PLANES,
    index: DataFrame | None = None,
) -> DataFrame:
    """Embedding near-dup pairs: same LSH bucket AND exact cosine ≥ t.

    The bucket join is the scale path (vectors only meet within their
    2^n_planes-way partition); cosine verification is exact, in doubles,
    bit-identical to the SQL oracle. Pass ``index=build_lsh_index(...)``
    to reuse an already-built bucket table.
    """
    with_bucket = index if index is not None else build_lsh_index(embeddings, n_planes)
    # one bucket per vector ⇒ each qualifying pair meets exactly once (no
    # distinct needed, as in the join shape). bucket is NULL only for a
    # NULL embedding — filtered to match the join-equality semantics.
    return (
        _bucket_pairs(
            with_bucket.filter(F.col("bucket").isNotNull()),
            ["bucket"],
            F.struct("vec_id", "v"),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cosine(F.col("a.v"), F.col("b.v")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def semantic_dedup(
    embeddings: DataFrame,
    n_clusters: int = 16,
    iterations: int = 2,
    threshold: float = COSINE_THRESHOLD,
    index: DataFrame | None = None,
    vectorized: bool = False,
    scratch: list | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means cluster
    the embedding space, then search semantic near-duplicates ONLY within
    a cluster — the clustering IS the candidate generation, replacing the
    hyperplane-LSH buckets of :func:`embedding_near_duplicates` with
    learned density-adaptive cells (LSH buckets are data-oblivious; a
    dense semantic region can straddle hyperplanes and leak pairs, which
    is exactly the failure SemDeDup's clustering avoids).

    Returns one row per vector: ``(vec_id, cell, is_kept)`` —
    ``is_kept = false`` iff the vector has a LOWER-id neighbor in the
    SAME cell with cosine ≥ ``threshold`` (the deterministic keep-first
    representative rule, as in the exact/minhash dedup family).

    Scale shape: the quadratic term is per-cell (≈ (n/k)² per cell), and
    k GROWS with the corpus (SemDeDup used 50 k clusters for LAION) so
    cell populations stay bounded; at cluster scale the cell table is the
    written IVF index partitioned by ``cell`` (save_ivf_index). Candidate
    pairs come from the :func:`_bucket_pairs` grouped expansion: a
    groupBy ``cell`` over that cell-partitioned index, each member
    expanded against the later members of its cell — at most one
    exchange of the cell table, no self-join and no all-pairs term.
    The k-means build reuses the ANN index machinery
    (:func:`~...similarity.kmeans_refine_centroids`: one distributed
    pass per iteration, only k×(dim+1) scaled-integer sums to the
    driver), so the SAME written index serves both search and dedup.

    Pass ``index=`` a prebuilt ``(vec_id, v, cell)`` table (from
    ``build_ivf_index`` over refined centroids) to amortize the build
    across calls — the driver query shares the ``ivf_kmeans`` cache with
    ``sim_ann_ivf_kmeans_topk``.

    ``vectorized=True`` swaps the per-pair Catalyst cosine fold (and the
    grouped pair expansion itself) for the per-cell Arrow-batched
    :func:`_semdedup_flags_kernel` (one numpy matmul per cell,
    epsilon-band sequential re-fold — decision-identical to the fold,
    see ``_COS_EPS``; each vector crosses Arrow once per cell instead of
    once per candidate pair). The default stays the pure-Catalyst fold
    because the DuckDB oracle hash-checks that exact expression shape;
    production callers want ``vectorized=True`` (the incremental sink
    runs the same kernel).
    """
    from flink_clickstream_processor_msk_spark.operators import similarity

    if index is None:
        seed = similarity.ivf_centroids(embeddings, n_clusters)
        refined = similarity.kmeans_refine_centroids(
            embeddings, seed, iterations=iterations
        )
        _, index = similarity.build_ivf_index(embeddings, centroids=refined)
        if scratch is not None:
            # build_ivf_index persists the cell table; hand it to the
            # caller for release (the r12 scratch-contract sweep)
            scratch.append(index)
    if vectorized:
        return (
            index.select("vec_id", "v", "cell")
            .withColumn("is_batch", F.lit(True))
            .groupBy("cell")
            .applyInPandas(
                _semdedup_flags_kernel(threshold), SEMDEDUP_FLAGS_SCHEMA
            )
            .select("vec_id", "cell", "is_kept")
        )
    # hoist the norm folds out of the pair expression: ||x|| is a per-ROW
    # value (same sequential fold → bit-identical double), so computing it
    # once per vector instead of twice per candidate pair cuts the
    # interpreted-HOF work per pair 3× (the CLAUDE.md hot-path rule; the
    # remaining per-pair fold is the dot alone)
    cells = index.withColumn(
        "norm",
        F.sqrt(
            F.aggregate(
                F.transform("v", lambda x: x * x),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ),
    )
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # grouped pair expansion (one exchange of the cell table) instead of
    # the cell self-join — same pairs, same fold expression, bit-identical
    # cosines (see _bucket_pairs; cell is never NULL: every vector is
    # assigned a nearest centroid)
    dropped = (
        _bucket_pairs(cells, ["cell"], F.struct("vec_id", "norm", "v"))
        .filter((dot / (F.col("a.norm") * F.col("b.norm"))) >= threshold)
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
        .withColumn("dropped", F.lit(True))
    )
    return index.join(dropped, "vec_id", "left").select(
        "vec_id",
        F.col("cell").cast("int").alias("cell"),
        F.col("dropped").isNull().alias("is_kept"),
    )


def dup_span_stats(
    documents: DataFrame, width: int = 8, scratch: list | None = None
) -> DataFrame:
    """Cross-document duplicated-span statistics: for every document, how
    many of its fixed-``width`` word windows (stride 1, non-distinct; the
    shared <width→whole-text convention) also occur in at least one OTHER
    document — the fixed-granularity approximation of exact-substring
    dedup (Lee et al. 2022 "Deduplicating Training Data Makes Language
    Models Better": duplicated ~50-token spans, not whole near-dup docs,
    are what the model memorizes). ``dup_frac = dup_windows/n_windows`` is
    the per-doc removal/penalty signal.

    Windows hash to full 60-bit md5 values (not the 28-bit LSH space —
    span flagging is per-window exact matching, so collision-flagged spans
    would be false positives at corpus scale; 60 bits keeps the birthday
    bound negligible at billions of windows). Scale shape: window hashing
    is the Arrow-batched per-row map; the exploded (doc_id, hash) table
    feeds both the cross-doc-count branch and the per-doc rollup, so it is
    `_materialized` (one kernel pass); both aggregations are
    map-side-combined groupBys keyed on the hash — no all-pairs term, cost
    O(windows) + O(duplicated windows)."""
    from flink_clickstream_processor_msk_spark.functions.grams import (
        ascii_words,
        md5_60,
        word_grams,
    )

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def span_hashes(texts: pd.Series) -> pd.Series:
        cache: dict[str, int] = {}

        def go(text: str | None) -> list[int] | None:
            if text is None:
                return None
            out = []
            for g in word_grams(ascii_words(text), width):
                h = cache.get(g)
                if h is None:
                    h = md5_60(g)
                    cache[g] = h
                out.append(h)
            return out

        return texts.map(go)

    g = _tracked(
        _parallelized(documents)
        .select("doc_id", F.explode(span_hashes("text")).alias("h")),
        scratch,
    )
    # fused distinct→count (r17, VERDICT r16 #7 adjudicated with shuffle
    # metrics): count_distinct plans as partial-dedup on (h, doc_id) →
    # exchange → count, identical values to distinct().groupBy().count()
    # and measured 6.12 → 5.66 MB shuffle-write at sf0.1 (−7.5%; the
    # remove_dup_spans owners variant measured WORSE fused — min +
    # count_distinct together force extra aggregation work — so that one
    # deliberately keeps the explicit distinct)
    cross_doc = (
        g.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    return (
        g.join(cross_doc.withColumn("dup", F.lit(1)), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.coalesce(F.sum("dup"), F.lit(0)).alias("dup_windows"),
        )
        .select(
            "doc_id",
            F.col("n_windows").cast("int").alias("n_windows"),
            F.col("dup_windows").cast("int").alias("dup_windows"),
            (F.col("dup_windows") / F.col("n_windows")).alias("dup_frac"),
        )
    )


def remove_dup_spans(
    documents: DataFrame, width: int = 8, scratch: list | None = None
) -> DataFrame:
    """The REMOVAL half of Lee et al. 2022's exact-substring dedup —
    :func:`dup_span_stats` is the audit, this is the scrub: every
    fixed-``width`` word window occurring in ≥2 documents keeps its
    occurrences only in the OWNER document (min doc_id containing the
    window — deterministic, engine-replayable); in every other document
    the tokens covered by such windows are excised (overlapping removed
    windows merge naturally through position coverage) and the text is
    rebuilt from the survivors. Returns ``(doc_id, cleaned_text,
    n_tokens, removed_tokens)`` — counts so pipelines can audit the
    excision rate; docs with fewer than ``width`` tokens form one
    whole-text window (the shared <k convention), so a short doc whose
    text occurs elsewhere is emptied rather than partially cut.

    Scale shape: the window hashing is the same Arrow kernel pass
    :func:`dup_span_stats` pays; ownership is one map-side-combined
    groupBy over (doc_id, h) distinct; the removable-window join carries
    only duplicated windows (O(duplicated) — real corpora: a few % of
    windows); the rebuild is one more Arrow pass over (text, starts)
    with the start list per doc collected as an array column, never to
    the driver. No all-pairs term, no token-level explode: coverage is
    resolved positionally inside the kernel. SQL twin:
    oracles_beyond.remove_dup_spans (same g/cross-doc CTEs as the stats
    oracle + ownership, coverage, ordered rebuild)."""
    from flink_clickstream_processor_msk_spark.functions.grams import (
        ascii_words,
        md5_60,
        word_grams,
    )

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def span_hashes(texts: pd.Series) -> pd.Series:
        cache: dict[str, int] = {}

        def go(text: str | None) -> list[int] | None:
            if text is None:
                return None
            out = []
            for gram in word_grams(ascii_words(text), width):
                h = cache.get(gram)
                if h is None:
                    h = md5_60(gram)
                    cache[gram] = h
                out.append(h)
            return out

        return texts.map(go)

    # docs feeds TWO payload consumers — the span-hash kernel and the
    # final rebuild join — and the exchange inside a cached subplan is
    # invisible to reuse from the outer plan, so without its own persist
    # the corpus text was scanned AND round-robin-shuffled twice per run
    # (both legs visible in plans/r16/remove_dup_spans_before.txt; guide
    # §2.4 remove shuffles / §8 move heavy bytes once). Projecting to
    # (doc_id, text) first keeps the cached bytes minimal (guide §2.3).
    docs = _tracked(
        _parallelized(documents.filter(F.col("text").isNotNull())).select(
            "doc_id", "text"
        ),
        scratch,
    )
    g = _tracked(
        docs.select(
            "doc_id", F.posexplode(span_hashes("text")).alias("i", "h")
        ),
        scratch,
    )
    owners = (
        g.select("doc_id", "h")
        .distinct()
        .groupBy("h")
        .agg(
            F.min("doc_id").alias("owner"),
            F.count(F.lit(1)).alias("nd"),
        )
        .filter(F.col("nd") >= 2)
        .select("h", "owner")
    )
    starts = (
        g.join(owners, "h")
        .filter(F.col("doc_id") != F.col("owner"))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("i")).alias("starts"))
    )

    out_type = T.StructType(
        [
            T.StructField("cleaned_text", T.StringType()),
            T.StructField("n_tokens", T.IntegerType()),
            T.StructField("removed_tokens", T.IntegerType()),
        ]
    )

    @F.pandas_udf(out_type)
    def rebuild(texts: pd.Series, start_lists: pd.Series) -> pd.DataFrame:
        rows = []
        for text, starts_ in zip(texts, start_lists):
            words = ascii_words(text)
            n = len(words)
            if starts_ is None or len(starts_) == 0:
                rows.append((" ".join(words), n, 0))
                continue
            covered = [False] * n
            for i in starts_:
                i = int(i)
                # <width tokens → the single whole-text window covers all
                for j in range(i, min(i + width, n) if n >= width else n):
                    covered[j] = True
            kept = [w for j, w in enumerate(words) if not covered[j]]
            rows.append((" ".join(kept), n, n - len(kept)))
        return pd.DataFrame(
            rows, columns=["cleaned_text", "n_tokens", "removed_tokens"]
        )

    joined = docs.select("doc_id", "text").join(starts, "doc_id", "left")
    return joined.select(
        "doc_id", rebuild("text", "starts").alias("r")
    ).select("doc_id", "r.*")
