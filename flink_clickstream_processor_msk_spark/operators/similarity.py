"""Similarity search over embedding columns (SURVEY.md §7.1 M6).

- :func:`cosine_topk` — brute-force exact top-k: one scan, per-row double
  fold for the score, TakeOrdered for the global top-k (no full sort, no
  shuffle of the data — only k rows travel to the driver-side limit).
  The correctness baseline.
- :func:`ann_lsh_topk` — the scale path: deterministic random-hyperplane
  signatures; only vectors whose signature is within ``probe_hamming`` bits
  of the query's are scored. At cluster scale the signature is a partition/
  bucket key (a handful of bucket lookups instead of a 100 TB scan); here it
  is expressed as a cheap int-popcount filter on the same plan.
- :func:`ann_ivf_topk` — IVF-flat: vectors are assigned to their nearest
  centroid's cell; a query routes to the ``n_probe`` nearest cells and
  scores only those. At cluster scale ``cell`` is the table's partition
  column, so probing reads n_probe partitions and partition pruning skips
  the rest of the 100 TB.

Scores are IEEE-double sequential folds — bit-identical to the SQL oracle
(verified: max abs diff 0.0 on the test tier).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import pandas as pd

from flink_clickstream_processor_msk_spark.functions.hashing import h60
from flink_clickstream_processor_msk_spark.functions.parallel import (
    one_slice_rows,
)
from flink_clickstream_processor_msk_spark.operators import lsm
from flink_clickstream_processor_msk_spark.operators.dedup import (
    N_PLANES,
    _materialized,
    build_lsh_index,
    cosine,
    double_array_literal,
    hyperplanes,
)

DEFAULT_K = 10

# --- written-index deletion (LSM tombstones) ---------------------------------
# Vector stores take deletes too (takedowns, opt-outs, GDPR erasure) — the
# same lifecycle the dedup state got (operators/dedup.py "deletion"): a
# delete is an O(ids) flat tombstone write, every load_*_index applies the
# tombstones (broadcast anti-join on vec_id; a single fs stat and NO plan
# node when none are pending — the measured-zero dedup read path), and
# compact_index physically rewrites the data table and clears them.
# Re-adding a tombstoned vec_id before compaction is REFUSED by the
# append_to_*_index functions (a live tombstone would silently suppress
# the re-added rows at every read — the append_dedup_state rule).

#: per-kind data table layout: (subdir, partition column or None)
_INDEX_TABLES: dict[str, tuple[str, str | None]] = {
    "ivf": ("cells", "cell"),
    "ivfpq": ("cells", "cell"),
    "lsh": ("buckets", "bucket"),
    "pq": ("codes", None),
}


#: every sub an index data table can live under (one kind per path)
_INDEX_SUBS = ("cells", "buckets", "codes")


def _index_sub(spark, path: str) -> str:
    """Which data-table generation lives at ``path`` (an index path hosts
    exactly one kind) — probes live + staged dirs; a path with no index
    is refused loudly (nothing there to read a sidecar from or delete
    out of)."""
    for sub in _INDEX_SUBS:
        if lsm.path_exists(spark, f"{path}/{sub}") or lsm.path_exists(
            spark, lsm.staged_dir(path, sub)
        ):
            return sub
    raise ValueError(f"no index at {path}")


def _sidecar_path(spark, path: str, name: str) -> str:
    """A sidecar's directory inside the index's live generation
    (:func:`lsm.sidecar_path`)."""
    return lsm.sidecar_path(spark, path, _index_sub(spark, path), name)


def delete_from_index(spark, path: str, vec_ids) -> None:
    """Tombstone vectors out of a written index: subsequent loads (and
    therefore every probe over them) exclude the ids; the next
    :func:`compact_index` drops their rows physically. ``vec_ids``: an
    iterable of ids or a DataFrame with a ``vec_id`` column. A path with
    no index is refused (``ValueError``)."""
    lsm.write_tombstones(spark, path, _index_sub(spark, path), vec_ids, "vec_id")


def load_index_tombstones(spark, path: str) -> DataFrame | None:
    """The live tombstone set, or None when no deletes are pending (one
    filesystem stat — loads in the no-delete common case pay nothing)."""
    return lsm.load_tombstones(spark, path, _index_sub(spark, path))


def _apply_index_tombstones(spark, path: str, df: DataFrame) -> DataFrame:
    return lsm.apply_tombstones(
        spark, path, _index_sub(spark, path), df, "vec_id"
    )


def _refuse_tombstoned(new_embeddings: DataFrame, path: str) -> None:
    """Append-side guard shared by every ``append_to_*_index``."""
    lsm.refuse_tombstoned(
        new_embeddings,
        path,
        _index_sub(new_embeddings.sparkSession, path),
        "vec_id",
        "compact_index",
        "vectors",
    )


def _read_index_table(spark, path: str, sub: str) -> DataFrame:
    """The shared LSM read path (:func:`lsm.read_base_with_delta`):
    finish a crash-interrupted swap, read the base, union the flat
    append delta — a filter on the routing column still partition-prunes
    the base branch and row-group-skips the small delta branch."""
    return lsm.read_base_with_delta(spark, path, sub)


def _append_index_rows(rows: DataFrame, path: str, sub: str) -> None:
    """Shared append write: ONE flat file per append into the
    generation's delta (:func:`lsm.append_delta` — the
    banded-dedup-state delta discipline; measured provenance in the lsm
    module docstring); :func:`compact_index` folds it back into the
    partition-pruned base on the caller's cadence."""
    lsm.append_delta(rows, path, sub)


def _install_index_base(
    rows: DataFrame,
    path: str,
    kind: str,
    write_sidecars=None,
) -> None:
    """Shared generation install for every ``save_*_index`` and
    :func:`compact_index` (:func:`lsm.install_base`): the staged
    generation carries the data table, the caller's sidecars
    (``write_sidecars(staged_gen_dir)``) and an EMPTY journal, and ONE
    rename installs all of it — sidecar-vs-base mismatch and
    cleared-tombstone windows are structurally impossible (r16,
    VERDICT r15 #1)."""
    sub, part_col = _INDEX_TABLES[kind]
    lsm.install_base(
        rows, path, sub, (part_col,) if part_col else (),
        write_sidecars=write_sidecars,
    )


def _write_centroids_sidecar(spark, gen_dir: str, cents) -> None:
    """Write the ``centroids`` sidecar into a (staged) generation dir."""
    one_slice_rows(
        spark,
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "cidx int, cvec array<double>",
    ).write.mode("overwrite").parquet(f"{gen_dir}/centroids")


def _load_centroids(spark, path: str) -> list[list[float]]:
    """The ``centroids`` sidecar as the in-memory list every probe /
    append / load shares; EMPTY is refused loudly — a build never writes
    zero centroids, so an empty read is a crashed or foreign layout."""
    p = _sidecar_path(spark, path, "centroids")
    rows = spark.read.parquet(p).orderBy("cidx").collect()
    if not rows:
        raise ValueError(f"no centroids sidecar at {p}")
    return [[float(x) for x in r["cvec"]] for r in rows]


def _write_codebooks_sidecar(spark, gen_dir: str, cbs) -> None:
    """Write the ``codebooks`` sidecar into a (staged) generation dir."""
    one_slice_rows(
        spark,
        [
            (s, j, list(map(float, c)))
            for s, cb in enumerate(cbs)
            for j, c in enumerate(cb)
        ],
        "s int, j int, cvec array<double>",
    ).write.mode("overwrite").parquet(f"{gen_dir}/codebooks")


def _load_codebooks(spark, path: str) -> list[list[list[float]]]:
    """The ``codebooks`` sidecar as the nested per-subspace list (same
    refuse-on-empty contract as :func:`_load_centroids`)."""
    p = _sidecar_path(spark, path, "codebooks")
    rows = spark.read.parquet(p).orderBy("s", "j").collect()
    if not rows:
        raise ValueError(f"no codebooks sidecar at {p}")
    m = max(r["s"] for r in rows) + 1
    cbs: list[list[list[float]]] = [[] for _ in range(m)]
    for r in rows:
        cbs[r["s"]].append([float(x) for x in r["cvec"]])
    return cbs


def _load_index_rows(spark, path: str, kind: str) -> DataFrame:
    """Shared data-table read for every ``load_*_index``: finish any
    interrupted compaction swap, union the flat delta, drop tombstoned
    vec_ids."""
    sub, _ = _INDEX_TABLES[kind]
    return _apply_index_tombstones(spark, path, _read_index_table(spark, path, sub))


#: sidecars each kind carries through compaction (structure, not rows —
#: compaction rewrites the data table, never its routing structures)
_KIND_SIDECARS = {
    "ivf": ("centroids",),
    "ivfpq": ("centroids", "codebooks", "ood_ref"),
    "lsh": ("lsh_meta",),
    "pq": ("codebooks", "ood_ref"),
}


def compact_index(spark, path: str, kind: str) -> None:
    """Fold the flat append delta back into the routing-partitioned base
    AND physically drop tombstoned vectors (``kind`` in ivf | ivfpq |
    lsh | pq) — the LSM compaction of the written-index lifecycle:
    rewrite base ∪ delta, tombstone-filtered and vec_id-deduplicated, as
    a fresh generation (data + carried-over sidecars + empty journal)
    installed by one rename (:func:`_install_index_base`); deleted ids
    may be re-ingested afterwards. Since r16 the install is atomic:
    there is no crash window with delta rows duplicated in base + delta,
    or with tombstones cleared over an unrewritten base — a crash
    anywhere during compaction leaves the OLD generation fully live and
    a re-run is a plain retry. The dropDuplicates below still guards the
    APPEND-side replay (a producer re-sending an acked append after its
    own crash); a live vec_id re-appended with a DIFFERENT payload is
    refused loudly rather than collapsed to an arbitrary winner.
    Sidecars (centroids/codebooks/ood_ref/lsh_meta) are copied into the
    staged generation unchanged; a large delete shifts occupancy/OOD
    shares, which the monitors read post-delete by construction."""
    sub, part_col = _INDEX_TABLES[kind]
    has_delta = lsm.path_exists(
        spark, lsm.delta_path(spark, path, sub)
    )
    if load_index_tombstones(spark, path) is None and not has_delta:
        return
    live = _apply_index_tombstones(
        spark, path, _read_index_table(spark, path, sub)
    )
    # the dropDuplicates below heals the crash-window replay (the SAME
    # row present in base and delta) — but the same LIVE vec_id appended
    # twice with DIFFERENT payloads would be collapsed to an arbitrary
    # winner, making the compacted index nondeterministic run-to-run.
    # Refuse loudly instead (ADVICE r12; the append_dedup_state
    # re-add-refusal pattern): delete + compact first, then re-append.
    # two-phase so the common no-duplicates case never pays a payload
    # encode: count-only duplicate detection first (cheap map-side
    # combine, no vector serialization), then the to_json
    # distinct-payload comparison over the (crash-window-sized)
    # duplicated ids only
    dup_ids = (
        live.groupBy("vec_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .select("vec_id")
    )
    conflicts = []
    if dup_ids.limit(1).count():  # rare: crash-window replay or a producer bug
        conflicts = (
            live.join(dup_ids, "vec_id", "left_semi")
            .groupBy("vec_id")
            .agg(
                F.countDistinct(
                    F.to_json(F.struct("vec_id", *[c for c in live.columns if c != "vec_id"]))
                ).alias("n_payloads")
            )
            .filter(F.col("n_payloads") > 1)
            .limit(5)
            .collect()
        )
    if conflicts:
        raise ValueError(
            f"vec_ids {sorted(r['vec_id'] for r in conflicts)} at {path} "
            "have CONFLICTING duplicate rows (same id, different "
            "vector/codes — a live id was re-appended); delete the id "
            "and compact before re-adding, or dedupe the producer"
        )
    filtered = live.dropDuplicates(["vec_id"])
    # the live generation's sidecars are still in place while the staged
    # one is built (the swap comes last) — copy them across so the new
    # generation stays self-contained
    live_sidecars = [
        (name, _sidecar_path(spark, path, name)) for name in _KIND_SIDECARS[kind]
    ]

    def carry_sidecars(gen_dir: str) -> None:
        for name, src in live_sidecars:
            lsm.copy_dir(spark, src, f"{gen_dir}/{name}")

    _install_index_base(filtered, path, kind, carry_sidecars)


def _query_vector(embeddings: DataFrame, query_vec_id: int) -> list[float]:
    row = embeddings.filter(F.col("vec_id") == query_vec_id).select("embedding").first()
    if row is None:
        raise ValueError(f"query vec_id {query_vec_id} not found")
    return [float(x) for x in row[0]]


def cosine_topk(
    embeddings: DataFrame, query_vec_id: int, k: int = DEFAULT_K
) -> DataFrame:
    """Exact top-k by cosine against the embedding of ``query_vec_id``
    (query row excluded; ties broken by vec_id)."""
    q = _query_vector(embeddings, query_vec_id)
    qlit = double_array_literal(q)
    vec = F.col("embedding").cast("array<double>")
    return (
        embeddings.filter(F.col("vec_id") != query_vec_id)
        .select("vec_id", cosine(vec, qlit).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )


N_CENTROIDS = 16
N_PROBE = 4


def _py_cosine(a: list[float], b: list[float]) -> float:
    """Driver-side cosine with the same sequential-fold order as
    dedup.cosine / the SQL oracle, so routing decisions are bit-identical."""
    import math

    dot = 0.0
    for x, y in zip(a, b):
        dot += x * y
    na = 0.0
    for x in a:
        na += x * x
    nb = 0.0
    for y in b:
        nb += y * y
    return dot / (math.sqrt(na) * math.sqrt(nb))


def ivf_centroids(
    embeddings: DataFrame, n_centroids: int = N_CENTROIDS,
    representative: bool = False,
) -> list[list[float]]:
    """Deterministic centroids: the ``n_centroids`` vectors with the
    smallest vec_ids (cell index = rank in that order). A production index
    would k-means these; the index structure — assignment, inverted cells,
    query-time probe — is identical, and determinism is what lets the
    DuckDB oracle replay the same index.

    ``representative=True`` is the RE-SEED knob the drift measurement
    (PLANS.md round 8) prescribes: order by the md5-derived hash of
    vec_id instead of vec_id, so the seed set is a deterministic
    pseudo-random sample spanning the WHOLE current id population —
    after an ingest appends a drifted region under high new ids, the
    smallest-vec_id init contains zero seeds there and Lloyd cannot
    migrate across the gap, while hash-ordered seeds land in every
    region in proportion to its mass. Oracle-checked configurations
    keep the default (the DuckDB twins replay vec_id order)."""
    order = (
        [h60(F.col("vec_id").cast("string")).asc(), F.col("vec_id").asc()]
        if representative
        else [F.col("vec_id").asc()]
    )
    rows = (
        embeddings.orderBy(*order).limit(n_centroids).select("embedding").collect()
    )
    if not rows:
        raise ValueError("cannot build an IVF index over an empty embeddings table")
    # fewer rows than requested centroids is fine: the index just has
    # len(rows) cells (tests/test_degenerate.py pins the short-input path)
    return [[float(x) for x in r["embedding"]] for r in rows]


def _array_sql(xs: list[float]) -> str:
    return "array(" + ",".join(repr(float(x)) + "D" for x in xs) + ")"


def _cosine_sql(vec_sql: str, lit: list[float]) -> str:
    """SQL text of dedup.cosine(vec, literal) — same sequential IEEE-double
    folds, built as one parseable string instead of ~10 py4j expression
    calls per centroid (construction measured ~1s for 16 centroids)."""
    arr = _array_sql(lit)
    return (
        f"aggregate(zip_with({vec_sql}, {arr}, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"
        f" / (sqrt(aggregate(transform({vec_sql}, x -> x * x), 0.0D, (acc, x) -> acc + x))"
        f" * sqrt(aggregate(transform({arr}, x -> x * x), 0.0D, (acc, x) -> acc + x)))"
    )


def ivf_cells(embeddings: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """Per-row Catalyst cell assignment (max cosine, first index wins ties).

    Semantic reference only: :func:`build_ivf_index` computes the identical
    assignment with a batched numpy matmul (the HOF folds here run
    interpreted per row — fine for a spec, wrong for an index build);
    tests assert the two agree."""
    vec = F.col("embedding").cast("array<double>")
    vec_sql = "cast(embedding as array<double>)"
    scores = F.expr(
        "array(" + ",".join(_cosine_sql(vec_sql, c) for c in centroids) + ")"
    )
    cell = (F.array_position(scores, F.array_max(scores)) - 1).cast("int")
    return embeddings.select("vec_id", vec.alias("v"), cell.alias("cell"))


# When the best and runner-up centroid cosines are closer than this, the
# assignment is recomputed with the oracle's sequential folds — outside the
# margin, pairwise (numpy) vs sequential summation noise (≤ ~1e-12 for
# 64-dim O(1) values) provably cannot flip the argmax.
_GAP_EPS = 1e-6


def _make_cell_udf(bc):
    """The one cell-assignment kernel, shared by the index build and every
    Lloyd's iteration: numpy matmul per Arrow batch, near-tie rows fall
    back to the sequential-fold cosine so the assignment stays
    bit-identical to :func:`ivf_cells` and the SQL oracle (cosine desc,
    first centroid wins ties). ``bc`` is a Spark broadcast of the centroid
    list — tasks fetch it once per executor; the pickled closure carries
    only the broadcast handle. A fresh (cheap) pandas_udf wrapper is made
    per centroid set because PySpark caches the serialized function on the
    UDF object, so a mutated closure would silently keep stale centroids.
    """

    @F.pandas_udf("integer")
    def cell_udf(emb: pd.Series) -> pd.Series:
        import numpy as np

        if len(emb) == 0:
            return pd.Series([], dtype="int32")
        cents = bc.value
        C = np.asarray(cents, dtype=np.float64)
        cnorm = np.sqrt(np.einsum("ij,ij->i", C, C))
        M = np.stack([np.asarray(v, dtype=np.float64) for v in emb.to_numpy()])
        mnorm = np.sqrt(np.einsum("ij,ij->i", M, M))
        cos = (M @ C.T) / (mnorm[:, None] * cnorm[None, :])
        best = np.argmax(cos, axis=1)
        rows = np.arange(len(M))
        runner = cos.copy()
        runner[rows, best] = -np.inf
        margin = cos[rows, best] - runner.max(axis=1)
        for i in np.nonzero(margin < _GAP_EPS)[0]:
            exact = [_py_cosine(list(M[i]), c) for c in cents]
            best[i] = max(range(len(cents)), key=lambda j: (exact[j], -j))
        return pd.Series(best.astype(np.int32))

    return cell_udf


def build_ivf_index(
    embeddings: DataFrame,
    n_centroids: int = N_CENTROIDS,
    centroids: list[list[float]] | None = None,
) -> tuple[list[list[float]], DataFrame]:
    """The build side of the IVF-flat index: (centroids, cell table).

    The cell table ``(vec_id, v, cell)`` is persisted for reuse across
    probes — at cluster scale it is written out partitioned by ``cell``, so
    a query's ``n_probe`` cells are read via partition pruning and the rest
    of the corpus is never touched. Assignment via :func:`_make_cell_udf`.
    """
    cents = centroids if centroids is not None else ivf_centroids(
        embeddings, n_centroids
    )
    cell_udf = _make_cell_udf(
        embeddings.sparkSession.sparkContext.broadcast([list(c) for c in cents])
    )
    index = _materialized(
        embeddings.select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("v"),
            cell_udf("embedding").alias("cell"),
        )
    )
    return cents, index


def ann_ivf_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = DEFAULT_K,
    n_centroids: int = N_CENTROIDS,
    n_probe: int = N_PROBE,
    index: tuple[list[list[float]], DataFrame] | None = None,
) -> DataFrame:
    """IVF-flat approximate top-k: route the query to its ``n_probe``
    nearest cells, exact (oracle-fold) cosine only within them.

    Pass ``index=build_ivf_index(embeddings)`` to amortize the build across
    queries — the probe itself touches only the index table."""
    cents, cells = index if index is not None else build_ivf_index(
        embeddings, n_centroids
    )
    q = _query_vector_from_index(cells, query_vec_id)
    probes = sorted(
        range(len(cents)), key=lambda i: (-_py_cosine(cents[i], q), i)
    )[:n_probe]
    qlit = double_array_literal(q)
    return (
        cells.filter(F.col("cell").isin(probes) & (F.col("vec_id") != query_vec_id))
        .select("vec_id", cosine(F.col("v"), qlit).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )


def _query_vector_from_index(index: DataFrame, query_vec_id: int) -> list[float]:
    row = index.filter(F.col("vec_id") == query_vec_id).select("v").first()
    if row is None:
        raise ValueError(f"query vec_id {query_vec_id} not found")
    return [float(x) for x in row[0]]


Q8_LEVELS = 127


def quantize_embeddings(embeddings: DataFrame) -> DataFrame:
    """Symmetric int8 quantization of the embedding column:
    ``(vec_id, scale, q)`` with ``scale = max |x|`` and
    ``q_i = floor(x_i·127/scale + 0.5)`` ∈ [-127, 127] (round-half-up —
    `floor(+0.5)` is engine-portable, unlike banker's `round`).

    The 100 TB story: a float32 embedding index is 4× the size of its int8
    twin — quantizing the stored index (scale rides along per vector) cuts
    scan bytes and memory pressure 4× while keeping recall high; scoring
    dequantizes on the fly (``q·scale/127``), so the whole pipeline stays
    engine-replayable: the DuckDB oracle reproduces the quantization
    bit-for-bit (oracles_beyond.cosine_q8_topk). Zero-vector rows get
    q = 0 (scale 0 guard)."""
    v = F.col("embedding").cast("array<double>")
    base = embeddings.select(
        "vec_id",
        v.alias("v"),
        F.array_max(F.transform(v, lambda x: F.abs(x))).alias("scale"),
    )
    q = F.transform(
        F.col("v"),
        lambda x: F.when(F.col("scale") == 0, F.lit(0)).otherwise(
            F.floor(x * F.lit(float(Q8_LEVELS)) / F.col("scale") + F.lit(0.5))
            .cast("int")
        ),
    )
    return base.select("vec_id", "scale", q.alias("q"))


def cosine_q8_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = DEFAULT_K,
    index: DataFrame | None = None,
) -> DataFrame:
    """Exact top-k by cosine over the int8-quantized index (query included
    in the same quantization, dequantized driver-side with the identical
    ``q·scale/127`` double ops). Same plan shape as :func:`cosine_topk`;
    the difference is WHAT is scanned — the 4×-smaller quantized table.
    Pass ``index=quantize_embeddings(...)`` (persisted/written) to
    amortize the quantization across queries like the other indexes."""
    qdf = index if index is not None else quantize_embeddings(embeddings)
    row = qdf.filter(F.col("vec_id") == query_vec_id).select("scale", "q").first()
    if row is None:
        raise ValueError(f"query vec_id {query_vec_id} not found")
    scale, qvec = float(row[0]), row[1]
    dq = [e * scale / float(Q8_LEVELS) for e in qvec]
    qlit = double_array_literal(dq)
    dequant = F.transform(
        F.col("q"), lambda e: e * F.col("scale") / F.lit(float(Q8_LEVELS))
    )
    return (
        qdf.filter(F.col("vec_id") != query_vec_id)
        .select("vec_id", cosine(dequant, qlit).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )


# Centroid coordinates are rounded to this many decimal places after each
# Lloyd's iteration — the quantization (standard practice in shipped ANN
# indexes, which quantize far more aggressively) that makes refined
# centroids engine-replayable.
KMEANS_ROUND_DIGITS = 6

# Per-dim sums inside the refiners run in SCALED-INTEGER space: each
# coordinate becomes round(x · 2^30) as a BIGINT before summing, so the
# sum is EXACT and summation-order-free on both engines (the integer-cents
# trick from relational.py), and the mean both engines round to the 1e-6
# grid is computed from bit-identical inputs. Before round 7 the sums were
# shuffle-order doubles relying on the rounding grid to absorb ~1e-13
# drift — correct until a mean lands within an ulp of a grid boundary
# (ADVICE r6: a real, if rare, nondeterminism). The 2^-30 input grid is
# ~1e-9 — three decimal orders finer than the output grid, so refined
# centroids are unchanged in practice; overflow bound: |x| ≤ 4 → row term
# ≤ 2^32, safe to ~2^31 rows per (cell,dim) group in int64.
KMEANS_SUM_SCALE = 1 << 30


def kmeans_refine_centroids(
    embeddings: DataFrame,
    centroids: list[list[float]],
    iterations: int = 5,
    round_digits: int = KMEANS_ROUND_DIGITS,
) -> list[list[float]]:
    """Lloyd's k-means refinement of IVF centroids — the production-quality
    index build. At fixed small iteration counts the loop unrolls into the
    DuckDB oracle (`oracles_beyond.ann_ivf_kmeans_topk`), so refined-index
    queries are fully hash-checked by the driver.

    Each iteration is one distributed pass: assign every vector to its
    nearest centroid (:func:`_make_cell_udf` over a broadcast of the
    iteration's centroids — the same kernel as :func:`build_ivf_index`)
    and reduce per-cell means via a map-side-combined groupBy — only
    k×(dim+1) numbers reach the driver per iteration, never vectors.
    Per-dim sums run in scaled-integer space (``KMEANS_SUM_SCALE``) so
    they are exact and summation-order-free on both engines; see the
    constant's comment. Empty cells keep their previous centroid
    (standard Lloyd's degeneracy handling, deterministic).
    """
    sc = embeddings.sparkSession.sparkContext

    cents = [list(map(float, c)) for c in centroids]
    if not cents:
        raise ValueError("cannot refine an empty centroid list")
    k, dim = len(cents), len(cents[0])
    broadcasts = []
    for _ in range(iterations):
        bc = sc.broadcast([list(c) for c in cents])
        broadcasts.append(bc)
        cell_udf = _make_cell_udf(bc)
        means = (
            embeddings.select(
                cell_udf("embedding").alias("cell"),
                F.col("embedding").cast("array<double>").alias("v"),
            )
            .groupBy("cell")
            .agg(
                F.count(F.lit(1)).alias("n"),
                *[
                    F.round(
                        F.sum(
                            F.round(
                                F.element_at("v", d + 1) * KMEANS_SUM_SCALE
                            ).cast("long")
                        )
                        / (F.count(F.lit(1)) * F.lit(KMEANS_SUM_SCALE)),
                        round_digits,
                    ).alias(f"m{d}")
                    for d in range(dim)
                ],
            )
            .collect()
        )
        new = [list(c) for c in cents]
        for row in means:
            if row["n"] > 0:
                new[row["cell"]] = [float(row[f"m{d}"]) for d in range(dim)]
        cents = new
    for bc in broadcasts:
        bc.unpersist()
    assert len(cents) == k
    return cents


# --- persisted (written-out) indexes ---------------------------------------
# At 100 TB the index build is a separate, amortized job: the cell/bucket
# table is WRITTEN partitioned by its routing column, and every probe's
# cell/bucket filter becomes partition pruning — the corpus is never
# rescanned per query (tests assert PartitionFilters appears in the probe
# plan). Centroids ride along as a tiny parquet sidecar so the index is
# self-contained on any Spark-supported filesystem.


def save_ivf_index(
    embeddings: DataFrame, path: str, n_centroids: int = N_CENTROIDS
) -> None:
    """Build and write an IVF index: the ``cells`` generation,
    partitioned by ``cell``, carrying a ``centroids`` sidecar."""
    cents, index = build_ivf_index(embeddings, n_centroids)
    spark = embeddings.sparkSession
    _install_index_base(
        index, path, "ivf",
        lambda gen_dir: _write_centroids_sidecar(spark, gen_dir, cents),
    )
    index.unpersist()


def load_ivf_index(
    spark, path: str
) -> tuple[list[list[float]], DataFrame]:
    """Read a saved IVF index; the returned pair plugs straight into
    ``ann_ivf_topk(..., index=...)``."""
    return _load_centroids(spark, path), _load_index_rows(spark, path, "ivf")


def append_to_ivf_index(new_embeddings: DataFrame, path: str) -> None:
    """Incremental IVF refresh (:func:`append_to_index` core): route
    ONLY the new vectors under the SAVED centroids — how production IVF
    serves inserts between re-trains (re-train = a fresh
    :func:`save_ivf_index` / :func:`kmeans_refine_centroids` pass);
    probes see old + new identically to a same-centroid rebuild
    (tests/test_incremental.py)."""
    append_to_index(new_embeddings, path, "ivf")


def _encode_ivf_rows(
    new_embeddings: DataFrame, path: str, structure=None
) -> DataFrame:
    spark = new_embeddings.sparkSession
    cents = structure if structure is not None else _load_centroids(spark, path)
    cell_udf = _make_cell_udf(spark.sparkContext.broadcast(cents))
    return new_embeddings.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        cell_udf("embedding").alias("cell"),
    )


#: per-cell occupancy skew worth alarming on. The round-8 drift
#: measurement (PLANS.md) found IVF RECALL is drift-robust — stale
#: centroids hold recall at 1.000 because the drifted region concentrates
#: into few cells — so the REAL failure mode of serving appends is
#: operational: the absorbing cell's posting list grows unboundedly and
#: every probe that routes there scans it (probe cost ∝ occupancy, and at
#: a written index one partition holds a corpus-scale share). With the
#: drifted mass at the measured ~10% re-train threshold landing in ~1 of
#: 16 cells, that cell reads ~2.6× the mean; 4× of the EXPECTED mean is
#: past any balanced regime and means one cell serves ≥ a quarter of a
#: 16-cell corpus — re-train (re-seed) or split before it compounds.
OCCUPANCY_SKEW_ALARM = 4.0


def index_occupancy_stats(
    cells: DataFrame, n_cells: int | None = None, cell_col: str = "cell"
) -> DataFrame:
    """Per-cell occupancy of an IVF index's cell table (in-memory or the
    read-back ``path/cells``): ``(cell, n_vecs, share, skew_ratio)``
    where ``skew_ratio`` = n_vecs / (total / n_cells) — 1.0 is perfectly
    balanced, ``OCCUPANCY_SKEW_ALARM`` is the documented re-train/split
    alarm. Pass ``n_cells`` (the centroid count) to include EMPTY cells
    as zero rows — a cell the router never picks is the mirror symptom
    of an absorbing one.

    This is the monitor the PLANS.md drift findings prescribe for IVF
    appends ("watch per-cell occupancy skew instead" of recall): one
    map-side-combined groupBy over the cell column (at a written index,
    one count per partition directory — metadata-cheap) joined against a
    broadcast 1-row total; no shuffle of vector payloads."""
    spark = cells.sparkSession
    counts = cells.groupBy(F.col(cell_col).cast("int").alias("cell")).agg(
        F.count(F.lit(1)).alias("n_vecs")
    )
    if n_cells is not None:
        all_cells = spark.range(n_cells).select(F.col("id").cast("int").alias("cell"))
        counts = all_cells.join(counts, "cell", "left").select(
            "cell", F.coalesce("n_vecs", F.lit(0)).alias("n_vecs")
        )
    total = counts.select(F.sum("n_vecs").alias("_total"), F.count(F.lit(1)).alias("_ncells"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "cell",
            "n_vecs",
            (F.col("n_vecs") / F.col("_total")).alias("share"),
            (F.col("n_vecs") * F.col("_ncells") / F.col("_total")).alias(
                "skew_ratio"
            ),
        )
    )


def save_lsh_index(
    embeddings: DataFrame, path: str, n_planes: int = N_PLANES
) -> None:
    """Build and write an LSH index partitioned by ``bucket``. The
    hyperplanes are deterministic FROM ``n_planes``, but ``n_planes``
    itself is not recoverable from the rows (r13 review: an append or
    probe that assumed the default against a 12-plane index silently
    missed every appended vector), so it is recorded in an ``lsh_meta``
    sidecar that :func:`append_to_lsh_index` and
    :func:`saved_lsh_n_planes` resolve — the centroids/codebooks-sidecar
    pattern. The sidecar is STAGED INSIDE the generation and installs
    atomically with the buckets it describes (r16, closing the r14/r15
    ordering trade): no crash or self-heal ordering can produce a
    non-default base without its meta (the silent-default hazard) or a
    new-plane meta fronting old-plane buckets (the re-save mismatch
    window) — the two failure modes that forced a pick-your-poison
    ordering when the meta lived outside the generation."""
    spark = embeddings.sparkSession
    index = build_lsh_index(embeddings, n_planes)

    def sidecars(gen_dir: str) -> None:
        one_slice_rows(spark, [(int(n_planes),)], "n_planes int").write.mode(
            "overwrite"
        ).parquet(f"{gen_dir}/lsh_meta")

    _install_index_base(index, path, "lsh", sidecars)
    index.unpersist()


def saved_lsh_n_planes(spark, path: str) -> int:
    """The n_planes a written LSH index was SAVED with (``lsh_meta``
    sidecar). :func:`save_lsh_index` always writes it, so a missing
    sidecar means a crashed or foreign layout and is refused loudly (the
    :func:`_load_centroids` contract) — assuming the default would
    silently bucket appends into a different code space."""
    meta_p = _sidecar_path(spark, path, "lsh_meta")
    if not lsm.path_exists(spark, meta_p):
        raise ValueError(f"no lsh_meta sidecar at {meta_p}")
    return int(spark.read.parquet(meta_p).first()["n_planes"])


def load_lsh_index(spark, path: str) -> DataFrame:
    return _load_index_rows(spark, path, "lsh")


def ann_lsh_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = DEFAULT_K,
    n_planes: int = N_PLANES,
    probe_hamming: int = 1,
    index: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: score only vectors in LSH buckets within
    ``probe_hamming`` bits of the query's bucket (multi-probe LSH).

    Pass ``index=build_lsh_index(embeddings)`` to amortize the build across
    queries; the probe is a popcount filter + exact cosine on survivors."""
    idx = index if index is not None else build_lsh_index(embeddings, n_planes)
    planes = hyperplanes(n_planes, dim=64)
    q = _query_vector_from_index(idx, query_vec_id)
    qlit = double_array_literal(q)

    # query bucket computed the same deterministic way as the data buckets
    q_bucket = 0
    for p, plane in enumerate(planes):
        if sum(x * y for x, y in zip(q, plane)) >= 0:
            q_bucket |= 1 << p

    return (
        idx.filter(F.col("vec_id") != query_vec_id)
        .filter(
            F.bit_count(F.col("bucket").bitwiseXOR(F.lit(q_bucket)))
            <= probe_hamming
        )
        .select("vec_id", cosine(F.col("v"), qlit).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )


# --- product quantization (PQ) ---------------------------------------------

PQ_M = 8  # subspaces (64-dim embeddings -> 8 dims per subspace)
PQ_K = 16  # centroids per sub-codebook -> codes fit a nibble; 16x compression

#: same near-tie contract as _GAP_EPS: outside this margin on squared-L2,
#: numpy's pairwise summation provably cannot flip the argmin vs the
#: oracle's sequential fold
_PQ_GAP_EPS = 1e-6


def _py_d2(a: list[float], b: list[float]) -> float:
    """Sequential-fold squared L2 — the PQ twin of :func:`_py_cosine`,
    ascending-dimension accumulation matching the oracle's
    list_sum(list_transform(range(...)))."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += (x - y) * (x - y)
    return acc


def pq_codebooks(
    embeddings: DataFrame, m: int = PQ_M, k: int = PQ_K,
    representative: bool = False,
) -> list[list[list[float]]]:
    """Deterministic sub-codebooks: subspace slices of the ``k`` vectors
    with the smallest vec_ids (the :func:`ivf_centroids` determinism trick,
    per subspace) — ``codebooks[s][j]`` is centroid j of subspace s. A
    production index k-means-refines these per subspace (the
    :func:`kmeans_refine_centroids` pattern applies verbatim in each
    subspace); the index structure and the replayable-assignment contract
    are identical either way. ``representative=True`` is the drift
    RE-SEED knob (see :func:`ivf_centroids`): md5-hash-ordered seeds
    span every current region, which the PLANS.md round-8 measurement
    shows is what recovers PQ recall after out-of-distribution ingest —
    Lloyd's from all-base seeds cannot."""
    order = (
        [h60(F.col("vec_id").cast("string")).asc(), F.col("vec_id").asc()]
        if representative
        else [F.col("vec_id").asc()]
    )
    rows = embeddings.orderBy(*order).limit(k).select("embedding").collect()
    if not rows:
        raise ValueError("cannot build a PQ index over an empty embeddings table")
    vecs = [[float(x) for x in r["embedding"]] for r in rows]
    d0 = len(vecs[0]) // m
    if d0 == 0:
        raise ValueError(
            f"embedding dim {len(vecs[0])} smaller than m={m} subspaces"
        )
    if len(vecs[0]) % m:
        # loud refusal (r13 review): every PQ consumer slices m*d0 dims,
        # so a non-divisible dim would SILENTLY drop the trailing
        # dimensions from codes, ADC distances, and the OOD monitor alike
        raise ValueError(
            f"embedding dim {len(vecs[0])} not divisible by m={m} "
            f"subspaces — the trailing {len(vecs[0]) % m} dims would be "
            "silently ignored by coding/ADC; pick m dividing the dim or "
            "pad the vectors"
        )
    # fewer rows than k just yields a smaller sub-codebook (codes stay
    # valid: argmin over len(rows) centroids; tests/test_degenerate.py)
    return [[v[s * d0 : (s + 1) * d0] for v in vecs] for s in range(m)]


def _make_pq_codes_udf(sc, cbs: list[list[list[float]]]):
    """Arrow-batched per-subspace argmin-squared-L2 assignment (first
    centroid wins ties; near-tie rows recomputed with the sequential
    `_py_d2` fold so codes replay bit-identically in the DuckDB oracle —
    the `_make_cell_udf` contract, per subspace). Shared by the index
    build and the Lloyd's codebook refiner; returns (udf, broadcast) so
    iterative callers can unpersist the broadcast."""
    import numpy as np
    from pyspark.sql import types as T

    d0 = len(cbs[0][0])
    bc = sc.broadcast([[list(map(float, c)) for c in cb] for cb in cbs])

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def codes_udf(emb: pd.Series) -> pd.Series:
        cbs_v = bc.value
        C = [np.asarray(cb, dtype=np.float64) for cb in cbs_v]  # [s] (k, d0)
        if len(emb) == 0:
            return pd.Series([], dtype=object)
        M = np.stack([np.asarray(v, dtype=np.float64) for v in emb.to_numpy()])
        out = np.empty((len(M), len(C)), dtype=np.int32)
        for s, Cs in enumerate(C):
            S = M[:, s * d0 : (s + 1) * d0]
            D = ((S[:, None, :] - Cs[None, :, :]) ** 2).sum(axis=-1)
            best = np.argmin(D, axis=1)
            rows = np.arange(len(S))
            runner = D.copy()
            runner[rows, best] = np.inf
            margin = runner.min(axis=1) - D[rows, best]
            for i in np.nonzero(margin < _PQ_GAP_EPS)[0]:
                exact = [_py_d2(list(S[i]), list(c)) for c in cbs_v[s]]
                best[i] = min(range(len(exact)), key=lambda j: (exact[j], j))
            out[:, s] = best
        return pd.Series([[int(c) for c in row] for row in out])

    return codes_udf, bc


def build_pq_index(
    embeddings: DataFrame,
    m: int = PQ_M,
    k_cb: int = PQ_K,
    codebooks: list[list[list[float]]] | None = None,
) -> tuple[list[list[list[float]]], DataFrame]:
    """The build side of the PQ index: (codebooks, codes table).

    Each vector compresses to ``m`` nibble codes — (vec_id, codes) is the
    WHOLE scan target at query time, 16× smaller than the float32 rows
    (64×4 bytes → m×1), which is the 100 TB play: ADC scoring reads only
    the code table; raw vectors are touched never (vs q8's 4× and
    IVF's partition pruning — PQ trades recall for the smallest scan).
    Assignment per subspace is argmin squared-L2, first centroid wins
    ties; numpy-batched with the near-tie sequential-fold fallback (the
    `_make_cell_udf` contract), so codes replay bit-identically in the
    DuckDB oracle. Pass ``codebooks=pq_refine_codebooks(...)`` for the
    production-quality Lloyd's-refined index."""
    cbs = codebooks if codebooks is not None else pq_codebooks(embeddings, m, k_cb)
    codes_udf, _bc = _make_pq_codes_udf(embeddings.sparkSession.sparkContext, cbs)
    index = _materialized(
        embeddings.select("vec_id", codes_udf("embedding").alias("codes"))
    )
    return cbs, index


def pq_refine_codebooks(
    embeddings: DataFrame,
    codebooks: list[list[list[float]]] | None = None,
    m: int = PQ_M,
    k_cb: int = PQ_K,
    iterations: int = 2,
    round_digits: int = KMEANS_ROUND_DIGITS,
) -> list[list[list[float]]]:
    """Lloyd's k-means refinement of the PQ sub-codebooks — the
    :func:`kmeans_refine_centroids` pattern applied per subspace, exactly
    as its docstring promised: each iteration assigns every vector's
    subspace slices to their nearest sub-centroids (the shared
    `_make_pq_codes_udf` kernel — ALL m subspaces in one distributed
    pass), then reduces per-(subspace, code) slice means via one
    map-side-combined groupBy; only m×k_cb×(d0+1) numbers reach the
    driver per iteration. Empty codes keep their previous centroid.

    Same engine-parity contract as the IVF refiner: per-dim sums run in
    scaled-integer space (``KMEANS_SUM_SCALE`` — exact, order-free on
    both engines) and the means round to the ``round_digits`` grid, so
    both engines hold bit-identical centroids and the fixed-iteration
    loop unrolls into DuckDB CTEs (oracles_beyond.ann_pq_kmeans_topk)
    for full hash-checking."""
    sc = embeddings.sparkSession.sparkContext
    cbs = (
        [[list(map(float, c)) for c in cb] for cb in codebooks]
        if codebooks is not None
        else pq_codebooks(embeddings, m, k_cb)
    )
    d0 = len(cbs[0][0])
    broadcasts = []
    for _ in range(iterations):
        codes_udf, bc = _make_pq_codes_udf(sc, cbs)
        broadcasts.append(bc)
        means = (
            embeddings.select(
                F.col("embedding").cast("array<double>").alias("v"),
                F.posexplode(codes_udf("embedding")).alias("s", "code"),
            )
            .groupBy("s", "code")
            .agg(
                F.count(F.lit(1)).alias("n"),
                *[
                    F.round(
                        F.sum(
                            F.round(
                                F.element_at("v", F.col("s") * d0 + d + 1)
                                * KMEANS_SUM_SCALE
                            ).cast("long")
                        )
                        / (F.count(F.lit(1)) * F.lit(KMEANS_SUM_SCALE)),
                        round_digits,
                    ).alias(f"m{d}")
                    for d in range(d0)
                ],
            )
            .collect()
        )
        new = [[list(c) for c in cb] for cb in cbs]
        for row in means:
            if row["n"] > 0:
                new[row["s"]][row["code"]] = [
                    float(row[f"m{d}"]) for d in range(d0)
                ]
        cbs = new
    for bc in broadcasts:
        bc.unpersist()
    return cbs


def save_pq_index(
    embeddings: DataFrame,
    path: str,
    m: int = PQ_M,
    k_cb: int = PQ_K,
    codebooks: list[list[list[float]]] | None = None,
) -> None:
    """Build and write a PQ index: the ``codes`` generation (the
    16×-compressed scan target — written plain: ADC scans it whole,
    there is no routing column; IVFADC adds one via the IVF index)
    carrying a ``codebooks``
    sidecar + ``ood_ref`` (the base corpus's ``PQ_OOD_QUANTILE``
    quantization-error quantile and size — the drift reference
    :func:`~...streaming.ingest.index_ingest_sink` monitors appended
    batches against). Pass ``codebooks=pq_refine_codebooks(...)`` to
    persist the Lloyd's-refined build."""
    cbs, codes = build_pq_index(embeddings, m, k_cb, codebooks)
    spark = embeddings.sparkSession
    # OOD reference computed BEFORE install (it reads embeddings, not
    # the written base) so the sidecar closure is pure writes
    qerr = pq_quantization_error(embeddings, cbs)
    threshold = qerr.approxQuantile("qerr", [PQ_OOD_QUANTILE], 0.0)[0]
    n_base = embeddings.count()

    def sidecars(gen_dir: str) -> None:
        _write_codebooks_sidecar(spark, gen_dir, cbs)
        _write_pq_ood_ref(spark, gen_dir, threshold, n_base, PQ_OOD_QUANTILE)

    _install_index_base(codes, path, "pq", sidecars)
    codes.unpersist()


def load_pq_index(
    spark, path: str
) -> tuple[list[list[list[float]]], DataFrame]:
    """Read a saved PQ index; the returned pair plugs straight into
    ``ann_pq_topk(..., index=...)`` / ``ann_ivfpq_topk(..., pq_index=...)``."""
    return _load_codebooks(spark, path), _load_index_rows(spark, path, "pq")


def append_to_pq_index(new_embeddings: DataFrame, path: str) -> None:
    """Incremental PQ refresh (:func:`append_to_index` core): encode
    ONLY the new vectors under the SAVED codebooks; ADC probes pinned
    identical to a same-codebook rebuild (tests/test_incremental.py).
    Codebook drift is the trade, as with every quantized index serving
    inserts between re-trains."""
    append_to_index(new_embeddings, path, "pq")


def _encode_pq_rows(
    new_embeddings: DataFrame, path: str, structure=None
) -> DataFrame:
    spark = new_embeddings.sparkSession
    cbs = structure if structure is not None else _load_codebooks(spark, path)
    codes_udf, _bc = _make_pq_codes_udf(spark.sparkContext, cbs)
    return new_embeddings.select("vec_id", codes_udf("embedding").alias("codes"))


# --- composed IVFADC written layout -----------------------------------------


def save_ivfpq_index(
    embeddings: DataFrame,
    path: str,
    n_centroids: int = N_CENTROIDS,
    m: int = PQ_M,
    k_cb: int = PQ_K,
) -> None:
    """The IVFADC layout as ONE written table: (vec_id, v, codes)
    partitioned by ``cell`` — cell routing and PQ codes live in the same
    row, so a probe is a partition-pruned scan with the ADC lookup inline
    and NO join (the billion-scale layout of Jégou et al. 2011 §V; the
    separate-index composition ``ann_ivfpq_topk`` joins per probe
    instead, which is the right shape only while both structures are
    session-cached). Sidecars: ``centroids`` + ``codebooks`` + ``ood_ref``
    (same formats as the standalone indexes — the OOD drift monitor
    covers this kind too, r14). ``v`` rides along for query
    lookup and exact re-ranking — a deployment trimming bytes drops it
    and keeps a separate id→vector table for the re-rank tier."""
    cents, cells = build_ivf_index(embeddings, n_centroids)
    cbs, codes = build_pq_index(embeddings, m, k_cb)
    spark = embeddings.sparkSession
    # ood_ref sidecar (r14, closing the r13 follow-up): the PQ half of
    # the composed layout drifts exactly like a standalone PQ index, so
    # the same quantization-error reference is written and
    # index_ingest_sink(kind="ivfpq") monitors it
    qerr = pq_quantization_error(embeddings, cbs)
    threshold = qerr.approxQuantile("qerr", [PQ_OOD_QUANTILE], 0.0)[0]
    n_base = embeddings.count()

    def sidecars(gen_dir: str) -> None:
        _write_centroids_sidecar(spark, gen_dir, cents)
        _write_codebooks_sidecar(spark, gen_dir, cbs)
        _write_pq_ood_ref(spark, gen_dir, threshold, n_base, PQ_OOD_QUANTILE)

    _install_index_base(
        cells.join(codes, "vec_id"),  # one-time build-side join
        path,
        "ivfpq",
        sidecars,
    )
    cells.unpersist()
    codes.unpersist()


def append_to_ivfpq_index(new_embeddings: DataFrame, path: str) -> None:
    """Incremental IVFADC refresh (:func:`append_to_index` core): route
    AND encode only the new vectors under the saved centroids +
    codebooks; probes pinned identical to a same-structure rebuild
    (tests/test_incremental.py). Drift policy per PLANS.md — IVF routing
    needs no re-train, re-train the PQ half (re-seeded) past ~10% OOD
    mass."""
    append_to_index(new_embeddings, path, "ivfpq")


def _encode_ivfpq_rows(
    new_embeddings: DataFrame, path: str, structure=None
) -> DataFrame:
    spark = new_embeddings.sparkSession
    cents, cbs = (
        structure
        if structure is not None
        else (_load_centroids(spark, path), _load_codebooks(spark, path))
    )
    cell_udf = _make_cell_udf(spark.sparkContext.broadcast(cents))
    codes_udf, _bc = _make_pq_codes_udf(spark.sparkContext, cbs)
    return new_embeddings.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        cell_udf("embedding").alias("cell"),
        codes_udf("embedding").alias("codes"),
    )


def load_ivfpq_index(spark, path: str):
    """Read a composed IVFADC index → (centroids, codebooks, table);
    plugs into ``ann_ivfpq_topk(..., composed_index=...)``."""
    return (
        _load_centroids(spark, path),
        _load_codebooks(spark, path),
        _load_index_rows(spark, path, "ivfpq"),
    )


# --- PQ drift monitoring (out-of-distribution mass → re-seed trigger) -------

#: base-distribution quantile defining "out of distribution": a vector
#: whose total quantization error exceeds the base corpus's this-quantile
#: error is not represented by the trained codebooks. 0.99 keeps the
#: false-OOD rate on in-distribution traffic at ~1%.
PQ_OOD_QUANTILE = 0.99

#: cumulative OOD share of the corpus at which the PLANS.md round-8 drift
#: measurement says PQ must re-train with RE-SEEDED codebooks
#: (representative=True): stale recall degrades 0.150→0.025 as the OOD
#: fraction grows past ~10%, and re-running Lloyd without re-seeding does
#: not recover it.
PQ_OOD_RETRAIN_FRACTION = 0.10


def pq_quantization_error(
    embeddings: DataFrame, cbs: list[list[list[float]]]
) -> DataFrame:
    """Per-vector total quantization error under the given sub-codebooks:
    ``(vec_id, qerr)`` where qerr = Σ_subspaces min_centroid ‖slice −
    centroid‖². This is the quantity PQ minimizes at train time, so its
    base-corpus distribution IS the in-distribution reference; a batch
    vector far above the base quantile lives where the codebooks have no
    coverage. One Arrow-batched numpy pass (m small matmuls per batch),
    zero shuffle."""
    spark = embeddings.sparkSession
    bc = spark.sparkContext.broadcast([[list(c) for c in cb] for cb in cbs])

    @F.pandas_udf("double")
    def qerr_udf(emb: pd.Series) -> pd.Series:
        import numpy as np

        if len(emb) == 0:
            return pd.Series([], dtype="float64")
        codebooks = bc.value
        M = np.stack([np.asarray(v, dtype=np.float64) for v in emb.to_numpy()])
        m = len(codebooks)
        d = M.shape[1] // m
        total = np.zeros(len(M), dtype=np.float64)
        for s, cb in enumerate(codebooks):
            X = M[:, s * d : (s + 1) * d]
            C = np.asarray(cb, dtype=np.float64)
            # ‖x−c‖² = ‖x‖² − 2x·c + ‖c‖², min over centroids
            d2 = (
                np.einsum("ij,ij->i", X, X)[:, None]
                - 2.0 * (X @ C.T)
                + np.einsum("ij,ij->i", C, C)[None, :]
            )
            total += d2.min(axis=1)
        return pd.Series(total)

    return embeddings.select("vec_id", qerr_udf("embedding").alias("qerr"))


def _write_pq_ood_ref(
    spark, gen_dir: str, qerr_threshold: float, base_n: int, quantile: float
) -> None:
    """Write the ``ood_ref`` sidecar into a (staged) generation dir."""
    one_slice_rows(
        spark,
        [(float(qerr_threshold), int(base_n), float(quantile))],
        "qerr_threshold double, base_n long, quantile double",
    ).write.mode("overwrite").parquet(f"{gen_dir}/ood_ref")


def load_pq_ood_ref(spark, path: str):
    """The saved OOD reference ``(qerr_threshold, base_n, quantile)``, or
    ``None`` for indexes saved before the monitor existed (monitoring
    then stays off rather than inventing a threshold)."""
    from pyspark.errors import AnalysisException

    try:
        row = spark.read.parquet(_sidecar_path(spark, path, "ood_ref")).first()
    except AnalysisException:
        return None
    if row is None:
        return None
    return float(row["qerr_threshold"]), int(row["base_n"]), float(row["quantile"])


def append_to_lsh_index(new_embeddings: DataFrame, path: str) -> None:
    """Incremental LSH refresh (:func:`append_to_index` core): bucket
    ONLY the new vectors under the SAVED n_planes (``lsh_meta`` sidecar
    — r13: the default-plane assumption silently bucketed appends into a
    different code space); results match a full rebuild exactly (no
    trained state, no drift trade)."""
    append_to_index(new_embeddings, path, "lsh")


def _encode_lsh_rows(
    new_embeddings: DataFrame, path: str, structure=None
) -> DataFrame:
    n_planes = (
        structure
        if structure is not None
        else saved_lsh_n_planes(new_embeddings.sparkSession, path)
    )
    return build_lsh_index(new_embeddings, n_planes)


#: per-kind append row encoder: resolve the saved structure sidecars and
#: produce delta rows in the kind's base schema
_INDEX_ENCODERS = {
    "ivf": _encode_ivf_rows,
    "ivfpq": _encode_ivfpq_rows,
    "lsh": _encode_lsh_rows,
    "pq": _encode_pq_rows,
}


def load_index_structure(spark, path: str, kind: str):
    """The saved routing structure an append encodes new vectors under —
    centroids (ivf), codebooks (pq), (centroids, codebooks) (ivfpq), or
    n_planes (lsh). A long-running sink resolves this ONCE (the
    ``_StateHandles`` discipline) and threads it through
    ``append_to_index(structure=...)``, removing the per-epoch
    sidecar-collect job from the append's fixed cost (VERDICT r15 #6);
    re-resolve after a re-train (sidecars change only then — compaction
    carries them verbatim)."""
    if kind == "ivf":
        return _load_centroids(spark, path)
    if kind == "pq":
        return _load_codebooks(spark, path)
    if kind == "ivfpq":
        return _load_centroids(spark, path), _load_codebooks(spark, path)
    if kind == "lsh":
        return saved_lsh_n_planes(spark, path)
    raise ValueError(f"unknown index kind {kind!r}")


def append_to_index(
    new_embeddings: DataFrame, path: str, kind: str, structure=None
) -> None:
    """The single LSM append core behind all four ``append_to_*_index``
    wrappers (r14 consolidation — r13's deep review fixed the same bug
    once per layout; the lifecycle now lives here once): refuse
    tombstoned ids (a live tombstone would silently suppress the rows at
    every read), encode ONLY the new vectors under the index's SAVED
    structure (centroids / codebooks / n_planes — resolved via the
    sidecar loaders, loud on absence), and write ONE flat file into
    the generation's delta (:func:`_append_index_rows`); reads union the
    delta, :func:`compact_index` folds it back. ``structure``: a
    pre-resolved :func:`load_index_structure` value — skips the
    per-append sidecar jobs for amortizing callers."""
    _refuse_tombstoned(new_embeddings, path)
    sub, _ = _INDEX_TABLES[kind]
    rows = _INDEX_ENCODERS[kind](new_embeddings, path, structure)
    _append_index_rows(rows, path, sub)
    rows.unpersist()  # no-op unless the encoder persisted (lsh build)


def _adc_lut(
    cbs: list[list[list[float]]], q: list[float]
) -> list[list[float]]:
    """Per-(subspace, centroid) squared-L2 partials between the query's
    subspace slices and the codebooks — THE one place the ADC fold
    contract lives on the Spark side (sequential `_py_d2`, ascending
    dims), shared by ann_pq_topk and ann_ivfpq_topk so an eps/fold change
    cannot desync them."""
    d0 = len(cbs[0][0])
    return [
        [_py_d2(q[s * d0 : (s + 1) * d0], c) for c in cbs[s]]
        for s in range(len(cbs))
    ]


def _adc_score(lut: list[list[float]]):
    """codes → ADC distance: m literal-array lookups summed in a FIXED
    left-to-right chain (ascending subspace), matching the oracle's
    ordered-list fold."""
    score = None
    for s, row in enumerate(lut):
        term = F.element_at(
            F.array(*[F.lit(float(v)) for v in row]),
            F.col("codes").getItem(s) + F.lit(1),
        )
        score = term if score is None else score + term
    return score


def ann_pq_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = DEFAULT_K,
    m: int = PQ_M,
    k_cb: int = PQ_K,
    index: tuple[list[list[list[float]]], DataFrame] | None = None,
) -> DataFrame:
    """PQ approximate top-k by asymmetric distance computation (ADC):
    score = Σ_s LUT[s][code_s], where LUT[s][j] is the squared L2 between
    the query's subspace-s slice and codebook centroid j — computed once
    driver-side (m×k_cb sequential folds over d0 dims, ~1k multiplies),
    then applied to each row as m literal-array lookups + a fixed
    left-to-right chain of adds, all inside whole-stage codegen. Nearest =
    smallest ADC distance; ties cut by vec_id asc. TakeOrdered sends k
    rows to the driver — the scan is the code table only.

    Jégou, Douze, Schmid 2011 "Product Quantization for Nearest Neighbor
    Search" (TPAMI) — the standard memory-bound ANN for corpus-scale
    embedding search."""
    cbs, codes = (
        index if index is not None else build_pq_index(embeddings, m, k_cb)
    )
    q = _query_vector(embeddings, query_vec_id)
    score = _adc_score(_adc_lut(cbs, q))
    return (
        codes.filter(F.col("vec_id") != query_vec_id)
        .select("vec_id", score.alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc("vec_id"))
        .limit(k)
    )


def ann_ivfpq_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = DEFAULT_K,
    n_probe: int = 4,
    ivf_index: tuple[list[list[float]], DataFrame] | None = None,
    pq_index: tuple[list[list[list[float]]], DataFrame] | None = None,
    composed_index=None,
) -> DataFrame:
    """IVF+PQ composition: route the query to its ``n_probe`` nearest IVF
    cells, then rank ONLY those cells' vectors by PQ ADC distance — the
    two index structures compose multiplicatively: the cell routing skips
    (1 - n_probe/n_cells) of the corpus via partition pruning and the PQ
    codes shrink what IS read by 16×. At cluster scale this is one written
    table (vec_id, codes) partitioned by cell — the standard
    billion-scale ANN layout (IVFADC of Jégou et al. 2011; this variant
    encodes raw vectors rather than cell residuals, which keeps one shared
    codebook set and lets the oracle replay both structures unchanged —
    residual encoding is the production refinement and slots into the same
    plan shape).

    Reuses both session-cached indexes; the probe-time join keys the two
    small index tables on vec_id. Pass ``composed_index``
    (:func:`load_ivfpq_index`) instead to probe the WRITTEN IVFADC
    layout: cell and codes live in the same row, so the probe is a
    partition-pruned scan with the ADC lookup inline and no join at all
    — result-identical, plan-asserted in tests/test_ann_index.py."""
    if composed_index is not None:
        cents, cbs, table = composed_index
        q = _query_vector_from_index(table, query_vec_id)
        probes = sorted(
            range(len(cents)), key=lambda i: (-_py_cosine(cents[i], q), i)
        )[:n_probe]
        score = _adc_score(_adc_lut(cbs, q))
        return (
            table.filter(
                F.col("cell").isin(probes) & (F.col("vec_id") != query_vec_id)
            )
            .select("vec_id", score.alias("adc_dist"))
            .orderBy(F.asc("adc_dist"), F.asc("vec_id"))
            .limit(k)
        )
    cents, cells = (
        ivf_index if ivf_index is not None else build_ivf_index(embeddings)
    )
    cbs, codes = (
        pq_index if pq_index is not None else build_pq_index(embeddings)
    )
    q = _query_vector_from_index(cells, query_vec_id)
    probes = sorted(
        range(len(cents)), key=lambda i: (-_py_cosine(cents[i], q), i)
    )[:n_probe]
    score = _adc_score(_adc_lut(cbs, q))
    return (
        cells.filter(
            F.col("cell").isin(probes) & (F.col("vec_id") != query_vec_id)
        )
        .select("vec_id")
        .join(codes, "vec_id")
        .select("vec_id", score.alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc("vec_id"))
        .limit(k)
    )
