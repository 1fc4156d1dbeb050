"""Shared LSM lifecycle for written state tables (r15, VERDICT r14 #2;
generation layout r16, VERDICT r15 #1).

Both operator families that maintain amortized disk state — the written
ANN indexes (:mod:`operators.similarity`: ivf/ivfpq cells, lsh buckets,
pq codes) and the banded minhash dedup state (:mod:`operators.dedup`) —
follow the SAME lifecycle: a routing-partitioned BASE installed by
staged write + swap, a flat one-file-per-append DELTA, reads that
self-heal an interrupted swap then union the delta and drop tombstoned
ids, and a periodic compaction that folds the delta back. Rounds 13/14
showed the pattern maintained twice breeds duplicated bug crops (each
crash-window ordering had to be found and fixed on each side
separately), so the disk-shape primitives live here ONCE, parameterized
by layout (subdir, partition columns, id column). The two
families keep their own ORCHESTRATION — what a save writes, when
compaction rewrites its source of truth — and delegate every shared
disk decision to these functions.

GENERATION LAYOUT (v2, r16). A table's live directory is a GENERATION —
one directory holding the data, its sidecars, and its journal, installed
by ONE rename::

    {path}/{sub}/              <- the live generation
        data/                  <- the table (partitionBy part_cols)
        delta/                 <- flat append journal (absent = empty)
        deleted_ids/           <- tombstones  (absent = none)
        <sidecars>/            <- caller-written structure tables
                                  (centroids, codebooks, lsh_meta, ...)

Because sidecars and the (empty) journal are staged INSIDE ``{sub}_new``
and the whole directory swaps at once, the two residual crash windows
the r15 review documented as deliberate trades no longer exist at all:
there is no instant where a new sidecar fronts an old base (the
lsh_meta/banded_ptmod mismatch windows), and no instant where an old
base is live with its tombstones cleared (the resurrected-deletes
window) — a save's journal reset IS the swap. The one remaining window,
between the live-dir delete and the rename inside :func:`swap_base`,
self-heals deterministically at the next read/append/delete
(:func:`self_heal_swap`): the staged directory is always COMPLETE
before the live delete starts, so healing installs a consistent
generation.

Measured properties inherited from both parents (full provenance in the
callers' docstrings): dynamic-partition appends pay 3.6-5.7 s/batch of
committer overhead → appends are flat; uncoalesced appends make
deep-delta reads FILE-OPEN-bound (8.7 s at ~5000 files vs noise at 160)
→ one file per append; an unclustered partitionBy write splinters the
base into a file per task per dir (5× probe-read overhead) →
``repartition(part_cols)`` first; a partitionBy write of an EMPTY frame
emits only _SUCCESS, so later loads crash with UNABLE_TO_INFER_SCHEMA →
empty frames are written plain, keeping the schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_clickstream_processor_msk_spark.functions.parallel import (
    one_slice_rows,
)

#: table subdir inside a generation directory
DATA_SUB = "data"
#: journal subdirs inside a generation directory
DELTA_SUB = "delta"
TOMBSTONES_SUB = "deleted_ids"


def hadoop_fs(spark, p: str):
    """(FileSystem, Path) for ``p`` under the session's Hadoop conf —
    portable across local FS / HDFS / s3a."""
    sc = spark.sparkContext
    hp = sc._jvm.org.apache.hadoop.fs.Path(p)
    return hp.getFileSystem(sc._jsc.hadoopConfiguration()), hp


def path_exists(spark, p: str) -> bool:
    fs, hp = hadoop_fs(spark, p)
    return fs.exists(hp)


def delete_path(spark, p: str) -> None:
    """Recursive delete, no-op when absent."""
    fs, hp = hadoop_fs(spark, p)
    fs.delete(hp, True)


def copy_dir(spark, src: str, dst: str) -> bool:
    """Copy a (small) directory tree — used to carry sidecars from the
    live generation into a staged one at compaction (sidecars are
    structure, not rows; compaction must not lose them). Returns False
    when ``src`` is absent (optional sidecars)."""
    fs, sp = hadoop_fs(spark, src)
    if not fs.exists(sp):
        return False
    dp = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(dst)
    spark.sparkContext._jvm.org.apache.hadoop.fs.FileUtil.copy(
        fs, sp, fs, dp, False, True, spark.sparkContext._jsc.hadoopConfiguration()
    )
    return True


# --- path resolution ----------------------------------------------------------


def data_path(spark, path: str, sub: str) -> str:
    """The generation's table directory. Every resolver self-heals an
    interrupted swap first (:func:`self_heal_swap`), so whatever the
    caller reads, appends or deletes next lands in the installed
    generation, never in a half-made live dir."""
    self_heal_swap(spark, path, sub)
    return f"{path}/{sub}/{DATA_SUB}"


def delta_path(spark, path: str, sub: str) -> str:
    """The generation's append-journal directory (self-heals first)."""
    self_heal_swap(spark, path, sub)
    return f"{path}/{sub}/{DELTA_SUB}"


def tombstones_path(spark, path: str, sub: str) -> str:
    """The generation's tombstone directory (self-heals first). ``sub``
    is the generation that OWNS deletes for the state (the index data
    table; the dedup state's ``minhash_state`` source of truth)."""
    self_heal_swap(spark, path, sub)
    return f"{path}/{sub}/{TOMBSTONES_SUB}"


def sidecar_path(spark, path: str, sub: str, name: str) -> str:
    """A sidecar's directory inside the live generation (self-heals
    first)."""
    self_heal_swap(spark, path, sub)
    return f"{path}/{sub}/{name}"


def staged_dir(path: str, sub: str) -> str:
    """The staging directory a generation is built in before
    :func:`swap_base` installs it."""
    return f"{path}/{sub}_new"


# --- generation build + install ------------------------------------------------


def write_base_staged(
    rows: DataFrame, path: str, sub: str, part_cols: tuple[str, ...]
) -> None:
    """Start a staged generation: clear any stale staging dir (a crashed
    earlier save must not leak its sidecars into this generation), then
    write the data table to ``{sub}_new/data`` — clustered
    ``repartition(*part_cols)`` before ``partitionBy`` so the base stays
    ~one file per partition dir; an EMPTY partitioned frame is written
    plain instead (schema keeper — see module docstring). The caller
    then writes sidecars into :func:`staged_dir` and installs with
    :func:`swap_base`; the journal is empty by construction (absent
    subdirs)."""
    delete_path(rows.sparkSession, staged_dir(path, sub))
    if part_cols and rows.isEmpty():
        writer = rows.coalesce(1).write.mode("overwrite")
    elif part_cols:
        writer = (
            rows.repartition(*[F.col(c) for c in part_cols])
            .write.mode("overwrite")
            .partitionBy(*part_cols)
        )
    else:
        writer = rows.write.mode("overwrite")
    writer.parquet(f"{staged_dir(path, sub)}/{DATA_SUB}")


def swap_base(spark, path: str, sub: str) -> None:
    """Install the staged ``{sub}_new`` generation: delete the live dir,
    rename staged over it. Because the staged dir is COMPLETE (data +
    sidecars + empty journal) before the delete starts, this one rename
    atomically replaces base, sidecars, delta and tombstones together.
    The one crash window (staged present, live missing) self-heals in
    :func:`self_heal_swap` at the next read/append/delete."""
    fs, cur = hadoop_fs(spark, f"{path}/{sub}")
    staged = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(staged_dir(path, sub))
    fs.delete(cur, True)
    fs.rename(staged, cur)


def self_heal_swap(spark, path: str, sub: str) -> None:
    """Finish a crash-interrupted :func:`swap_base`: live dir missing but
    the staged dir present → rename it into place. No-op otherwise.
    Every mutation that could CREATE the live dir as a side effect
    (delta appends, tombstone writes — parquet ``mode("append")``
    creates missing parents) must run this first, or the staged
    generation would be orphaned behind a half-made live dir (r15
    review #2, now enforced inside the path resolvers)."""
    fs, cur = hadoop_fs(spark, f"{path}/{sub}")
    if not fs.exists(cur):
        staged = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(
            staged_dir(path, sub)
        )
        if fs.exists(staged):
            fs.rename(staged, cur)


def install_base(
    rows: DataFrame,
    path: str,
    sub: str,
    part_cols: tuple[str, ...],
    write_sidecars=None,
) -> None:
    """Shared generation install for every save/compact: stage the data
    table, let the caller write sidecars INTO the staged generation
    (``write_sidecars(staged_gen_dir)``), then install everything with
    one rename. The staged generation carries an empty journal by
    construction, so a re-save's delta + tombstone reset happens
    ATOMICALLY with the base swap — there is no ordering window where an
    old base is live with its deletes cleared, or a new sidecar fronts
    an old base (the two r15 trade windows, now structurally gone).
    Crash anywhere during staging: the old generation stays fully live
    and the next install clears the stale staging dir. Crash between the
    live delete and the rename: self-heals at the next access, and the
    healed generation is complete because staging finished before the
    delete began."""
    write_base_staged(rows, path, sub, part_cols)
    if write_sidecars is not None:
        write_sidecars(staged_dir(path, sub))
    swap_base(rows.sparkSession, path, sub)


# --- journal: appends -----------------------------------------------------------


def append_delta(rows: DataFrame, path: str, sub: str) -> None:
    """Flat delta append, coalesced to ONE parquet file — the append
    half of the LSM contract (module docstring). :func:`delta_path`
    self-heals an interrupted swap first: the append write would
    otherwise CREATE the live dir and orphan a staged generation."""
    rows.coalesce(1).write.mode("append").parquet(
        delta_path(rows.sparkSession, path, sub)
    )


def read_base_with_delta(spark, path: str, sub: str) -> DataFrame:
    """The LSM read path: self-heal an interrupted swap, read the base,
    union the flat delta when one exists (delta columns cast to the
    base's types — the base read surfaces routing columns as INFERRED
    partition columns whose physical types can differ). Tombstones are
    the caller's layer (:func:`apply_tombstones`)."""
    base = spark.read.parquet(data_path(spark, path, sub))
    dp = delta_path(spark, path, sub)
    if path_exists(spark, dp):
        delta = spark.read.parquet(dp)
        base = base.unionByName(
            delta.select(
                *[
                    F.col(f.name).cast(f.dataType).alias(f.name)
                    for f in base.schema.fields
                ]
            )
        )
    return base


# --- journal: tombstones (LSM deletes) ------------------------------------------


def write_tombstones(spark, path: str, sub: str, ids, id_col: str) -> None:
    """Tombstone ids out of a state: an O(ids) flat append to the
    generation's ``deleted_ids``; every read applies them
    (:func:`apply_tombstones`), compaction drops the rows physically and
    clears them (the staged generation carries none). ``ids``: an
    iterable or a DataFrame with an ``id_col`` column.
    :func:`tombstones_path` self-heals an interrupted swap first (same
    orphaning hazard as :func:`append_delta`)."""
    tomb = (
        ids
        if isinstance(ids, DataFrame)
        else one_slice_rows(
            spark, [(int(i),) for i in ids], f"{id_col} long"
        )
    )
    tomb.select(id_col).distinct().write.mode("append").parquet(
        tombstones_path(spark, path, sub)
    )


def load_tombstones(spark, path: str, sub: str) -> DataFrame | None:
    """The live tombstone set, or None when no deletes are pending (the
    existence probe is one filesystem stat — reads in the no-delete
    common case pay nothing)."""
    tp = tombstones_path(spark, path, sub)
    if not path_exists(spark, tp):
        return None
    return spark.read.parquet(tp)


def apply_tombstones(
    spark, path: str, sub: str, df: DataFrame, id_col: str
) -> DataFrame:
    """Filter a state read against live tombstones: a LEFT ANTI join on
    ``id_col`` — the deleted set is takedown-sized, so Catalyst
    broadcasts it and the filter costs one map-side hash probe per row;
    no-op (and no plan node at all) when no deletes are pending."""
    deleted = load_tombstones(spark, path, sub)
    if deleted is None:
        return df
    return df.join(F.broadcast(deleted.select(id_col)), id_col, "left_anti")


def refuse_tombstoned(
    rows: DataFrame, path: str, sub: str, id_col: str, compact_fn: str, noun: str
) -> None:
    """Append-side guard: re-adding a tombstoned id before a compaction
    has run is REFUSED — the live tombstone would silently suppress the
    re-added rows at every read (delete-then-readd requires a compact
    between). Shared by every index append and the dedup-state append."""
    deleted = load_tombstones(rows.sparkSession, path, sub)
    if deleted is None:
        return
    clash = (
        rows.join(F.broadcast(deleted.select(id_col)), id_col, "left_semi")
        .limit(5)
        .collect()
    )
    if clash:
        raise ValueError(
            f"{id_col}s {sorted(r[id_col] for r in clash)} are tombstoned "
            f"at {path}; run {compact_fn} before re-adding deleted {noun}"
        )
