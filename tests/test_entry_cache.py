"""Session-level caches in __spark_entry__ must survive an external
``spark.catalog.clearCache()`` (the bench harness calls it between timing
runs) without silently degrading. Since r15 the pairs artifact is backed
by an EAGER localCheckpoint instead of a CacheManager persist: the blocks
live in the block manager, clearCache cannot strip them, and the cut
lineage makes a silent md5-pipeline recompute impossible by construction
(VERDICT r14 #1 adjudication — PLANS.md "Round-15 measured scaling
notes" refuted the eviction theory: partition deficit 0 under 52 GB of
induced residue).
The BUILDER query (dedup_minhash_jaccard) deliberately bypasses the
cache and pays the full pipeline per run (the CACHE_DEPS contract).
"""

from __future__ import annotations

from types import SimpleNamespace

import __spark_entry__ as entry_mod
from conftest import SF_SMOKE


def test_minhash_pairs_cached_per_session(spark):
    p1 = entry_mod._minhash_pairs(spark, SF_SMOKE)
    assert entry_mod._minhash_pairs(spark, SF_SMOKE) is p1


def test_minhash_pairs_survives_clear_cache(spark):
    """r15 semantics: clearCache strips CacheManager marks but NOT the
    checkpoint blocks — the SAME handle stays valid and readable (the
    old persist-backed path had to invalidate and rebuild the plan)."""
    p1 = entry_mod._minhash_pairs(spark, SF_SMOKE)
    rows1 = sorted(map(tuple, p1.collect()))
    spark.catalog.clearCache()
    p2 = entry_mod._minhash_pairs(spark, SF_SMOKE)
    assert p2 is p1
    assert sorted(map(tuple, p2.collect())) == rows1


def test_builder_bypasses_cache_and_matches_artifact(spark):
    """dedup_minhash_jaccard is the BUILDER: a fresh plan per call (never
    the cached artifact), value-identical to the checkpointed table."""
    cached = entry_mod._minhash_pairs(spark, SF_SMOKE)
    built = entry_mod._build_minhash_pairs(spark, SF_SMOKE)
    assert built is not cached
    assert entry_mod.queries()["dedup_minhash_jaccard"] is entry_mod._build_minhash_pairs
    assert sorted(map(tuple, built.collect())) == sorted(
        map(tuple, cached.collect())
    )


def test_cache_deps_declare_real_queries_and_builders(spark):
    q = entry_mod.queries()
    assert set(entry_mod.CACHE_DEPS).issubset(set(q))
    declared = {d for deps in entry_mod.CACHE_DEPS.values() for d in deps}
    assert declared.issubset(set(entry_mod._CACHE_BUILDERS))


def test_warm_caches_survives_clear_cache_cycle(spark):
    """bench.py's per-run cycle: clearCache → warm_caches(deps) must leave
    every declared artifact materialized and the query still correct."""
    spark.catalog.clearCache()
    entry_mod.warm_caches(spark, SF_SMOKE, ("pairs", "lsh"))
    assert entry_mod.queries()["dedup_families"](spark, SF_SMOKE).count() > 0


def test_families_and_clean_corpus_share_pairs(spark):
    """The pairs consumers must hand the SAME cached table to the
    operators (the whole point of the cache)."""
    q = entry_mod.queries()
    pairs = entry_mod._minhash_pairs(spark, SF_SMOKE)
    fam = q["dedup_families"](spark, SF_SMOKE)
    clean = q["clean_corpus"](spark, SF_SMOKE)
    assert entry_mod._minhash_pairs(spark, SF_SMOKE) is pairs
    assert fam.count() > 0
    assert clean.count() > 0

def test_table_handles_memoized_per_session_and_plan_only(spark):
    """r16: base-table DataFrame HANDLES are memoized per
    (session, sf_dir, table) — the same unexecuted logical plan is
    returned (no repeated file-listing/footer-schema job per query
    construction), but NO data is cached: the handle carries no storage
    level, clearCache doesn't invalidate it, and a different sf_dir or a
    different session key gets its own handle."""
    t1 = entry_mod._table(spark, SF_SMOKE, "documents")
    assert entry_mod._table(spark, SF_SMOKE, "documents") is t1
    sl = t1.storageLevel
    assert not (sl.useMemory or sl.useDisk)  # plan handle, never data
    spark.catalog.clearCache()
    assert entry_mod._table(spark, SF_SMOKE, "documents") is t1
    assert t1.count() > 0  # still computes from the parquet input
    # embeddings, not events: a bare _table("events") read would throw at
    # plan time under a legacy TIMESTAMP(NANOS) data regeneration (the ts
    # shim in _events exists exactly for that shape)
    assert entry_mod._table(spark, SF_SMOKE, "embeddings") is not t1
    ev = entry_mod._events(spark, SF_SMOKE)
    assert entry_mod._events(spark, SF_SMOKE) is ev
    # a foreign session key must never be handed this session's handle
    assert list(entry_mod._TABLE_CACHE) == [spark]
    # the events memo uses a sentinel OBJECT, not a table-name string, so
    # no base table can alias it (ADVICE r16 low)
    assert (SF_SMOKE, "__clickevents__") not in entry_mod._TABLE_CACHE[spark]
    assert (SF_SMOKE, entry_mod._EVENTS_KEY) in entry_mod._TABLE_CACHE[spark]


class _StoppedSession:
    """Stands in for a stopped session: its SparkContext has dropped the
    JVM handle (what ``SparkContext.stop`` does)."""

    _sc = SimpleNamespace(_jsc=None)


def test_table_cache_evicts_dead_sessions(spark):
    """Handles keyed by a stopped session must not accumulate — a lookup
    from a session not seen before drops the stopped session's entries,
    while a live session's memo survives it."""
    t1 = entry_mod._table(spark, SF_SMOKE, "documents")
    dead = _StoppedSession()
    entry_mod._session_cache(dead)[(SF_SMOKE, "documents")] = t1
    other = spark.newSession()
    try:
        entry_mod._session_cache(other)
        assert dead not in entry_mod._TABLE_CACHE  # stopped session swept
        assert entry_mod._table(spark, SF_SMOKE, "documents") is t1
    finally:
        entry_mod._TABLE_CACHE.pop(other, None)


def test_table_cache_keeps_each_live_sessions_memo(spark):
    """Alternating lookups between two live sessions must not thrash the
    memo: each session gets back its own memoized DataFrame object."""
    other = spark.newSession()
    try:
        mine = entry_mod._table(spark, SF_SMOKE, "documents")
        theirs = entry_mod._table(other, SF_SMOKE, "documents")
        assert theirs is not mine
        for _ in range(2):
            assert entry_mod._table(spark, SF_SMOKE, "documents") is mine
            assert entry_mod._table(other, SF_SMOKE, "documents") is theirs
    finally:
        entry_mod._TABLE_CACHE.pop(other, None)


def test_checkpoint_backed_frame_not_repersisted_without_classname_probe(spark):
    """r16 (VERDICT r15 #2): ensure_persisted must leave a
    checkpoint-backed frame untouched via the repo-owned tag written by
    dedup.checkpoint_backed — no py4j class-name probe, no broad
    exception fallback — while an ordinary frame still gets the
    MEMORY_AND_DISK mark, and an already-persisted frame is not
    double-marked."""
    from pyspark import StorageLevel

    from flink_clickstream_processor_msk_spark.operators import dedup

    pairs = entry_mod._minhash_pairs(spark, SF_SMOKE)  # tagged at build
    assert getattr(pairs, "_spark_graft_checkpoint_backed", False)
    out = dedup.ensure_persisted(pairs)
    assert out is pairs
    sl = pairs.storageLevel
    assert not (sl.useMemory or sl.useDisk)  # no second copy materialized

    plain = spark.range(10).toDF("id")
    assert not getattr(plain, "_spark_graft_checkpoint_backed", False)
    out2 = dedup.ensure_persisted(plain)
    sl2 = out2.storageLevel
    assert sl2.useMemory and sl2.useDisk
    out2.unpersist()

    pre = spark.range(5).toDF("id").persist(StorageLevel.MEMORY_ONLY)
    try:
        assert dedup.ensure_persisted(pre).storageLevel.useMemory
        assert not dedup.ensure_persisted(pre).storageLevel.useDisk  # untouched
    finally:
        pre.unpersist()
