"""Skew-mitigation utilities — explicit salting for hot join keys.

The engine's layered skew story at 100 TB:

1. **AQE skew-join** (on by default, session.py) — splits oversized
   shuffle partitions at runtime; the zero-code path, right default.
2. **Bounded-blowup caps** where the algorithm itself is quadratic in a
   hot key (the LSH bucket cap, dedup.MAX_BUCKET_SIZE_DEFAULT) — caps the
   WORK, which no join strategy can.
3. **Explicit salting** (this module) — for the case AQE cannot fix: one
   join key so hot that a single task must still process the whole key
   even after AQE splits its partition, because every row of the key
   lands in one hash bucket on the BUILD side too. Salting splits the hot
   key's rows across ``n_salt`` reducers by widening the join key.
   Measured (PLANS.md "Round-7 additions"): 3.1× on an
   8M-row 90%-one-key join with broadcast disabled and AQE on — the hot
   partition sits below AQE's skewedPartitionThresholdInBytes, so
   OptimizeSkewedJoin never fires while one task carries 90% of the work;
   n_salt=8 captured the full win on 32 cores (16 was flat).

Mechanics of :func:`salted_join`: the large/skewed side gets a per-row
salt in ``[0, n_salt)``; the other side is replicated once per salt value
(an ``explode`` of a literal range — a narrow n_salt× blowup of the
SMALLER side), and the join key becomes ``(keys..., salt)``. Each skewed
row joins exactly its one salted replica, so the result is row-identical
to the plain join (pinned in tests/test_skew.py) while the hot key's rows
spread over ``n_salt`` tasks. The salt is ``rand``-derived, which is safe
for inner equi-joins specifically BECAUSE correctness is salt-value
independent — a task retry that re-rolls salts still joins every row
exactly once (each salt value has a replica waiting). Outer joins would
need a deterministic salt to keep null-extension rows stable; this module
scopes to the inner case a pipeline actually salts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SALT = "_skew_salt"


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    on: list[str],
    n_salt: int = 16,
    seed: int | None = None,
) -> DataFrame:
    """Inner equi-join on ``on`` with the hot-key rows of ``skewed``
    spread across ``n_salt`` reducers; ``other`` (the smaller,
    non-broadcastable side) is replicated ``n_salt``×.

    Row-identical to ``skewed.join(other, on)``; column order follows the
    same convention (join keys first)."""
    if n_salt < 1:
        raise ValueError(f"n_salt must be >= 1, got {n_salt}")
    if _SALT in skewed.columns or _SALT in other.columns:
        raise ValueError(f"reserved column name in input: {_SALT!r}")
    rand = F.rand(seed) if seed is not None else F.rand()
    left = skewed.withColumn(_SALT, F.floor(rand * n_salt).cast("int"))
    right = other.withColumn(
        _SALT, F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
    )
    return left.join(right, on=on + [_SALT], how="inner").drop(_SALT)
