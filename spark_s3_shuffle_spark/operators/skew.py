"""Skew-mitigation utilities: salted joins, per-group top-k and salted aggregation.

AQE's skew-join splitting (on in the engine session) handles moderate skew
by splitting oversized *partitions*, but it cannot split a single hot KEY:
one key holding 30% of a 100 TB fact table still lands every row in one
task on the build of a sort-merge join. Salting fixes that shape:

- salted_join: the big (skewed) side gets a deterministic salt in
  [0, salt); the small side is replicated salt×. The join key becomes
  (key, salt), spreading each hot key over ``salt`` tasks. Replication
  multiplies the small side's shuffle volume by ``salt`` — use only when
  the small side is modest and the skew is key-concentrated.
- salted_top_k_per_group: two-pass per-group top-k for a skewed group
  key, exactly equal to the one-window ``top_k_per_group``.
- salted_agg: two-phase aggregation for hot grouping keys — partial agg on
  (key, salt), final agg on key. Only aggregates expressible as
  partial+final pairs (sum/count/min/max) qualify; Spark's own partial
  aggregation already handles most cases, so this is for aggregations
  AFTER an exchange has already concentrated a hot key (e.g. a salted join
  output re-aggregated by the hot key).

Reference context: the reference delegates skew entirely to Spark (its
benchmarks run AQE-era TPC-DS); salting is the engine-level answer for the
shapes AQE misses.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def with_salt(df: DataFrame, salt: int, out: str = "_salt", seed: int = 7) -> DataFrame:
    """Deterministic per-row salt in [0, salt): hash of the whole row, not
    rand(), so retried/recomputed tasks salt identically (a rand() salt
    breaks exactly-once semantics under task retry)."""
    return df.withColumn(
        out,
        F.pmod(F.xxhash64(*[F.col(c) for c in df.columns], F.lit(seed)), F.lit(salt)).cast("int"),
    )


def replicate_salts(df: DataFrame, salt: int, out: str = "_salt") -> DataFrame:
    """Cross the (small) side with every salt value — salt× replication."""
    return df.withColumn(out, F.explode(F.array(*[F.lit(i) for i in range(salt)])))


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str | Sequence[str],
    how: str = "inner",
    salt: int = 8,
) -> DataFrame:
    """Equi-join where ``big`` has pathological key skew: join on
    (on..., salt) so each hot key spreads over ``salt`` tasks. Result is
    identical to ``big.join(small, on, how)`` (verified by test); the salt
    column never escapes.

    Only big-side-preserving join types are legal: the small side is
    replicated ``salt`` times, so for right/full outer joins every
    UNMATCHED small-side row would be emitted once per salt value
    (``salt`` duplicate output rows). Those shapes raise ``ValueError`` —
    flip the join around (the preserved side should be the skewed big
    side) or dedupe explicitly."""
    allowed = {
        "inner", "left", "leftouter", "left_outer",
        "semi", "leftsemi", "left_semi",
        "anti", "leftanti", "left_anti", "cross",
    }
    if how.lower().replace(" ", "") not in allowed:
        raise ValueError(
            f"salted_join does not support how={how!r}: the replicated small "
            "side would duplicate unmatched preserved rows. Use one of "
            f"{sorted(allowed)} (flip the join so the skewed side is preserved)."
        )
    keys = [on] if isinstance(on, str) else list(on)
    b = with_salt(big, salt)
    s = replicate_salts(small, salt)
    return b.join(s, [*keys, "_salt"], how).drop("_salt")


def top_k_per_group(
    df: DataFrame,
    partition_by: Sequence[str | Column],
    order_by: Sequence[str | Column],
    k: int,
    out: str = "rk",
) -> DataFrame:
    """Per-group top-k via rank filter (TPC-DS q67 shape) — one shuffle on
    the group keys; the rank filter runs streaming over the sorted
    partition, so memory is O(1) per group regardless of group size. A
    window partition is ONE task, so a hot group key needs
    :func:`salted_top_k_per_group`."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return df.withColumn(out, F.rank().over(w)).filter(F.col(out) <= k)


def salted_top_k_per_group(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str | Column],
    k: int,
    salt: int = 8,
    out: str = "rk",
) -> DataFrame:
    """Two-pass per-group top-k for skewed group keys — the shape
    ``top_k_per_group`` cannot survive when one key holds a large
    share of the table (a window partition is ONE task; AQE does not split
    skewed window partitions).

    Pass 1 ranks within (keys…, salt) so each hot key spreads over ``salt``
    tasks and keeps only rank ≤ k per salt bucket; pass 2 re-ranks the
    ≤ salt·k survivors per key. Exactly equivalent to the unsalted operator
    (property-tested, ties included): any row with global rank ≤ k in its
    group has rank ≤ k in its salt bucket too, so pass 1 never discards a
    final top-k row. The second exchange moves at most salt·k rows per key,
    not the key's full row count."""
    ks = list(keys)
    salted = with_salt(df, salt)
    partial = top_k_per_group(salted, [*ks, "_salt"], order_by, k, out).drop(out, "_salt")
    return top_k_per_group(partial, ks, order_by, k, out)


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    partial_aggs: Sequence[Column],
    final_aggs: Sequence[Column],
    salt: int = 8,
) -> DataFrame:
    """Two-phase salted aggregation: groupBy(keys + salt) with
    ``partial_aggs``, then groupBy(keys) with ``final_aggs`` over the
    partial results. The first exchange spreads each hot key over ``salt``
    partitions; the second moves only |keys|·salt pre-aggregated rows."""
    salted = with_salt(df, salt)
    partial = salted.groupBy(*keys, "_salt").agg(*partial_aggs)
    return partial.groupBy(*keys).agg(*final_aggs)
