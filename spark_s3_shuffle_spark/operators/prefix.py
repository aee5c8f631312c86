"""Distributed prefix aggregates over a global total order (round-6 tier).

An unpartitioned ``Window.orderBy(...)`` is exact but drags the ENTIRE
frame through one task (Spark's own WindowExec warning: "No Partition
Defined ... Moving all data to a single partition") — the straggler that
kills per-entity analytics (RFM quartiles, Pareto frontiers, cumulative
shares) the moment the entity count scales 100×. The reference hits the
same wall in any sort-reduce it cannot range-partition; its TeraSort
path (`examples/terasort/run.sh:157-191`) exists precisely because
total order must be RANGE-SHARDED to scale.

This module is the shared two-phase fix, exact to the row:

1. ``repartitionByRange(order)`` — the same sampled range exchange a
   total sort uses — then pin each row's range-partition id.
2. Per-partition running aggregate: a ``Window.partitionBy(pid)`` whose
   tasks each hold ONE range shard (~n/P rows), never the whole frame.
3. A per-partition summary (ONE row per shard) is folded into exclusive
   prefix offsets by a window over the P-row summary table — thousands
   of rows at 100 TB, not data rows (the boundary trick of
   ``relational.validate_total_sort``).
4. Broadcast the offsets back and combine: offset + local running value
   reproduces the single-task window's output bit-for-bit, because the
   range exchange guarantees every row of shard i precedes every row of
   shard i+1 in the total order.

Cost: two data-sized exchanges of the (already aggregated, narrow)
frame instead of one single-task sort — the difference between a
bounded ~n/P task and a 10⁸-row straggler. All arithmetic stays in the
source column's exact type (decimal sums stay decimal), so DuckDB
oracles replay results hash-identically.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from spark_s3_shuffle_spark.operators.materialize import materialize

_PID = "__range_pid"
_LOCAL = "__local_run"
_PREV = "__prev_off"


def _with_range_pid(df: DataFrame, order: Sequence[Column | str]) -> DataFrame:
    """Range-exchange ``df`` on the total order and pin each row's range
    partition id. ``spark_partition_id()`` is non-deterministic to
    Catalyst, so the projection cannot be pushed through the exchange —
    the pid observed is always the RANGE partition, by construction.

    The pinned frame is materialized because every prefix primitive
    forks it (the running-window branch AND the per-shard summary
    branch), and the same non-determinism that pins the pid also blocks
    Catalyst's ReuseExchange canonicalization: without it each fork would
    replay the range exchange with freshly-sampled (possibly different)
    boundaries, corrupting the pid↔offset correspondence. The frame is
    the narrow per-entity aggregate (not the fact table)."""
    return materialize(
        df.repartitionByRange(*order).withColumn(_PID, F.spark_partition_id())
    )


def _exclusive_prefix(
    summary: DataFrame, value: Column, total_as: str | None = None
) -> DataFrame:
    """Fold per-shard summary rows (one per range partition) into each
    shard's EXCLUSIVE prefix aggregate over pid order. This window is
    deliberately single-task — but over |partitions| rows (thousands at
    100 TB), never data rows. It is keyed on ``pmod(pid, 1)`` (constant 0,
    but non-foldable so Catalyst keeps the partition spec) rather than
    left unpartitioned: the produced plan then carries a real partition
    key, so WindowExec's "Moving all data to a single partition" warning
    — the canary the plan audit greps for — only ever fires for
    windows that genuinely funnel DATA-sized frames.

    ``total_as`` additionally emits the GRAND total of ``value`` under
    that name (an unbounded frame over the same partition spec — same
    single window pass), so callers that need both the offsets and the
    total (NTILE's n) ride ONE broadcast instead of two.

    The summary is ``coalesce(1)``'d first: it is P rows by contract, a
    single partition trivially satisfies the window's clustering, and
    Catalyst then plans the window with NO exchange (r12-opt: the pmod
    exchange was a whole extra AQE stage per prefix primitive on a
    P-row frame)."""
    summary = summary.coalesce(1)
    part = F.pmod(F.col(_PID), F.lit(1))
    w = (
        Window.partitionBy(part)
        .orderBy(_PID)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cols = [_PID, value.over(w).alias(_PREV)]
    if total_as is not None:
        wt = Window.partitionBy(part).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        cols.append(value.over(wt).alias(total_as))
    return summary.select(*cols)


_MID = "__mono_id"
#: monotonically_increasing_id packs the record number within a partition
#: into the LOWER 33 BITS (partition id in the upper 31) — the documented
#: layout since Spark 1.6, asserted by the prefix unit tests. A range
#: shard would need > 2^33 (~8.6e9) rows to overflow the local counter;
#: shards are ~n/P rows by construction, so that is beyond any sane
#: deployment (and 150x the 2^31 row cap a single task's sort already has).
_MID_BITS = 33


def _sorted_mid_pieces(
    df: DataFrame, order: Sequence[Column | str]
) -> tuple[DataFrame, DataFrame]:
    """Shared internals of the row-POSITION primitives: the range-sharded
    frame annotated with ``(_PID, _LOCAL)`` = (range partition id, 1-based
    local row number in the total order), plus the per-shard counts.

    r12-opt: the local row number comes from ``monotonically_increasing_id``
    evaluated above an explicit ``sortWithinPartitions`` (pid = mid >> 33,
    local = (mid & (2^33-1)) + 1), not from a ``row_number()`` window. The
    window form re-SHUFFLED the data on pid — the checkpoint that pins the
    pid erases the range exchange's partitioning info, so Catalyst planned
    hashpartitioning(pid) + sort under the window even though every pid's
    rows were already colocated and sorted. The mid projection reads the
    physical (partition, position) directly: one data-sized exchange per
    primitive (the range exchange itself) instead of two. Determinism
    contract is unchanged from the window form: ``order`` must be a total
    order, so the within-partition sort (and hence mid assignment) is
    unique; the non-deterministic mid/pid projection cannot be pushed
    below the sort or the exchange, and the checkpoint keeps both forks
    (rows + counts) reading the SAME materialized assignment."""
    d = materialize(
        df.repartitionByRange(*order)
        .sortWithinPartitions(*order)
        .withColumn(_MID, F.monotonically_increasing_id())
    )
    d = d.withColumns(
        {
            _PID: F.shiftright(F.col(_MID), _MID_BITS),
            _LOCAL: F.col(_MID).bitwiseAND(F.lit((1 << _MID_BITS) - 1))
            + F.lit(1),
        }
    ).drop(_MID)
    counts = d.groupBy(_PID).agg(F.count(F.lit(1)).cast("long").alias("_cnt"))
    return d, counts


def _row_number_pieces(
    df: DataFrame,
    order: Sequence[Column | str],
    out: str,
    total_as: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Shared internals: (numbered frame, per-shard counts). The counts
    branch is a plain per-pid count over the cached pinned frame — it
    never replays the shard sort. ``total_as`` additionally attaches the
    GLOBAL row count to every output row, riding the same P-row offsets
    broadcast (see :func:`_exclusive_prefix`)."""
    local, counts = _sorted_mid_pieces(df, order)
    offs = _exclusive_prefix(counts, F.sum("_cnt"), total_as=total_as)
    numbered = (
        local.join(F.broadcast(offs), _PID)
        .withColumn(out, F.coalesce(F.col(_PREV), F.lit(0)) + F.col(_LOCAL))
        .drop(_PID, _LOCAL, _PREV)
    )
    return numbered, counts


def global_row_number(
    df: DataFrame,
    order: Sequence[Column | str],
    out: str = "rn",
    total_as: str | None = None,
) -> DataFrame:
    """Exact global ``row_number() OVER (ORDER BY order)`` without a
    single-partition window: local row_number per range shard + broadcast
    row-count offsets of all preceding shards. ``order`` must be a total
    order (include a tiebreaker column) for a deterministic result.

    ``total_as`` (r12-opt) also emits the GLOBAL row count under that
    name on every row. Callers that need n (percentile bands, median
    selection) previously re-aggregated their INPUT frame for it —
    re-running the whole upstream fact scan+aggregate, since the pinned
    frame inside the primitive shares no lineage with the caller's
    ``df.agg(count)`` — and cross-joined the 1-row result. The count of
    the pinned frame is by construction the same number, and it rides
    the offsets broadcast for free: one scan instead of two, no extra
    join."""
    numbered, _ = _row_number_pieces(df, order, out, total_as=total_as)
    return numbered


def _ntile_bucket(n_buckets: int) -> Column:
    """The SQL-standard NTILE fill as a closed-form integer expression
    over a global row number ``__rn`` and total count ``__n``: with
    q = n DIV k and r = n MOD k, buckets 1..r hold q+1 rows and buckets
    r+1..k hold q — the same rule Spark and DuckDB implement, so applying
    it to an exact rn reproduces the single-task NTILE bit-for-bit."""
    q = F.expr(f"__n DIV {n_buckets}")
    r = F.expr(f"__n % {n_buckets}")
    big = r * (q + 1)  # rows living in the q+1-sized leading buckets
    return (
        F.when(
            F.col("__rn") <= big,
            F.expr(f"(__rn - 1) DIV (__n DIV {n_buckets} + 1) + 1"),
        )
        .otherwise(
            r + F.expr(
                f"(__rn - 1 - (__n % {n_buckets}) * (__n DIV {n_buckets} + 1))"
                f" DIV (__n DIV {n_buckets}) + 1"
            )
        )
        .cast("int")
    )


def global_ntile(
    df: DataFrame,
    n_buckets: int,
    order: Sequence[Column | str],
    out: str = "bucket",
) -> DataFrame:
    """Exact global ``NTILE(k) OVER (ORDER BY order)``, distributed.

    NTILE is a pure function of the global row number and the total row
    count n (see :func:`_ntile_bucket`) — so computing rn via
    :func:`global_row_number` and applying that closed form in integer
    arithmetic reproduces the single-task NTILE bit-for-bit at any
    partitioning. The total n rides in as a 1-row broadcast, never a
    ``SUM() OVER ()``.
    """
    local, counts = _sorted_mid_pieces(df, order)
    offs = _exclusive_prefix(counts, F.sum("_cnt"), total_as="__n")
    d = local.join(F.broadcast(offs), _PID).withColumn(
        "__rn", F.coalesce(F.col(_PREV), F.lit(0)) + F.col(_LOCAL)
    )
    return (
        d.withColumn(out, _ntile_bucket(n_buckets))
        .drop(_PID, _LOCAL, _PREV, "__rn", "__n")
    )


def global_ntiles(
    df: DataFrame,
    n_buckets: int,
    specs: dict[str, Sequence[Column | str]],
    key: Sequence[str],
) -> DataFrame:
    """Several exact global NTILEs over DIFFERENT total orders of ONE
    frame — ``specs`` maps each output column name to its order. Returns
    one row per input row, projected to ``key`` plus one bucket column
    per spec. ``key`` must be unique per row (it is the recombination
    key) and each order must be total.

    Semantically identical to equi-joining the per-spec
    :func:`global_ntile` projections on ``key`` — each branch computes
    the exact same closed-form NTILE — but shaped for the job-overhead
    profile an iterative composite actually pays (r12-opt; q160 measured
    anti-scaling, 8 cores beating 32, on the join form):

    - ``df`` is materialized ONCE and every spec's
      range exchange reads the stored blocks — the join form replayed
      the upstream aggregate once per spec, because the per-spec range
      exchange + pid pin cannot share lineage across different orders;
    - the shard offsets AND the total row count n ride one P-row
      broadcast per spec (``_exclusive_prefix(total_as=...)``) instead of
      an offsets broadcast plus a count cross-join each;
    - the bucket labels are recombined by a single hash aggregation on
      ``key`` (each branch emits its bucket under its own column, NULL
      elsewhere; ``max`` keeps the lone non-null) — one exchange total,
      where the join form planned a broadcast-join job per extra spec.
    """
    outs = list(specs)
    base = materialize(df)
    branches = []
    for out, order in specs.items():
        local, counts = _sorted_mid_pieces(base, order)
        offs = _exclusive_prefix(counts, F.sum("_cnt"), total_as="__n")
        numbered = local.join(F.broadcast(offs), _PID).withColumn(
            "__rn", F.coalesce(F.col(_PREV), F.lit(0)) + F.col(_LOCAL)
        )
        branches.append(
            numbered.select(
                *key,
                *(
                    _ntile_bucket(n_buckets).alias(o)
                    if o == out
                    else F.lit(None).cast("int").alias(o)
                    for o in outs
                ),
            )
        )
    unioned = branches[0]
    for b in branches[1:]:
        unioned = unioned.unionByName(b)
    return unioned.groupBy(*key).agg(
        *(F.max(o).alias(o) for o in outs)
    )


def running_sum(
    df: DataFrame,
    order: Sequence[Column | str],
    value_col: str,
    out: str = "cum",
    total_as: str | None = None,
) -> DataFrame:
    """Exact global ``SUM(value) OVER (ORDER BY order ROWS UNBOUNDED
    PRECEDING)`` — per-shard running sum + broadcast exclusive prefix of
    the shard totals. Sums stay in the source column's exact type
    (decimal in, decimal out), so cumulative-share cutoffs replay
    hash-identically on the oracle.

    ``total_as`` (r12-opt) also emits the GRAND total of ``value_col``
    under that name on every row — the sum of the per-shard totals the
    prefix fold already holds, riding the same P-row offsets broadcast.
    Decimal addition is exact at any grouping, so the value is identical
    to a separate ``df.agg(sum)`` — which callers (cumulative-share
    cutoffs) previously paid a second full upstream scan+aggregate plus
    a cross-join for."""
    d = _with_range_pid(df, order)
    w = (
        Window.partitionBy(_PID)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = d.withColumn(_LOCAL, F.sum(value_col).over(w))
    totals = d.groupBy(_PID).agg(F.sum(value_col).alias("_t"))
    offs = _exclusive_prefix(totals, F.sum("_t"), total_as=total_as)
    combined = F.when(
        F.col(_PREV).isNull(), F.col(_LOCAL)
    ).otherwise(F.col(_PREV) + F.coalesce(F.col(_LOCAL), F.lit(0)))
    return (
        local.join(F.broadcast(offs), _PID)
        .withColumn(out, combined)
        .drop(_PID, _LOCAL, _PREV)
    )


def running_max_strictly_preceding(
    df: DataFrame,
    order: Sequence[Column | str],
    value_col: str,
    out: str = "prev_max",
) -> DataFrame:
    """Exact global ``MAX(value) OVER (ORDER BY order ROWS BETWEEN
    UNBOUNDED PRECEDING AND 1 PRECEDING)`` — the dominance probe of
    skyline/frontier queries. NULL for the global first row (no
    preceding rows), exactly as the single-task window; ``greatest``
    null-skips, so the shard-prefix max and the local strict-preceding
    max combine without special cases."""
    d = _with_range_pid(df, order)
    w = (
        Window.partitionBy(_PID)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = d.withColumn(_LOCAL, F.max(value_col).over(w))
    totals = d.groupBy(_PID).agg(F.max(value_col).alias("_t"))
    offs = _exclusive_prefix(totals, F.max("_t"))
    return (
        local.join(F.broadcast(offs), _PID)
        .withColumn(out, F.greatest(F.col(_PREV), F.col(_LOCAL)))
        .drop(_PID, _LOCAL, _PREV)
    )
