"""Relational operator surface: projection, filter, joins, aggregation,
sort/limit, set ops (SURVEY §2.2 B5–B29).

Everything here is a declarative DataFrame composition — Catalyst owns the
physical strategy (pushdown, pruning, broadcast vs sort-merge, partial+final
hash aggregation, TakeOrderedAndProject for top-k). These functions are the
engine's query-construction API; none of them executes anything.

Parity notes cite the reference workloads that exercise each operator
(reference repo = IBM/spark-s3-shuffle at /root/reference).

Scale notes are inline per operator: what shuffles, what broadcasts, what
survives a 100x scale-up.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# Projection / filter (B5, B6) — zero-shuffle, fused into WholeStageCodegen,
# and both the predicate and the column set reach the Parquet scan
# (PushedFilters / ReadSchema), so at 100 TB the scan reads only the row
# groups and columns it must.
# ---------------------------------------------------------------------------

def project(df: DataFrame, *cols: Column | str) -> DataFrame:
    """Projection incl. computed expressions (reference exercises this via
    ``.map(t => (t/2, (t*2).longValue))``, S3ShuffleManagerTest.scala:186-187)."""
    return df.select(*cols)


def filter_rows(df: DataFrame, predicate: Column | str) -> DataFrame:
    """Filter with arbitrary predicate (=, <, AND/OR/NOT, IN, BETWEEN, LIKE,
    IS NULL — the TPC-DS q5/q49/q67/q75 predicate surface)."""
    return df.filter(predicate)


# ---------------------------------------------------------------------------
# Joins (B7–B13)
# ---------------------------------------------------------------------------

def join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str] | Column,
    how: str = "inner",
    broadcast_right: bool = False,
) -> DataFrame:
    """Equi/outer/semi/anti join.

    ``broadcast_right=True`` pins a BroadcastHashJoin: at 100 TB a fact⋈dim
    join must NOT shuffle the fact table — broadcasting the dim is the only
    plan that scales (reference's TPC-DS runs rely on Spark auto-broadcast
    for the same reason). For fact⋈fact, leave it False: a sort-merge join
    over hash-partitioned exchanges with AQE skew splitting is the right
    shape.
    """
    if broadcast_right:
        right = F.broadcast(right)
    return left.join(right, on=on, how=how)


def semi_join(left: DataFrame, right: DataFrame, on: str | Sequence[str] | Column, broadcast_right: bool = False) -> DataFrame:
    """IN/EXISTS subquery shape (TPC-DS rewrites these to left-semi)."""
    return join(left, right, on, "left_semi", broadcast_right)


def anti_join(left: DataFrame, right: DataFrame, on: str | Sequence[str] | Column, broadcast_right: bool = False) -> DataFrame:
    """NOT EXISTS shape."""
    return join(left, right, on, "left_anti", broadcast_right)


def cross_join(left: DataFrame, right: DataFrame, predicate: Column | None = None) -> DataFrame:
    """Cross / theta join (BroadcastNestedLoopJoin when one side is small).

    Scale note: an unconstrained cross join is O(n*m) — only valid when one
    side is tiny (then it broadcasts). The engine never plans fact×fact.
    """
    out = left.crossJoin(right)
    return out.filter(predicate) if predicate is not None else out


def range_join(
    left: DataFrame,
    right: DataFrame,
    equi_on: Column,
    range_pred: Column,
    how: str = "inner",
) -> DataFrame:
    """Non-equi join with an equi component (B13).

    Keeping the equi conjunct explicit lets Catalyst plan a hash/sort-merge
    join on the equi keys and apply the range predicate as a post-join
    filter — linear shuffle instead of a nested loop. A pure range join
    (no equi key) degrades to BNLJ; callers should bucketize (see
    operators.asof for the as-of pattern) before reaching for that.
    """
    return left.join(right, equi_on & range_pred, how)


# ---------------------------------------------------------------------------
# Aggregation (B15–B21)
# ---------------------------------------------------------------------------

def aggregate(df: DataFrame, keys: Sequence[str | Column], aggs: Sequence[Column]) -> DataFrame:
    """Hash aggregate with map-side partial aggregation.

    Catalyst plans HashAggregate(partial) → Exchange(hash keys) →
    HashAggregate(final) — the declarative equivalent of the reference's
    reduce-side combine path (S3ShuffleReader.scala:124-138): only one
    pre-combined row per (partition, key) crosses the wire, so shuffle
    volume is bounded by cardinality, not row count.
    """
    return df.groupBy(*keys).agg(*aggs)


def distinct_rows(df: DataFrame, subset: Sequence[str] | None = None) -> DataFrame:
    """distinct / dropDuplicates (B19; reference test uses ``.distinct`` at
    S3ShuffleManagerTest.scala:198). Planned as a hash aggregate → same
    partial/final shape as `aggregate`."""
    return df.dropDuplicates(list(subset)) if subset else df.distinct()


def rollup_agg(df: DataFrame, keys: Sequence[str], aggs: Sequence[Column]) -> DataFrame:
    """ROLLUP aggregate (TPC-DS q5/q67 shape, B21). Spark plans Expand →
    HashAggregate; the Expand multiplies rows by (len(keys)+1) *before* the
    exchange, so at scale prefer few rollup keys of low cardinality."""
    return df.rollup(*keys).agg(*aggs)


def cube_agg(df: DataFrame, keys: Sequence[str], aggs: Sequence[Column]) -> DataFrame:
    return df.cube(*keys).agg(*aggs)


# ---------------------------------------------------------------------------
# Sort / limit / top-k (B25–B27)
# ---------------------------------------------------------------------------

def sort_within_partitions(df: DataFrame, num_partitions: int, partition_cols: Sequence[str | Column], *order: Column | str) -> DataFrame:
    """repartitionByRange + sortWithinPartitions: the explicit-partition-count
    sortByKey analogue (S3ShuffleManagerTest.scala:162). Produces globally
    range-partitioned, locally sorted output — the write-side layout for a
    sorted Parquet sink at scale."""
    return df.repartitionByRange(num_partitions, *partition_cols).sortWithinPartitions(*order)


def sorted_partition_summaries(df: DataFrame, key_col: str) -> DataFrame:
    """TeraValidate scan stage (reference examples/terasort/run.sh:161-191):
    one Arrow-batched pass over each partition producing a single summary row
    ``(pid, cnt, first, last, monotone)`` — no shuffle, no per-row Python.
    Within-batch monotonicity is a vectorized ``pyarrow.compute``
    comparison; only batch heads/tails cross batch boundaries."""
    import pyarrow as pa
    import pyarrow.compute as pc

    key_field = df.schema[key_col]
    src = df.select(F.spark_partition_id().alias("_pid"), F.col(key_col).alias("_k"))
    out_schema = (
        "pid int, cnt long, first "
        f"{key_field.dataType.simpleString()}, last {key_field.dataType.simpleString()}, monotone boolean"
    )

    def summarize(batches):
        pid = None
        cnt = 0
        first = last = None
        monotone = True
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            if pid is None:
                pid = batch.column("_pid")[0].as_py()
            keys = batch.column("_k")
            if monotone and n > 1:
                monotone = bool(
                    pc.all(pc.greater_equal(keys.slice(1), keys.slice(0, n - 1))).as_py()
                )
            head = keys[0].as_py()
            if last is not None and head < last:
                monotone = False
            if first is None:
                first = head
            last = keys[n - 1].as_py()
            cnt += n
        yield pa.RecordBatch.from_pydict(
            {
                "pid": pa.array([pid], pa.int32()),
                "cnt": pa.array([cnt], pa.int64()),
                "first": pa.array([first]),
                "last": pa.array([last]),
                "monotone": pa.array([monotone]),
            }
        )

    return src.mapInArrow(summarize, out_schema)


def validate_total_sort(df: DataFrame, key_col: str) -> DataFrame:
    """Distributed TeraValidate: returns a one-row DataFrame
    ``(n, sorted, first_key, last_key)`` asserting that ``df`` is globally
    sorted on ``key_col`` (each partition internally monotone AND partition
    boundaries non-decreasing in partition-id order). Entirely plan-side:
    the data passes once through `sorted_partition_summaries`; the boundary
    window runs over the partition-count-sized summary table (thousands of
    rows at 100 TB, not data rows)."""
    from pyspark.sql import Window

    summ = sorted_partition_summaries(df, key_col)
    w = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    chk = summ.withColumn("prev_last", F.last("last", ignorenulls=True).over(w)).withColumn(
        "ok",
        F.col("monotone")
        & (
            F.col("first").isNull()
            | F.col("prev_last").isNull()
            | (F.col("first") >= F.col("prev_last"))
        ),
    )
    return chk.agg(
        F.sum("cnt").alias("n"),
        F.min(F.col("ok").cast("int")).alias("sorted"),
        # min/max in the key's NATIVE type, hex only for display: min over
        # hex() strings is lexicographic on variable-width text (hex(16)='10'
        # sorts before hex(15)='F') and would misreport the endpoints for
        # numeric or variable-length keys.
        F.lower(F.hex(F.min("first"))).alias("first_key"),
        F.lower(F.hex(F.max("last"))).alias("last_key"),
    )


def top_k(df: DataFrame, k: int, *order: Column | str) -> DataFrame:
    """orderBy + limit — Catalyst plans TakeOrderedAndProject: each partition
    keeps a k-row heap and only k rows per partition reach the driver-side
    merge. No total sort, no full shuffle; this is the only top-k shape that
    survives 100 TB."""
    return df.orderBy(*order).limit(k)


# ---------------------------------------------------------------------------
# Set operations (B28, B29)
# ---------------------------------------------------------------------------

def union_all(*dfs: DataFrame) -> DataFrame:
    """UNION ALL by name (TPC-DS q5/q75 multi-channel unions). Zero shuffle —
    pure partition concatenation."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def intersect(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.intersect(b)


def except_all(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.exceptAll(b)
