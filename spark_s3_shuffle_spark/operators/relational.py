"""Distributed TeraValidate (reference examples/terasort/run.sh:161-191):
the global-sortedness check q58 runs over its range-partitioned TeraSort.

Relational operators themselves are Spark's own DataFrame calls (SURVEY
§2.2 B5–B29); this module holds only the validator, which is an
algorithm rather than a renamed call: one Arrow-batched summary row per
partition, then a boundary check over the partition-count-sized summary
table. Nothing here executes until the returned frame is collected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


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
