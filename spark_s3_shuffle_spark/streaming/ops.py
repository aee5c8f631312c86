"""Structured Streaming tier (SURVEY §2.2 B37–B42, §7 M7).

The reference has no streaming operators (it is a batch shuffle plugin);
this tier covers the north-star events workload with pure Structured
Streaming. Batch-mode equivalents of the windowed aggregations are
oracle-checked (registry q30); these helpers are exercised by streaming
smoke tests with the file source over events-schema parquet drops.

Scale notes:
- every windowed agg keys state by (window, grouping keys); the watermark
  bounds state size — without it state grows forever;
- ``dropDuplicatesWithinWatermark`` keeps one state entry per key within
  the watermark horizon — the streaming analogue of exact dedup;
- sinks use checkpointed exactly-once parquet append (an S3-friendly
  barrier, same shape as the materialized exchange).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

#: events-table schema (ts normalized to TIMESTAMP by the catalog loader).
EVENTS_DDL = "event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string"


def read_events_stream(spark: SparkSession, path: str, max_files_per_trigger: int = 10) -> DataFrame:
    """File-source stream over events-schema parquet drops, with the derived
    event-time column aliasing the normalized TIMESTAMP ``ts``."""
    df = (
        spark.readStream.format("parquet")
        .schema(EVENTS_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(path)
    )
    # watermarks require TIMESTAMP (ltz); ntz->ltz is identity under UTC.
    return df.withColumn("event_ts", F.col("ts").cast("timestamp"))


def tumbling_counts(df: DataFrame, window: str = "10 minutes", ts_col: str = "event_ts") -> DataFrame:
    """B37 tumbling window count (batch q30 is the oracle-checked twin)."""
    return df.groupBy(F.window(ts_col, window).alias("w")).agg(F.count(F.lit(1)).alias("c"))


def sliding_counts(df: DataFrame, window: str = "10 minutes", slide: str = "5 minutes", ts_col: str = "event_ts") -> DataFrame:
    """B38 sliding window agg (each row lands in window/slide buckets)."""
    return df.groupBy(F.window(ts_col, window, slide).alias("w")).agg(F.count(F.lit(1)).alias("c"))


def session_counts(df: DataFrame, gap: str = "5 minutes", key: str = "user_id", ts_col: str = "event_ts") -> DataFrame:
    """B39 session windows per key (gap-based merge)."""
    return df.groupBy(F.session_window(ts_col, gap).alias("w"), key).agg(F.count(F.lit(1)).alias("c"))


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    ts_col: str = "event_ts",
    within: str = "10 minutes",
    left_watermark: str = "20 minutes",
    right_watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked stream-stream inner join: right-side events within
    ``within`` AFTER the left event, per ``key``.

    Both sides carry a watermark and the join condition bounds event time on
    both ends — the two requirements that let Spark evict join state (an
    unbounded stream-stream join buffers both streams forever). State per
    side is bounded by (watermark + interval) of data, independent of total
    stream length — the property that keeps this runnable on an unbounded
    100 TB/day stream. The right watermark must cover the left's delay plus
    the join interval, or matches near the horizon are dropped.
    """
    l = left.withWatermark(ts_col, left_watermark).alias("l")
    r = right.withWatermark(ts_col, right_watermark).alias("r")
    lts, rts = F.col(f"l.{ts_col}"), F.col(f"r.{ts_col}")
    return l.join(
        r,
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (rts >= lts)
        & (rts <= lts + F.expr(f"INTERVAL {within}")),
    )


def dedup_stream(df: DataFrame, keys: list[str], within_watermark: bool = True) -> DataFrame:
    """B41 stateful dedup. With ``within_watermark`` state is bounded by the
    watermark horizon (requires a watermark upstream); batch equivalent is
    ``dropDuplicates`` (registry q31)."""
    if within_watermark:
        return df.dropDuplicatesWithinWatermark(keys)
    return df.dropDuplicates(keys)


def stateful_running_totals(df: DataFrame, key: str = "user_id", value_col: str = "value") -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState`` — the escape
    hatch for stateful semantics Structured Streaming's built-ins lack
    (here: per-key running event count + value total, emitted every
    micro-batch in update mode).

    Scale shape: state is one (long, double) pair per key, partitioned by
    the grouping key across executors; each micro-batch touches only keys
    present in that batch, Arrow-batched into pandas. At 100 TB of events
    the state store is bounded by |distinct keys| — pair with a timeout
    (GroupStateTimeout) for unbounded key spaces.
    """
    import pandas as pd  # local: keep module import-light for non-streaming users

    out_schema = f"{key} long, events long, total_value double"
    state_schema = "events long, total_value double"

    def fn(key_tuple, pdf_iter, state):
        events, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            events += len(pdf)
            total += float(pdf[value_col].sum())
        state.update((events, total))
        yield pd.DataFrame({key: [key_tuple[0]], "events": [events], "total_value": [total]})

    from pyspark.sql.streaming.state import GroupStateTimeout

    return df.groupBy(key).applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def parquet_sink(
    df: DataFrame,
    out_path: str,
    checkpoint_path: str,
    output_mode: str = "append",
    trigger_once: bool = True,
) -> DataStreamWriter:
    """B42 checkpointed parquet sink (exactly-once append). The checkpoint
    dir can live on the same object store as the data — the streaming
    analogue of the S3 shuffle barrier."""
    w = (
        df.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode(output_mode)
    )
    if trigger_once:
        w = w.trigger(availableNow=True)
    return w


def run_stream_to_completion(writer: DataStreamWriter, timeout_secs: int = 120) -> None:
    """Start an availableNow stream and block until it drains."""
    q = writer.start()
    q.awaitTermination(timeout_secs)
    if q.isActive:
        q.stop()


def export_shards_sink(
    df: DataFrame,
    out_path: str,
    checkpoint_path: str,
    id_col: str,
    n_shards: int,
    salt: str = "shard",
) -> DataStreamWriter:
    """Streaming training-export: each micro-batch is shard-assigned
    (content-addressed md5-mod — identical to the batch writer, so a
    streamed corpus lands in the SAME shard for every row a batch export
    would choose) and appended under one directory per shard via
    ``foreachBatch``. Within each appended file the rows are hash-sorted
    (the batch writer's in-file contract); across micro-batches a shard
    accumulates multiple files, which training readers treat as one
    logical shard. Checkpointing makes the append exactly-once per batch.
    """
    from spark_s3_shuffle_spark.operators.pipeline import shard_assign

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        sharded = shard_assign(batch_df, id_col, n_shards, salt=salt)
        order = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
        (
            sharded.repartition(n_shards, F.col("shard"))
            .sortWithinPartitions(F.col("shard"), order, F.col(id_col))
            .write.mode("append")
            .partitionBy("shard")
            .parquet(out_path)
        )

    return (
        df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
    )


def latest_summary(spark: SparkSession, summary_root: str, below_batch_id: int | None = None):
    """Highest committed summary version under ``summary_root`` (dirs named
    ``v<id>``), optionally restricted to versions strictly below a batch id
    — the guard that makes foreachBatch replays idempotent: a re-run of
    batch N must fold into the summary as it stood BEFORE N, even if N's
    own (uncommitted) version survives on disk. Returns a DataFrame or
    None."""
    jvm = spark._jvm
    jsc = spark.sparkContext._jsc.sc()
    hpath = jvm.org.apache.hadoop.fs.Path(summary_root)
    fs = hpath.getFileSystem(jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return None
    best = None
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith("v")):
            continue
        try:
            vid = int(name[1:])
        except ValueError:
            continue
        if below_batch_id is not None and vid >= below_batch_id:
            continue
        if best is None or vid > best:
            best = vid
    if best is None:
        return None
    return spark.read.parquet(f"{summary_root}/v{best:010d}")


def matview_maintenance_sink(
    df: DataFrame, summary_root: str, checkpoint_path: str
) -> DataStreamWriter:
    """Streaming materialized-view maintenance: each micro-batch of fact
    rows folds into the persisted lineitem summary via the SAME algebraic
    ``refresh_summary`` the batch tier proves bit-exact (registry q115) —
    one scan of the delta, a regroup over |summary| + |delta| rows, never
    a rescan of history. Each refresh writes an immutable ``v<batch_id>``
    directory (object-store-friendly: no in-place mutation); readers take
    the highest version. Idempotence under replay comes from two sides:
    the version write is keyed by batch_id (a replay overwrites its own
    version), and the previous summary is resolved strictly BELOW the
    replaying batch id, so a half-committed version can never be folded
    into itself. At 100 TB/day this is how the reporting tier keeps its
    sub-second summaries: the stream pays |delta| + |summary-grain| work
    per trigger, independent of corpus history."""
    from spark_s3_shuffle_spark.operators.matview import (
        build_lineitem_summary,
        refresh_summary,
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        prev = latest_summary(spark, summary_root, below_batch_id=batch_id)
        if prev is None:
            new = refresh_summary(
                build_lineitem_summary(batch_df.limit(0)), batch_df
            )
        else:
            new = refresh_summary(prev, batch_df)
        new.coalesce(1).write.mode("overwrite").parquet(
            f"{summary_root}/v{batch_id:010d}"
        )

    return (
        df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
    )


def stream_stream_interval_join_outer(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    ts_col: str = "event_ts",
    within: str = "10 minutes",
    left_watermark: str = "20 minutes",
    right_watermark: str = "30 minutes",
) -> DataFrame:
    """LEFT OUTER watermarked stream-stream interval join — the real-time
    drop-off detector: every left event emits, matched or not, so
    "views with NO click within 10 minutes" stream out as null-matched
    rows. Outer emission is watermark-driven: a left row is held until
    the watermark proves no in-interval right row can still arrive, THEN
    emitted with nulls — so null-matches lag by (watermark + interval),
    the price of correctness on an out-of-order stream. State bounds are
    the same as the inner join (both sides evicted past watermark +
    interval)."""
    l = left.withWatermark(ts_col, left_watermark).alias("l")
    r = right.withWatermark(ts_col, right_watermark).alias("r")
    lts, rts = F.col(f"l.{ts_col}"), F.col(f"r.{ts_col}")
    return l.join(
        r,
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (rts >= lts)
        & (rts <= lts + F.expr(f"INTERVAL {within}")),
        "left_outer",
    )
