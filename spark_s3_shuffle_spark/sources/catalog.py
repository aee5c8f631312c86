"""Table catalog: Parquet sources over the fixture star schema.

Stands in for the reference's input surface — TPC-DS Parquet tables
(reference: examples/sql/run_single_query.sh:27 reads
``s3a://…/sf${SIZE}_parquet/``) — over any Hadoop FileSystem path
(``file://``, ``s3a://``, ``cos://``; reference README.md:38-40).

Scan-side scale notes: loaders return *bare* ``spark.read.parquet`` frames
so Catalyst keeps full pushdown freedom (PushedFilters + ReadSchema reach
the Parquet scan). Derived columns (``events.event_ts``) are projections on
top, which column pruning eliminates when unused.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_s3_shuffle_spark.session import apply_runtime_confs

#: All fixture tables (TESTDATA.md). Dimension tables are listed with a
#: broadcast-by-default flag the join helpers consult: at any realistic
#: scale factor these stay far under the broadcast threshold, so fact⋈dim
#: joins plan as BroadcastHashJoin with zero fact-side shuffle.
TABLES: dict[str, dict] = {
    "region": {"broadcast": True},
    "nation": {"broadcast": True},
    "customer": {"broadcast": False},
    "supplier": {"broadcast": True},
    "part": {"broadcast": False},
    "orders": {"broadcast": False},
    "lineitem": {"broadcast": False},
    "events": {"broadcast": False},
    "documents": {"broadcast": False},
    "embeddings": {"broadcast": False},
}

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a DataFrame.

    ``events.ts`` is normalized to a TIMESTAMP column regardless of the
    fixture generation: current fixtures store TIMESTAMP(MICROS), which
    Spark reads natively; legacy fixtures stored TIMESTAMP(NANOS), which
    under ``spark.sql.legacy.parquet.nanosAsLong`` loads as bigint nanos
    and is converted here (truncated to micros). A derived ``event_ts``
    alias is always present for event-time operators (streaming windows,
    watermarks) so callers never branch on the physical type.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {sorted(TABLES)}")
    apply_runtime_confs(spark)
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        # event-time ops (watermarks, windows) require TIMESTAMP (ltz);
        # the ntz->ltz cast is identity under the session's pinned UTC tz.
        df = df.withColumn("event_ts", F.col("ts").cast("timestamp"))
    return df


#: Partition-count probe memo for widen_small_scan, keyed by
#: (applicationId, semanticHash of the analyzed plan). The probe itself
#: (``df.rdd.getNumPartitions()``) forces full physical planning plus a
#: DataFrame->RDD conversion on the driver EVERY call (ADVICE r11), and
#: the helper sits inside hot operator constructors that re-run per bench
#: draw — while the answer is a pure function of the analyzed plan within
#: one application (scan splits depend only on the file set and the
#: session's static split confs). Plan metadata only — never row data.
_SCAN_PARTS_MEMO: dict[tuple[str, int], int] = {}


def scan_partition_count(df: DataFrame) -> int | None:
    """Memoized ``df.rdd.getNumPartitions()`` (see _SCAN_PARTS_MEMO).
    Returns None when the plan is not convertible to an RDD."""
    spark = df.sparkSession
    try:
        key = (spark.sparkContext.applicationId, df.semanticHash())
        current = _SCAN_PARTS_MEMO.get(key)
        if current is None:
            current = df.rdd.getNumPartitions()
            _SCAN_PARTS_MEMO[key] = current
        return current
    except Exception:  # pragma: no cover - plan not convertible
        return None


def widen_small_scan(df: DataFrame) -> DataFrame:
    """CPU-parallelism guard for Python-heavy map chains (media codecs,
    signature computation) whose input scan has fewer partitions than the
    cluster has cores.

    A small Parquet file is one scan split, so every downstream
    Python map stage — where the cost is per-row Python CPU, not I/O —
    runs on a single core (the r11 profile measured q321's whole
    plant+decode chain serialized on 1 of 32 cores). Round-robin
    repartition of the *pre-explode/pre-decode* rows — the narrow side of
    the chain, never post-blowup payloads, per the move-heavy-bytes-once
    rule — spreads that CPU across ``defaultParallelism``. Scale-adaptive
    by construction: when the scan already has at least as many partitions
    as cores (any realistic production table), this is a no-op and adds no
    exchange.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    current = scan_partition_count(df)
    if current is None or current >= target:
        return df
    return df.repartition(target)


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or list(TABLES))}


def register_temp_views(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> None:
    """Register all tables as temp views so ``spark.sql`` queries work."""
    for n, df in load_tables(spark, sf_dir, names).items():
        df.createOrReplaceTempView(n)


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
    """Parquet sink (reference's ``-a save,<out>`` action,
    examples/sql/run_single_query.sh:28)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
