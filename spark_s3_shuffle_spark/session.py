"""SparkSession factory with the engine's standard configuration.

Mirrors the deployment surface of the reference plugin's config story
(reference: README.md:35-64, S3ShuffleDispatcher.scala:39-78) as plain
Spark conf: Kryo serialization (the reference benchmarks pin Kryo,
examples/sql/run_benchmark.sh:134), AQE on (skew-join + coalesce), and an
object-store-friendly I/O profile. No custom JVM code — Catalyst and the
built-in sort shuffle own the physical plan.

Scale notes (100 TB mindset):
- ``spark.sql.shuffle.partitions`` is a *starting* width; AQE coalesces
  small post-shuffle partitions and splits skewed ones at runtime, so a
  generous initial value is safe on a real cluster.
- ``spark.sql.files.maxPartitionBytes`` controls scan-side parallelism; at
  128 MiB a 100 TB table yields ~800k input splits — fine for a
  1000-executor cluster, and AQE keeps the downstream stages right-sized.
- Broadcast thresholds are raised (32 MiB static, 64 MiB AQE runtime) so
  dimension-bounded join sides broadcast even through the SQL-text front
  door, where no DataFrame ``broadcast()`` hint exists — the sf10 sweep
  measured the 10 MiB default flipping 12 MB dims into fact-side shuffles
  (SHUFFLE_SF10_r10: ds5 2 MB -> 4.3 GB). The engine's join helpers still
  hint dims explicitly, so DataFrame plans never depended on the threshold.
"""

from __future__ import annotations

import os
import site

from pyspark.sql import SparkSession

# Confs that are safe (and desirable) to apply to an externally-provided
# session at runtime: all are dynamic SQLConf entries.
RUNTIME_CONFS: dict[str, str] = {
    # The generated events.parquet stores TIMESTAMP(NANOS); Spark rejects it
    # unless this legacy flag is on (ts then loads as bigint nanos).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic timestamp semantics for oracle comparison (FIXTURES §4).
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime re-planning — coalesce small shuffle partitions, split
    # skewed ones, convert sort-merge joins to broadcast when a side turns
    # out small. This is the engine's answer to the reference's adaptive
    # read-side machinery (S3BufferedPrefetchIterator.scala:32-69).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every Pandas-UDF boundary (10-100x over row-at-a-time).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Opt-in gate for DataSourceReader.pushFilters (Spark 4.1): required by
    # the manifest_parquet source's shard pruning (sources/pydatasource.py).
    "spark.sql.python.filterPushdown.enabled": "true",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def engine_sql_confs(shuffle_partitions: int | None = None) -> dict[str, str]:
    """The five SQL confs of the engine profile that differ from Spark's
    defaults. All are dynamic, so ``bench.py`` flips them per sample to
    pair engine and vanilla draws in one session. ``shuffle_partitions``
    defaults to $SPARK_GRAFT_SHUFFLE_PARTITIONS, else max(cpus, 32)."""
    cpus = default_parallelism()
    parts = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", max(cpus, 32))
    )
    return {
        "spark.sql.shuffle.partitions": str(parts),
        "spark.sql.parquet.aggregatePushdown": "true",
        # Broadcast thresholds (round-10): Spark's 10 MiB default is tuned
        # for small executors; the sf10 shuffle-volume sweep measured ds5's
        # shuffle exploding 2 MB -> 4.3 GB the moment the 12 MB dims crossed
        # it (SHUFFLE_SF10_r10) — the fact started shuffling for dim joins.
        # Static threshold 32 MiB: covers real dimension tables (TPC-DS
        # SF1000's item parquet is ~30-80 MB; stores/dates far less) and is
        # measured SAFE against estimate misfires on this fixture — at 64
        # MiB Catalyst broadcast a column-pruned 208 MB fact (orders, whose
        # pruned ESTIMATE slipped under the bar) and blew the driver heap;
        # at 32 MiB no fact side broadcasts at any tested SF. The adaptive
        # twin at 64 MiB converts SMJ->BHJ at runtime from MEASURED sizes
        # (estimate-proof — this is what catches derived/aggregated dims
        # whose static estimates are fact-sized). SQL-text queries (no
        # DataFrame broadcast hints) are the beneficiaries; the DataFrame
        # helpers already hint dims explicitly.
        # DEPLOYMENT FLOOR (ADVICE r10): a static threshold is
        # ESTIMATE-based, so it shares the 64 MiB misfire's failure mode
        # on data whose pruned estimates undershoot reality. 32 MiB is
        # measured safe on these fixtures with an 8g driver; deployments
        # with <4g drivers or wildly skewed column stats should drop
        # spark.sql.autoBroadcastJoinThreshold back to the 10 MiB default
        # (or -1) and rely on the AQE adaptive threshold below, which
        # converts from MEASURED sizes and cannot misfire this way.
        "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
        "spark.sql.adaptive.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # AQE partition sizing (round-10): with coalescing ON, the initial
        # partition count is a CEILING — AQE merges small partitions but
        # never splits an exchange beyond it (skew-join aside), so
        # max(cpus, 32) silently capped sf10's 4 GB fact-fact shuffles at
        # 32 partitions of ~128 MB and pushed the SMJ sorts into 3.4 GB of
        # spill (SHUFFLE_SF10_r10, ds75). Start wide (8x parallelism);
        # AQE's advisoryPartitionSize coalesces small stages back down, so
        # small queries pay nothing and big shuffles right-size themselves.
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": str(8 * max(cpus, parts)),
    }


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply dynamic confs to any session (incl. one the driver provides)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf may be static in future Spark
            pass
    return spark


def decommission_fallback_conf(fallback_path: str) -> dict[str, str]:
    """Config recipe for the reference's *alternative* mode (A16): shuffle
    blocks of decommissioned executors migrate to object storage via Spark's
    built-in FallbackStorage instead of a custom shuffle manager (reference:
    S3ShuffleManager.scala:82-99 reuses this path; conf surface at
    S3ShuffleDispatcher.scala:39-51).

    Pass the result as ``extra_conf`` to :func:`get_spark` (static confs —
    they must be set before the session starts). ``fallback_path`` is any
    Hadoop-FS URI (``s3a://bucket/fallback/``, ``file:///tmp/fallback/``).

    At scale this is the graceful-downscale story: an executor slated for
    removal copies its shuffle files to ``fallback_path`` and reducers fetch
    from there — the same "shuffle survives the executor" guarantee the
    materialized exchange gives, but for Spark's own shuffle files.
    """
    return {
        "spark.decommission.enabled": "true",
        "spark.storage.decommission.enabled": "true",
        "spark.storage.decommission.shuffleBlocks.enabled": "true",
        "spark.storage.decommission.fallbackStorage.path": fallback_path.rstrip("/") + "/",
    }


def worker_daemon_conf(master: str) -> dict[str, str]:
    """``spark.python.daemon.module`` set to ``worker_daemon``, which loads
    PySpark in the Python workers from its installed package instead of
    ``pyspark.zip`` and so takes most of the fixed cost out of every Python
    task (README, "What a Python worker task costs"). Only for ``local``
    masters: there the driver's own JVM forks the daemon, with the driver's
    cwd and environment, so the daemon module resolves wherever this
    package sits in the cwd, on ``$PYTHONPATH`` or in site-packages (the
    worker's path; ``python -m`` puts the cwd first). Other masters' executors
    may get the package only through ``addPyFile``, after the daemon starts,
    so they keep PySpark's daemon."""
    if master != "local" and not master.startswith("local["):
        return {}
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    worker_path = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep),
                   *site.getsitepackages()]
    if root not in {os.path.abspath(p) for p in worker_path if p}:
        return {}
    return {"spark.python.daemon.module": "spark_s3_shuffle_spark.worker_daemon"}


def get_spark(
    app_name: str = "spark-s3-shuffle-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    Local testing runs ``local[$SPARK_GRAFT_CPUS]``; on a cluster the same
    factory is used with ``master`` unset (spark-submit provides it).
    """
    master = master or f"local[{default_parallelism()}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # AppStatusStore retention: the executed-plan shuffle metering
        # (plans/inspect.py executed_shuffle_metrics) reads per-stage task
        # metrics from the store after the fact; Spark's default of 1000
        # retained stages silently evicts early stages in a 246-query sweep.
        # Cost is listener-memory only (~KB/stage).
        .config("spark.ui.retainedStages", "40000")
        .config("spark.ui.retainedJobs", "40000")
        # Generated-code cache (static, JVM-wide LRU of compiled Janino
        # classes). The llm_pipeline workload's six queries alone compile
        # 209 distinct classes, so at Spark's default of 100 entries every
        # repeat of a query recompiles what the LRU just evicted (125-151
        # compilations per pass, CodegenMetrics.METRIC_COMPILATION_TIME);
        # with room for the working set a repeat compiles nothing. 1000
        # gives ~5x headroom over that set, for sessions that mix more
        # queries. It is a ceiling, not a reservation: an entry exists only
        # for code that was actually compiled.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    confs = {**worker_daemon_conf(master), **engine_sql_confs(shuffle_partitions),
             **RUNTIME_CONFS}
    for k, v in confs.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return apply_runtime_confs(spark)
