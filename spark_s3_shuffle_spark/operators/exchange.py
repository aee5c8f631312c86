"""Materialized exchange: shuffle-on-object-storage as an engine feature.

The reference's core value proposition is "shuffle data lives on elastic
object storage, so executors are stateless and can scale down mid-query"
(reference: S3ShuffleManager.scala + README.md:3-4 — a JVM ShuffleManager
plugin). That SPI is JVM-only; the idiomatic PySpark equivalent (SURVEY
§4.3) is a *checkpoint exchange*: hash-partition a DataFrame on its keys and
persist it as Parquet under a prefix-sharded scratch layout, then read it
back as a new stage input.

What this buys at scale, mirroring the plugin:

- write-once/read-many stage barrier on S3 — downstream stages (or a
  *re-sized* cluster) re-read the exchange without the producers being
  alive, like the plugin's FALLBACK_BLOCK_MANAGER_ID trick
  (S3ShuffleWriter.scala:10-18);
- prefix sharding ``{root}/p{hash % P}/{app}/{stage}/`` to dodge object-store
  per-prefix rate limits (the plugin's ``spark.shuffle.s3.folderPrefixes``,
  S3ShuffleDispatcher.scala:61,142-143);
- deterministic cleanup of per-stage or whole-app scratch trees, parallel
  per prefix (S3ShuffleDispatcher.scala:104-118,174-183);
- I/O metering per exchange (bytes/rows/files + wall time — the plugin's
  S3MeasureOutputStream.scala:8-65 analogue).

Everything uses the Hadoop FileSystem API through Spark, so ``file://``,
``s3a://`` and ``cos://`` roots all work (README.md:38-40).
"""

from __future__ import annotations

import json
import os
import time
import uuid
import zlib
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from spark_s3_shuffle_spark.plans.inspect import group_stages, job_group


@dataclass
class ExchangeStats:
    """Per-exchange I/O metering, both directions (A15 analogue — the
    reference meters writes via S3MeasureOutputStream.scala:8-65 and reads
    via S3BufferedPrefetchIterator.scala:155-186)."""
    stage: str
    path: str
    num_partitions: int
    write_secs: float = 0.0
    bytes_written: int = 0
    num_files: int = 0
    read_secs: float = 0.0
    bytes_read: int = 0
    num_reads: int = 0
    # task-level read metrics (A15 read side): aggregated from per-task
    # input metrics by Spark's AppStatusListener, harvested per metered
    # read window — see ExchangeManager.metered_read
    task_input_bytes: int = 0
    task_input_records: int = 0
    task_read_millis: int = 0
    metered_stages: int = 0
    # integrity record captured by the write itself (see _materialize):
    # row count and content digest (None when xxhash64 rejects a column
    # type), and the written frame's schema as JSON
    rows: int | None = None
    digest: str | None = None
    schema_json: str | None = None

    def mib_per_sec(self) -> float:
        return (self.bytes_written / (1 << 20)) / self.write_secs if self.write_secs else 0.0

    def read_mib_per_sec(self) -> float:
        return (self.bytes_read / (1 << 20)) / self.read_secs if self.read_secs else 0.0


@dataclass
class ExchangeManager:
    """Manages a scratch root for materialized exchanges.

    ``root`` may be any Hadoop-FS URI (file:///tmp/scratch, s3a://bucket/x).
    ``prefixes`` shards stage dirs across numeric prefixes — object stores
    rate-limit per key prefix, so spreading exchanges over P prefixes gives
    P× the aggregate request budget (the plugin defaults to 10).
    """

    spark: SparkSession
    root: str
    prefixes: int = 10
    app_id: str = ""
    stats: dict[str, ExchangeStats] = field(default_factory=dict, init=False)

    def __post_init__(self) -> None:
        if not self.app_id:
            self.app_id = self.spark.sparkContext.applicationId or uuid.uuid4().hex[:12]

    # -- path layout (plugin: ``{rootDir}/{mapId % prefixes}/{appId}/{shuffleId}``)
    def stage_path(self, stage: str) -> str:
        return os.path.join(self._app_dir(shard_of(stage, self.prefixes)), stage)

    def _app_dir(self, shard: int) -> str:
        return os.path.join(self.root, f"p{shard}", self.app_id)

    # -- write leg: repartition on keys + parquet write (A2 analogue)
    def stage_write(
        self,
        df: DataFrame,
        stage: str,
        keys: list[str] | None = None,
        num_partitions: int | None = None,
        sort_within: list[str] | None = None,
    ) -> ExchangeStats:
        """Materialize ``df`` hash-partitioned on ``keys``.

        The files are physically clustered by key, but a plain parquet
        re-read carries no partitioner metadata, so Catalyst will still
        plan an exchange for a downstream join/agg (the data movement is
        cheap — rows for one key sit in one file — but the stage boundary
        remains). For a *shuffle-free* downstream join use
        :meth:`stage_write_bucketed`, which records bucketing in the
        session catalog. ``sort_within`` additionally sorts rows inside
        each partition (the plugin's reduce-side-sort analogue,
        S3ShuffleReader.scala:141-149).
        """
        out = df
        if keys:
            out = out.repartition(num_partitions, *keys) if num_partitions else out.repartition(*keys)
        elif num_partitions:
            out = out.repartition(num_partitions)
        if sort_within:
            out = out.sortWithinPartitions(*sort_within)
        return self._materialize(stage, out, num_partitions, lambda writer, path: writer.parquet(path))

    def _materialize(self, stage: str, out: DataFrame, num_partitions: int | None, save) -> ExchangeStats:
        """Write ``out`` with ``save(writer, path)`` and record the stage's
        ExchangeStats, including its integrity record.

        The content digest (:func:`_digest_aggs`) is observed as the last
        node before the writer, after any repartition or sort, so it runs
        in the write's result stage: Spark applies each result task's
        accumulator update once, so task retries never double-count. The
        write therefore yields the digest of exactly what it wrote, and
        :func:`write_stage_checksum` pins it without reading the stage.
        A frame whose column types ``xxhash64`` rejects (map, variant) is
        written without a digest."""
        path = self.stage_path(stage)
        obs = Observation(f"exchange-digest-{uuid.uuid4().hex}")
        try:
            observed = out.observe(obs, *_digest_aggs(out.columns))
        except AnalysisException:
            observed, obs = out, None
        t0 = time.monotonic()
        save(observed.write.mode("overwrite"), path)
        rows, digest = _digest_of(obs.get) if obs is not None else (None, None)
        elapsed = time.monotonic() - t0
        nbytes, nfiles = self._du(path)
        if num_partitions is None:
            # written-file count == partition count for a fresh write; avoids
            # a DF→RDD conversion just to ask getNumPartitions.
            num_partitions = nfiles or int(self.spark.conf.get("spark.sql.shuffle.partitions", "200"))
        st = ExchangeStats(
            stage, path, num_partitions, elapsed, bytes_written=nbytes, num_files=nfiles,
            rows=rows, digest=digest, schema_json=out.schema.json(),
        )
        self.stats[stage] = st
        return st

    def stage_read(self, stage: str) -> DataFrame:
        """Read an exchange back (B-side of the barrier). Parquet footers
        give per-file stats, so downstream filters still prune.

        The read is recorded on the stage's ExchangeStats (read-side A15
        parity: bytes at rest + listing latency; per-task input metrics
        come from :meth:`metered_read`).

        A stage this manager wrote is read with the schema its write
        recorded, so Spark runs no schema-inference job, as long as the
        part files' bytes and count are still the ones the write recorded;
        otherwise (another manager rewrote the shared path, or the stage is
        not this manager's) the schema is inferred from the files. Raises
        FileNotFoundError when the stage has no part file: with an explicit
        schema, total loss would otherwise read as an empty frame."""
        path = self.stage_path(stage)
        t0 = time.monotonic()
        bytes_at_rest, nfiles = self._du(path)
        if not nfiles:
            raise FileNotFoundError(f"stage {stage} has no part files under {path}")
        st = self.stats.get(stage)
        if st is None:
            st = ExchangeStats(stage, path, 0)
            self.stats[stage] = st
        unchanged = (bytes_at_rest, nfiles) == (st.bytes_written, st.num_files)
        df = _parquet_reader(self.spark, st.schema_json if unchanged else None).parquet(path)
        st.bytes_read += bytes_at_rest
        st.read_secs += time.monotonic() - t0
        st.num_reads += 1
        return df

    @contextmanager
    def metered_read(self, stage: str):
        """Read an exchange with task-level read metering (the reference
        meters each read stream's wall time in
        S3BufferedPrefetchIterator.scala:155-186; the Spark-native analogue
        is the per-task input metrics the AppStatusListener already
        aggregates per stage).

        Usage::

            with mgr.metered_read("stage") as df:
                df.agg(...).collect()      # any action(s)

        The window runs under a job group unique to it
        (``plans.inspect.job_group``). On exit, input bytes/records and
        executor run time of every completed stage of that group's jobs
        are added to the stage's ExchangeStats (task_input_bytes /
        task_input_records / task_read_millis). Jobs that other threads
        run meanwhile are outside the group and are not counted."""
        tag = f"metered-read-{uuid.uuid4().hex}"
        with job_group(self.spark, tag):
            yield self.stage_read(stage)
        st = self.stats[stage]
        for s in group_stages(self.spark, tag)[0]:
            if str(s.status()) != "COMPLETE":
                continue
            st.task_input_bytes += int(s.inputBytes())
            st.task_input_records += int(s.inputRecords())
            st.task_read_millis += int(s.executorRunTime())
            st.metered_stages += 1

    def tune_read_partition_bytes(
        self,
        stage: str,
        target_task_millis: int = 2_000,
        min_bytes: int = 1 << 20,
        max_bytes: int = 1 << 30,
    ) -> dict:
        """Metering-driven read-parallelism knob (A10 parity for the
        filesystem exchange — the reference hill-climbs its prefetch
        thread count from observed latencies,
        `S3BufferedPrefetchIterator.scala:32-69`; the Spark-native
        analogue of "how much read work per concurrent unit" is
        ``spark.sql.files.maxPartitionBytes``, the scan-split size).

        Consumes the task metrics a prior :meth:`metered_read` window
        harvested (observed aggregate bytes / executor-run-millis) and
        sizes the split so one scan task carries ``target_task_millis``
        of work at the OBSERVED per-task throughput — small splits on a
        slow store (more concurrent requests hide latency), large splits
        on a fast one (fewer per-task overheads). Clamped to
        [min_bytes, max_bytes], applied to the session conf (takes
        effect on the NEXT read planned), returns the decision record::

            {"observed_bytes_per_ms", "old_max_partition_bytes",
             "new_max_partition_bytes", "target_task_millis"}

        Raises ValueError if the stage has no metered observations — the
        knob never guesses.
        """
        st = self.stats.get(stage)
        if st is None or st.task_read_millis <= 0 or st.task_input_bytes <= 0:
            raise ValueError(
                f"stage {stage!r} has no metered read observations; run a "
                "metered_read window first — the knob adapts, not guesses"
            )
        bytes_per_ms = st.task_input_bytes / st.task_read_millis
        proposed = int(bytes_per_ms * target_task_millis)
        clamped = max(min_bytes, min(max_bytes, proposed))
        key = "spark.sql.files.maxPartitionBytes"
        old = self.spark.conf.get(key)
        self.spark.conf.set(key, str(clamped))
        return {
            "observed_bytes_per_ms": round(bytes_per_ms, 2),
            "old_max_partition_bytes": old,
            "new_max_partition_bytes": clamped,
            "target_task_millis": target_task_millis,
        }

    # -- bucketed variant: co-located, shuffle-free downstream joins -------
    def stage_write_bucketed(
        self,
        df: DataFrame,
        stage: str,
        keys: list[str],
        num_buckets: int = 32,
        sort_within: list[str] | None = None,
    ) -> ExchangeStats:
        """Materialize ``df`` as a BUCKETED table on ``keys``: bucketing
        metadata lands in the session catalog, so two stages bucketed the
        same way join/aggregate with ZERO exchange — Catalyst trusts the
        bucket layout (this is the property a plain parquet re-read cannot
        give, and the true analogue of the plugin's "reducers read
        pre-partitioned map output" layout). Bucket files live under the
        same prefix-sharded scratch path; table name = stage name
        (catalog-sanitized). Lifetime is the session's, matching shuffle
        scratch semantics.
        """

        def save(writer, path):
            writer = writer.format("parquet").option("path", path).bucketBy(num_buckets, *keys)
            if sort_within:
                writer = writer.sortBy(*sort_within)
            writer.saveAsTable(_table_name(stage))

        return self._materialize(stage, df, num_buckets, save)

    def stage_read_bucketed(self, stage: str) -> DataFrame:
        """Read a bucketed exchange via the catalog (keeps the bucket spec —
        a plain ``spark.read.parquet`` of the same files would discard it)."""
        return self.spark.table(_table_name(stage))

    # -- Hadoop FS plumbing ------------------------------------------------
    def _du(self, path: str) -> tuple[int, int]:
        """(bytes, file count) of the stage's DATA files only. Walks the
        tree and filters to ``part-*`` — getContentSummary would also count
        ``_SUCCESS`` and local-FS ``.crc`` sidecars, inflating the recorded
        partition count (e.g. 5 for a 4-partition write)."""
        fs, hpath, _ = _fs(self.spark, path)
        if not fs.exists(hpath):
            return 0, 0
        nbytes = nfiles = 0
        it = fs.listFiles(hpath, True)
        while it.hasNext():
            f = it.next()
            if f.getPath().getName().startswith("part-"):
                nbytes += int(f.getLen())
                nfiles += 1
        return nbytes, nfiles

    # -- cleanup (A13 analogue: per-stage and whole-app delete) ------------
    def remove_stage(self, stage: str) -> bool:
        """Delete the stage's files and drop its bucketed table, if any.
        Returns False when the stage does not exist; raises when the
        filesystem refuses the delete."""
        self._drop_table(stage)
        removed = _delete_tree(self.spark, self.stage_path(stage))
        self.stats.pop(stage, None)
        return removed

    def remove_all(self) -> int:
        """Delete this app's scratch across all prefixes (plugin's
        ``removeRoot``) and drop the bucketed tables of the stages this
        manager holds. One delete call per prefix tree — on S3 the FS
        client fans these out; prefix sharding keeps each tree small.
        Returns the number of prefix trees deleted."""
        for stage in self.stats:
            self._drop_table(stage)
        removed = sum(
            _delete_tree(self.spark, self._app_dir(shard)) for shard in range(self.prefixes)
        )
        self.stats.clear()
        return removed

    def _drop_table(self, stage: str) -> None:
        self.spark.sql(f"DROP TABLE IF EXISTS `{_table_name(stage)}`")


def shard_of(stage: str, prefixes: int) -> int:
    """The prefix shard of ``stage`` among ``prefixes``, for both exchange
    backends. A checksum of the name, NOT builtin hash(): Python salts str
    hashes per process (PYTHONHASHSEED), so hash(stage) would send a
    restarted driver to a different prefix than the one the stage was
    written under — breaking exactly the cross-process re-read the
    exchange exists for."""
    return zlib.crc32(stage.encode("utf-8")) % prefixes


def _table_name(stage: str) -> str:
    """Session-catalog table of a bucketed stage."""
    return f"exchange_{stage}".replace("-", "_").replace("/", "_")


# -- Hadoop FS and content-integrity helpers (also used by maintenance.py) ---

def _fs(spark: SparkSession, path: str):
    """(FileSystem, Path, jvm) for any Hadoop-FS URI."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath, jvm


def _delete_tree(spark: SparkSession, path: str) -> bool:
    """Recursively delete ``path``. False when it does not exist. Hadoop's
    ``delete`` reports a refusal by returning False rather than raising,
    so a refused delete of an existing path raises here."""
    fs, hpath, _ = _fs(spark, path)
    if not fs.exists(hpath):
        return False
    if not fs.delete(hpath, True):
        raise RuntimeError(f"filesystem refused to delete {path}")
    return True


def _write_json(spark: SparkSession, path: str, doc: dict) -> None:
    """Write ``doc`` as a JSON sidecar file (key order as given)."""
    fs, hpath, _ = _fs(spark, path)
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(json.dumps(doc).encode("utf-8")))
    finally:
        out.close()


def _read_json(spark: SparkSession, path: str) -> dict | None:
    """A JSON sidecar file's content, or None when the file is missing."""
    fs, hpath, _ = _fs(spark, path)
    if not fs.exists(hpath):
        return None
    stream = fs.open(hpath)
    try:
        return json.loads(bytes(stream.readAllBytes()).decode("utf-8"))
    finally:
        stream.close()


# The plugin computes each reduce partition's Adler32/CRC32 while the map
# output is written, stores it beside the data, and validates it at
# partition boundaries on read (S3ShuffleHelper.scala:49-51,83-92;
# S3ChecksumValidationStream.scala:17-92). The engine-level analogue
# validates CONTENT, not byte streams: an order-independent row-hash sum.
# ExchangeManager's writes observe it in the job that writes the stage,
# write_stage_checksum pins it as a sidecar without reading the stage, and
# verify_stage_checksum recomputes it from the files at rest — catching
# files lost or duplicated at any point after the write, truncated files
# and corrupted values, regardless of how the object store re-chunked the
# bytes.

def _digest_aggs(cols: list[str]) -> list:
    """Aggregates ``rows`` and ``digest``: row count and the sum of
    per-row xxhash64 over ``cols``, accumulated exactly in decimal(38,0)
    so the digest is independent of partitioning and read order. Use in
    ``select`` for one digest, ``groupBy(...).agg`` for one per group, or
    ``observe`` for the digest of what an action wrote."""
    return [
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("digest"),
    ]


def _digest_of(row) -> tuple[int, str]:
    """(rows, digest) of a row (or observed-metrics dict) computed with
    :func:`_digest_aggs`."""
    return int(row["rows"]), str(row["digest"] if row["digest"] is not None else 0)


def _content_checksum(df) -> tuple[int, str]:
    """(row_count, order-independent content digest) over ALL columns."""
    return _digest_of(df.select(*_digest_aggs(df.columns)).first())


def _parquet_reader(spark: SparkSession, schema_json: str | None):
    """A parquet reader with the given schema (JSON), so reading runs no
    schema-inference job; with None, Spark infers the schema as usual."""
    reader = spark.read
    if schema_json is not None:
        reader = reader.schema(StructType.fromJson(json.loads(schema_json)))
    return reader


def _checksum_path(stage_path: str) -> str:
    return f"{stage_path}/_content_checksum.json"


def write_stage_checksum(mgr: "ExchangeManager", stage: str) -> dict:
    """Persist the content checksum of a materialized stage as a sidecar:
    ``{"stage", "rows", "digest", "schema"}``.

    For a stage this manager wrote, the rows, digest and schema are the
    ones the write recorded in the job that wrote the stage, so pinning
    runs no Spark job, and a file lost between the write and this call
    fails :func:`verify_stage_checksum` instead of being baked into the
    pin; likewise, if another manager rewrote the shared path since, the
    pin is of what this manager wrote and verification fails. A stage
    with no such record (written by another process, or by a frame whose
    column types ``xxhash64`` rejects) is digested from its files at
    rest, which raises for those column types."""
    path = mgr.stage_path(stage)
    st = mgr.stats.get(stage)
    if st is not None and st.digest is not None:
        n, digest, schema_json = st.rows, st.digest, st.schema_json
    else:
        df = mgr.spark.read.parquet(path)
        n, digest = _content_checksum(df)
        schema_json = df.schema.json()
    doc = {"stage": stage, "rows": n, "digest": digest, "schema": schema_json}
    _write_json(mgr.spark, _checksum_path(path), doc)
    return doc


def verify_stage_checksum(mgr: "ExchangeManager", stage: str) -> bool:
    """Recompute the stage's content checksum from its files at rest and
    compare with the sidecar (A5 read-side validation); the files are
    read with the sidecar's schema, so no schema-inference job runs.
    Returns False on any mismatch or missing sidecar — callers decide
    whether to refetch/rebuild the stage, the same recovery the plugin's
    validation stream triggers."""
    path = mgr.stage_path(stage)
    want = _read_json(mgr.spark, _checksum_path(path))
    if want is None:
        return False
    # Total corruption — every parquet file missing/deleted — reads as an
    # empty frame under the sidecar's schema (a mismatching digest), but
    # makes a read without one raise (unable to infer schema); that is
    # still "validation failed", so report False and let the caller
    # refetch/rebuild, mirroring the missing-sidecar path above.
    try:
        df = _parquet_reader(mgr.spark, want.get("schema")).parquet(path)
        n, digest = _content_checksum(df)
    except Exception:
        return False
    return n == want["rows"] and digest == want["digest"]
