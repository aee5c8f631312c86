"""Object-store exchange: the engine's storage protocols against a REAL
S3 API (round-6 tier).

`operators/exchange.py` runs shuffle-on-storage through the Hadoop
FileSystem API, which in production speaks ``s3a://`` — but this sandbox
ships no ``hadoop-aws`` connector jar, so the JVM can never dial an S3
endpoint here. Rather than leave the object-store claim untested, this
module re-expresses the exchange's storage protocol the way the
reference itself does it (an engine-managed S3 client on every executor
— `S3ShuffleDispatcher.scala:72-78`, `S3ShuffleWriter.scala`): Spark
tasks move the data, boto3 moves the bytes, and the whole protocol is
exercised in tests against moto_server — a faithful S3 REST
implementation — covering exactly the semantics the local filesystem
cannot fake:

- **No rename.** Object stores publish atomically only at single-object
  PUT granularity. The stage commit is therefore a MANIFEST POINTER:
  data objects are written first (invisible to readers — nobody lists
  the prefix), then one ``_manifest.json`` PUT makes the stage exist.
  A crashed writer leaves garbage objects but never a half-visible
  stage; re-running overwrites the manifest, and orphans are swept by
  ``remove_stage``. (The filesystem tier's rename-aside compaction swap
  — `maintenance.py` — is the rename-world answer; this is the
  S3-world answer, the same one table formats standardized.)
- **Prefix sharding.** Part objects spread across
  ``{stage}/p{shard:02d}/`` prefixes (the reference's
  ``folderPrefixes``, `S3ShuffleDispatcher.scala:61,142-143`) so S3's
  per-prefix request-rate limits see P independent key ranges.
- **Bulk parallel delete.** Cleanup is one prefix sweep: a paginated
  LIST of the stage (or app shard) prefix feeds ``DeleteObjects``
  (1000/batch) from a pool of 4 threads
  (`S3ShuffleDispatcher.scala:104-118` removeShuffle parity). The
  manifest is not read: it and every data key sit under the stage
  prefix, and S3 LIST is strongly consistent, so the LIST returns every
  key the manifest names, plus crashed writers' orphans.
- **Multipart upload.** Parts above the threshold stream through S3
  multipart via boto3's transfer manager — exercised with an
  over-threshold stage in tests.
- **Executor-side data plane.** Writes and reads are ``mapInArrow``
  passes: a write task per core writes an object per input partition,
  a reader task parses its key slice, and each task talks to S3
  itself. At 1000 executors that is 1000 concurrent S3 clients and ZERO
  driver bytes — only the per-partition manifest rows (one JSON line
  each) ever reach the driver.
- **At most one Python task per core per op** (unless a caller asks
  for more reader tasks): whatever it does, a Python worker task costs
  ~0.02 s of CPU to start under the engine's worker daemon and ~0.25 s
  under PySpark's own, which ``get_spark`` keeps on non-local masters
  (README, "What a Python worker task costs").
- **Integrity.** The manifest pins per-object SHA-256 + row count at
  write time; ``verify_stage`` re-downloads and re-hashes distributedly,
  taking each object's row count from its parquet footer rather than
  decoding it (A4/A5 parity with `exchange.py`'s content checksums).

Read-side concurrency is ADAPTIVE (A10 parity,
`S3BufferedPrefetchIterator.scala:32-69`): see
:class:`AdaptiveFetcher` — each reader task hill-climbs its prefetch
thread count from observed GET latencies instead of pinning a static
readahead, and reports the latency histogram the tuner consumed.
"""

from __future__ import annotations

import hashlib
import io
import json
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from spark_s3_shuffle_spark.operators.exchange import shard_of

_MANIFEST = "_manifest.json"
#: Column that carries each row's input partition id into the write tasks.
_PID = "__s3x_partition_id"


@dataclass(frozen=True)
class S3Config:
    """Connection + layout parameters, closure-shipped to every task
    (plain strings/ints only — no client objects cross the wire; each
    task builds its own boto3 client)."""

    endpoint_url: str
    bucket: str
    access_key: str = "graft-test"
    secret_key: str = "graft-test"
    region: str = "us-east-1"
    prefix_shards: int = 16
    multipart_threshold: int = 8 * 1024 * 1024

    def client(self):
        import boto3
        from botocore.config import Config as _BotoConfig

        return boto3.client(
            "s3",
            endpoint_url=self.endpoint_url,
            aws_access_key_id=self.access_key,
            aws_secret_access_key=self.secret_key,
            region_name=self.region,
            config=_BotoConfig(
                retries={"max_attempts": 5, "mode": "standard"}
            ),
        )


def _part_key(stage: str, shard: int, pid: int, attempt: str) -> str:
    """Data keys carry a per-write ATTEMPT token between the prefix shard
    and the part number. Round-7 hardening: without it, two writers
    racing one stage name overwrite each other's same-named objects, so
    the surviving manifest could point at a TORN mix of both writes.
    With disjoint attempt prefixes each writer's object set is private;
    whichever manifest PUT lands last wins and points at ONE complete,
    self-consistent set (the reference's commit discipline —
    S3ShuffleMapOutputWriter.scala:91-118 publishes per-attempt blocks
    and commits via the index). The loser's orphans stay invisible
    (readers only follow the manifest) until remove_stage's paginated
    sweep deletes everything under the stage prefix."""
    return f"{stage}/p{shard:02d}/a{attempt}/part-{pid:05d}.parquet"


def stage_write(
    df: DataFrame,
    stage: str,
    cfg: S3Config,
    sort_within: list[str] | None = None,
    fault_injection=None,
) -> dict:
    """Materialize ``df`` to the object store and PUBLISH it atomically.

    ``sort_within`` (same contract as ``exchange.ExchangeManager.
    stage_write``) sorts rows inside each input partition before upload,
    so each stage object is internally ordered — the property sorted
    merge-readers and range probes rely on.

    One ``mapInArrow`` pass with at most ``defaultParallelism`` tasks:
    every row is tagged with its input partition id, then the frame is
    coalesced (never widened, never shuffled) to one task per core. A
    coalesced task reads its parent partitions one after another, so
    each tag forms one contiguous run, and the task streams each run into an
    in-memory parquet file, uploads it (multipart above the threshold)
    to its prefix shard, and emits ONE manifest row (key, rows, bytes,
    sha256). The driver then PUTs ``_manifest.json`` — schema, object
    list, totals — as the single atomic commit point. Returns the
    manifest dict. An object is flushed as soon as the next run starts,
    so a task holds one partition in memory at a time, and a task reuses
    one boto3 client for all its objects.

    Trade-off: the object layout is the input partitioning, but an
    uncached upstream is computed at most ``defaultParallelism`` tasks
    wide, in static groups of partitions rather than scheduled
    dynamically — a slow partition holds up the rest of its group. In
    exchange the op pays the Python worker start-up cost (~0.02 s of CPU
    under the engine's worker daemon, ~0.25 s under PySpark's own) once
    per core instead of once per partition.

    Scale: data bytes never touch the driver; the driver sees
    |partitions| manifest rows. P prefix shards give the store P
    independent rate-limit buckets.

    ``fault_injection`` (test-only seam, round-10): a picklable
    ``callable(partition_id, task_attempt_number)`` invoked in-task AFTER
    each object upload and BEFORE its manifest row is emitted — the worst
    executor-death point (bytes uploaded, nothing committed).
    ``partition_id`` is the input partition the object holds. Raising
    there simulates the reference's failure scenario
    (`S3ShuffleWriter.scala:10-18`): Spark retries the task, the retry
    re-uploads the SAME keys (the attempt token is per stage_write call,
    driver-side), the full-object PUT is last-writer-wins, and the
    manifest only ever records the surviving attempt — so the crashed
    attempt's bytes can never tear the stage. Proven in
    `tests/test_s3exchange.py::test_task_death_mid_write_replays_idempotently`.
    """
    if sort_within:
        df = df.sortWithinPartitions(*sort_within)
    schema_json = df.schema.json()
    shards = cfg.prefix_shards
    attempt = uuid.uuid4().hex[:12]
    tagged = df.withColumn(_PID, F.spark_partition_id()).coalesce(
        df.sparkSession.sparkContext.defaultParallelism
    )

    def write_partitions(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        client = None

        def upload(pid, run):
            nonlocal client
            table = pa.Table.from_batches(run).drop_columns(_PID)
            sink = pa.BufferOutputStream()
            pq.write_table(table, sink, compression="snappy")
            data = sink.getvalue().to_pybytes()
            sha = hashlib.sha256(data).hexdigest()
            key = _part_key(stage, pid % shards, pid, attempt)
            if client is None:
                client = cfg.client()
            if len(data) >= cfg.multipart_threshold:
                from boto3.s3.transfer import TransferConfig

                client.upload_fileobj(
                    io.BytesIO(data),
                    cfg.bucket,
                    key,
                    Config=TransferConfig(
                        multipart_threshold=cfg.multipart_threshold,
                        multipart_chunksize=max(
                            5 * 1024 * 1024, cfg.multipart_threshold // 2
                        ),
                    ),
                )
            else:
                client.put_object(Bucket=cfg.bucket, Key=key, Body=data)
            if fault_injection is not None:
                fault_injection(pid, TaskContext.get().attemptNumber())
            return pa.RecordBatch.from_pydict(
                {"key": pa.array([key]),
                 "rows": pa.array([table.num_rows], pa.int64()),
                 "bytes": pa.array([len(data)], pa.int64()),
                 "sha256": pa.array([sha])}
            )

        run_pid, run = None, []
        for b in batches:
            if b.num_rows == 0:
                continue
            # a batch may straddle input partitions: split it at each
            # change of tag and flush the finished run before the next
            pids = b.column(_PID).to_numpy()
            cuts = [0, *(np.flatnonzero(pids[1:] != pids[:-1]) + 1), len(pids)]
            for lo, hi in zip(cuts, cuts[1:]):
                pid = int(pids[lo])
                if pid != run_pid:
                    if run:
                        yield upload(run_pid, run)
                    run_pid, run = pid, []
                run.append(b.slice(lo, hi - lo))
        if run:
            yield upload(run_pid, run)

    t0 = time.monotonic()
    rows = tagged.mapInArrow(
        write_partitions, "key string, rows long, bytes long, sha256 string"
    ).collect()
    objects = [
        {"key": r["key"], "rows": r["rows"], "bytes": r["bytes"],
         "sha256": r["sha256"]}
        for r in rows
    ]
    manifest = {
        "stage": stage,
        "schema": schema_json,
        "objects": sorted(objects, key=lambda o: o["key"]),
        "total_rows": sum(o["rows"] for o in objects),
        "total_bytes": sum(o["bytes"] for o in objects),
        "write_secs": round(time.monotonic() - t0, 3),
    }
    cfg.client().put_object(
        Bucket=cfg.bucket,
        Key=f"{stage}/{_MANIFEST}",
        Body=json.dumps(manifest, sort_keys=True).encode("utf-8"),
    )
    return manifest


def read_manifest(stage: str, cfg: S3Config) -> dict | None:
    """The stage exists iff its manifest object exists — listing the data
    prefix is never consulted (uncommitted garbage is invisible). Only a
    missing key means "no stage": any other error (wrong bucket, endpoint
    or credentials) raises."""
    from botocore.exceptions import ClientError

    try:
        body = cfg.client().get_object(
            Bucket=cfg.bucket, Key=f"{stage}/{_MANIFEST}"
        )["Body"].read()
    except ClientError as e:
        if e.response.get("Error", {}).get("Code") in ("NoSuchKey", "404"):
            return None
        raise
    return json.loads(body.decode("utf-8"))


class AdaptiveFetcher:
    """Hill-climbing prefetch controller (A10 —
    `S3BufferedPrefetchIterator.scala:32-69` re-expressed): fetch keys
    with a thread pool whose size adapts to OBSERVED throughput. After
    each probe window it tries the next concurrency step; if the
    window's aggregate throughput improved it keeps climbing, otherwise
    it steps back — converging near the store's sweet spot instead of
    pinning a static readahead. Records per-GET latencies so callers can
    export the histogram the tuner consumed."""

    MIN_THREADS = 1
    MAX_THREADS = 16
    #: keys fetched per probe window, between two concurrency steps
    WINDOW = 6
    #: upper bounds (ms) of the exported latency histogram's buckets
    BUCKETS_MS = (5, 10, 25, 50, 100, 250, 1000)

    def __init__(self, fetch_one):
        self.fetch_one = fetch_one
        self.latencies: list[float] = []
        self.thread_trace: list[int] = []

    def fetch_all(self, keys: list[str]):
        """Yield (key, payload) for every key; order not guaranteed
        within a probe window."""
        threads = self.MIN_THREADS
        prev_rate = 0.0
        direction = 1
        i = 0
        while i < len(keys):
            chunk = keys[i: i + self.WINDOW]
            i += self.WINDOW
            self.thread_trace.append(threads)
            t0 = time.monotonic()
            with ThreadPoolExecutor(max_workers=threads) as pool:
                def timed(key):
                    s = time.monotonic()
                    payload = self.fetch_one(key)
                    return key, payload, time.monotonic() - s

                for key, payload, lat in pool.map(timed, chunk):
                    self.latencies.append(lat)
                    yield key, payload
            elapsed = max(time.monotonic() - t0, 1e-9)
            rate = len(chunk) / elapsed
            if rate < prev_rate:
                direction = -direction  # last step hurt: reverse
            prev_rate = rate
            threads = min(
                self.MAX_THREADS, max(self.MIN_THREADS, threads + direction)
            )

    def latency_histogram(self):
        """Observed GET latency histogram in ms — the signal the
        hill-climber consumed, exported for operators (the reference
        logs the same from its prefetch iterator)."""
        out = {f"<={b}ms": 0 for b in self.BUCKETS_MS}
        out["inf"] = 0
        for lat in self.latencies:
            ms = lat * 1000
            for b in self.BUCKETS_MS:
                if ms <= b:
                    out[f"<={b}ms"] += 1
                    break
            else:
                out["inf"] += 1
        return out


def _key_slices(spark: SparkSession, keys: list[str], n: int) -> DataFrame:
    """``keys`` dealt round-robin into ``n`` rows of one ``keys
    array<string>`` column, one row per reader partition. The frame is
    built from a ``pyarrow.Table``, which the JVM ingests by itself; a
    Python list would become a ``parallelize`` job that runs one Python
    worker task per default-parallelism slice just to decode the key
    lists. Its ``LocalTableScan`` splits into min(rows,
    ``defaultParallelism``) partitions, so for ``n <= defaultParallelism``
    each row already is its own partition and no shuffle is added; only a
    wider ``n`` is spread by a round-robin ``repartition(n)``."""
    import pyarrow as pa

    slices = pa.array([keys[i::n] for i in range(n)], pa.list_(pa.string()))
    kdf = spark.createDataFrame(pa.table({"keys": slices}))
    if n > spark.sparkContext.defaultParallelism:
        kdf = kdf.repartition(n)
    return kdf


def _manifest_slices(
    spark: SparkSession, stage: str, cfg: S3Config, num_tasks: int | None = None
) -> tuple[dict, DataFrame] | None:
    """(manifest, key-slice frame) of a committed stage, or None when it
    has no manifest. The manifest's keys go to ``num_tasks`` reader rows,
    by default one per object up to ``defaultParallelism``; each task
    gets its keys back with :func:`_task_keys`."""
    manifest = read_manifest(stage, cfg)
    if manifest is None:
        return None
    keys = [o["key"] for o in manifest["objects"]]
    n = num_tasks or min(len(keys), spark.sparkContext.defaultParallelism)
    return manifest, _key_slices(spark, keys, max(n, 1))


def _task_keys(batches) -> list[str]:
    """In a task over a :func:`_key_slices` frame: the keys of its rows."""
    return [k for b in batches for klist in b.column("keys").to_pylist() for k in klist or []]


def stage_read(
    spark: SparkSession,
    stage: str,
    cfg: S3Config,
    num_tasks: int | None = None,
    fault_injection=None,
) -> DataFrame:
    """Read a committed stage back as a DataFrame: the manifest's keys
    are sliced round-robin across ``num_tasks`` reader tasks; each task
    GETs its objects through an :class:`AdaptiveFetcher` and parses them
    into Arrow batches. Data flows store → executor; nothing routes
    through the driver.

    ``fault_injection`` (test-only seam, round-10): picklable
    ``callable(partition_id, task_attempt_number)`` invoked in-task after
    each object is parsed and yielded — raising there simulates a reader
    dying mid-stream. Reads are pure functions of the committed manifest,
    so Spark's task retry re-fetches the slice and the query result is
    byte-identical (the failed attempt's partial output is discarded by
    the scheduler)."""
    front = _manifest_slices(spark, stage, cfg, num_tasks)
    if front is None:
        raise FileNotFoundError(f"stage {stage} has no committed manifest")
    manifest, kdf = front
    schema = StructType.fromJson(json.loads(manifest["schema"]))

    def read_partition(batches):
        import pyarrow as pa
        import pyarrow.parquet as pq

        my_keys = _task_keys(batches)
        if not my_keys:
            return
        client = cfg.client()
        fetcher = AdaptiveFetcher(
            lambda key: client.get_object(Bucket=cfg.bucket, Key=key)["Body"].read()
        )
        for _key, payload in fetcher.fetch_all(my_keys):
            table = pq.read_table(pa.BufferReader(payload))
            yield from table.to_batches()
            if fault_injection is not None:
                from pyspark import TaskContext

                ctx = TaskContext.get()
                fault_injection(ctx.partitionId(), ctx.attemptNumber())

    return kdf.mapInArrow(read_partition, schema)


def verify_stage(spark: SparkSession, stage: str, cfg: S3Config) -> bool:
    """A4/A5 read-side validation against the manifest: every object is
    re-downloaded and re-hashed (distributed, one task slice per reader)
    and compared to the SHA-256 + row count pinned at write time. The
    SHA-256 covers every byte, so the row count is read from the parquet
    footer, not by decoding the object.
    False on any missing/corrupt/short object or a missing manifest —
    callers decide refetch/rebuild."""
    front = _manifest_slices(spark, stage, cfg)
    if front is None:
        return False
    manifest, kdf = front
    want = {o["key"]: (o["sha256"], o["rows"]) for o in manifest["objects"]}

    def check(batches):
        import pyarrow as pa
        import pyarrow.parquet as pq

        client = cfg.client()
        for key in _task_keys(batches):
            try:
                body = client.get_object(Bucket=cfg.bucket, Key=key)["Body"].read()
                sha = hashlib.sha256(body).hexdigest()
                rows = pq.ParquetFile(pa.BufferReader(body)).metadata.num_rows
                ok = True
            except Exception:
                sha, rows, ok = "", -1, False
            yield pa.RecordBatch.from_pydict(
                {"key": pa.array([key]), "sha256": pa.array([sha]),
                 "rows": pa.array([rows], pa.int64()),
                 "ok": pa.array([ok])}
            )

    got = kdf.mapInArrow(
        check, "key string, sha256 string, rows long, ok boolean"
    ).collect()
    seen = {}
    for r in got:
        if not r["ok"]:
            return False
        seen[r["key"]] = (r["sha256"], r["rows"])
    return seen == want


class S3ExchangeManager:
    """API-parity facade over the S3 protocol functions, mirroring
    `exchange.ExchangeManager`'s surface (stage_write / stage_read /
    verify / remove_stage / remove_all) so callers switch stores by
    swapping the manager, not their code — the reference's promise that
    ``file://`` and object-store roots run the same pipeline
    (`README.md:38-40`). Stage paths are prefix-sharded per stage name
    (``exchange.shard_of``, process-stable) under ``{app_id}/{stage}``."""

    def __init__(self, spark: SparkSession, cfg: S3Config, app_id: str = "app"):
        self.spark = spark
        self.cfg = cfg
        self.app_id = app_id

    def stage_key(self, stage: str) -> str:
        return self._app_prefix(shard_of(stage, self.cfg.prefix_shards)) + stage

    def _app_prefix(self, shard: int) -> str:
        return f"x{shard:02d}/{self.app_id}/"

    def stage_write(
        self, df: DataFrame, stage: str, sort_within: list[str] | None = None
    ) -> dict:
        return stage_write(
            df, self.stage_key(stage), self.cfg, sort_within=sort_within
        )

    def stage_read(self, stage: str, **kw) -> DataFrame:
        return stage_read(self.spark, self.stage_key(stage), self.cfg, **kw)

    def verify(self, stage: str) -> bool:
        return verify_stage(self.spark, self.stage_key(stage), self.cfg)

    def remove_stage(self, stage: str) -> int:
        return remove_stage(self.stage_key(stage), self.cfg)

    def remove_all(self) -> int:
        """Tear down every stage of this app across all prefix shards —
        the applicationRemoved sweep. One prefix sweep per shard prefix
        (`x{NN}/{app_id}/`). Returns keys deleted; raises if the store
        reports a key it did not delete."""
        client = self.cfg.client()
        return sum(
            _sweep(client, self.cfg.bucket, self._app_prefix(shard))
            for shard in range(self.cfg.prefix_shards)
        )


def _delete_objects(client, bucket: str, keys: list[str]) -> int:
    """One bulk ``DeleteObjects`` request for up to 1000 keys. Quiet mode
    answers with the failures only: a key listed under ``Errors`` is
    still in the store, so raise instead of counting it as deleted.
    Returns the number of keys deleted."""
    resp = client.delete_objects(
        Bucket=bucket,
        Delete={"Objects": [{"Key": k} for k in keys], "Quiet": True},
    )
    errors = resp.get("Errors") or []
    if errors:
        first = errors[0]
        raise RuntimeError(
            f"DeleteObjects on {bucket} failed for {len(errors)} of "
            f"{len(keys)} keys; first: {first.get('Key')} "
            f"({first.get('Code')}: {first.get('Message')})"
        )
    return len(keys)


def _sweep(client, bucket: str, prefix: str) -> int:
    """Delete every key under ``prefix``: a paginated LIST, then bulk
    ``DeleteObjects`` of 1000 keys per request, issued from a pool of 4
    threads sharing ``client`` (boto3 clients are thread-safe). Returns
    the number of keys deleted; raises if the store reports a key it did
    not delete."""
    keys = [
        o["Key"]
        for page in client.get_paginator("list_objects_v2").paginate(Bucket=bucket, Prefix=prefix)
        for o in page.get("Contents", [])
    ]
    if not keys:
        return 0
    batches = [keys[i: i + 1000] for i in range(0, len(keys), 1000)]
    with ThreadPoolExecutor(max_workers=4) as pool:
        return sum(pool.map(lambda batch: _delete_objects(client, bucket, batch), batches))


def remove_stage(stage: str, cfg: S3Config) -> int:
    """Tear a stage down with one prefix sweep of ``{stage}/`` —
    removeShuffle parity (`S3ShuffleDispatcher.scala:104-118`). No
    manifest read: the manifest and every data key start with
    ``{stage}/`` and S3 LIST is strongly consistent, so the LIST returns
    every key the manifest names, and the orphans of crashed writers
    too. Returns the number of keys deleted; raises if the store reports
    a key it did not delete."""
    return _sweep(cfg.client(), cfg.bucket, f"{stage}/")


def sweep_incomplete_uploads(stage: str, cfg: S3Config) -> int:
    """Abort every in-progress multipart upload under the stage prefix —
    the crash-mid-multipart janitor. A writer that died between
    CreateMultipartUpload and Complete leaves invisible billed part
    fragments (no object exists until Complete, so readers are never
    affected); production S3 handles this with an
    AbortIncompleteMultipartUpload lifecycle rule, and this sweep is the
    explicit equivalent for stores without lifecycle support. Returns the
    number of uploads aborted. Mirrors the reference's cleanup duty on
    failed writes (S3ShuffleMapOutputWriter.scala:156-163 abort path)."""
    client = cfg.client()
    aborted = 0
    kwargs = {"Bucket": cfg.bucket, "Prefix": f"{stage}/"}
    while True:
        resp = client.list_multipart_uploads(**kwargs)
        for up in resp.get("Uploads", []):
            client.abort_multipart_upload(
                Bucket=cfg.bucket, Key=up["Key"], UploadId=up["UploadId"]
            )
            aborted += 1
        if not resp.get("IsTruncated"):
            return aborted
        kwargs["KeyMarker"] = resp.get("NextKeyMarker")
        kwargs["UploadIdMarker"] = resp.get("NextUploadIdMarker")
