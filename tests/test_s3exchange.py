"""Object-store exchange protocol against a REAL S3 API (moto_server).

The sandbox ships no hadoop-aws jar, so the JVM cannot speak s3a://
here; these tests instead drive the engine-managed S3 data plane
(`operators/s3exchange.py`) — executor-side boto3, exactly the
reference's architecture — against moto's faithful S3 REST
implementation: manifest-pointer atomic publish (no rename exists),
prefix sharding, bulk DeleteObjects cleanup, multipart upload,
integrity verification, and the A10 adaptive-prefetch hill-climber.
"""

from __future__ import annotations

import socket
import subprocess
import time

import pytest
from pyspark.sql import functions as F

from spark_s3_shuffle_spark.operators import s3exchange as S3X

_PORT = 5055


@pytest.fixture(scope="module")
def s3cfg():
    proc = subprocess.Popen(
        ["moto_server", "-H", "127.0.0.1", "-p", str(_PORT)],
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
    )
    try:
        for _ in range(100):
            try:
                with socket.create_connection(("127.0.0.1", _PORT), 0.2):
                    break
            except OSError:
                time.sleep(0.1)
        else:
            raise RuntimeError("moto_server did not come up")
        cfg = S3X.S3Config(
            endpoint_url=f"http://127.0.0.1:{_PORT}", bucket="graft-exchange"
        )
        cfg.client().create_bucket(Bucket=cfg.bucket)
        yield cfg
    finally:
        proc.terminate()
        proc.wait(timeout=10)


def _frame(spark, n=20_000, parts=8):
    return (
        spark.range(n)
        .repartition(parts)
        .select(
            F.col("id").alias("k"),
            (F.col("id") % 97).alias("grp"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        )
    )


def test_stage_roundtrip_and_layout(spark, s3cfg):
    """Write → commit → read back: content identical, data objects land
    under per-partition prefix shards, and the manifest is the single
    source of truth (totals match, schema round-trips)."""
    df = _frame(spark)
    man = S3X.stage_write(df, "stages/rt", s3cfg)
    assert man["total_rows"] == 20_000
    assert len(man["objects"]) == 8
    # prefix sharding: keys spread across p00..p(P-1) prefixes
    prefixes = {o["key"].split("/")[2] for o in man["objects"]}
    assert len(prefixes) == 8 and all(p.startswith("p") for p in prefixes)

    back = S3X.stage_read(spark, "stages/rt", s3cfg)
    assert back.schema == df.schema
    assert back.count() == 20_000
    assert df.exceptAll(back).count() == 0 and back.exceptAll(df).count() == 0
    S3X.remove_stage("stages/rt", s3cfg)


def test_manifest_pointer_is_the_atomic_commit(spark, s3cfg):
    """Object stores have no rename: a stage EXISTS only once its
    manifest object is PUT. Data objects without a manifest (a crashed
    writer) are invisible to readers and swept by remove_stage."""
    df = _frame(spark, n=2_000, parts=4)
    man = S3X.stage_write(df, "stages/atomic", s3cfg)
    # simulate the crash window: data present, manifest gone
    s3cfg.client().delete_object(
        Bucket=s3cfg.bucket, Key="stages/atomic/_manifest.json"
    )
    assert S3X.read_manifest("stages/atomic", s3cfg) is None
    with pytest.raises(FileNotFoundError):
        S3X.stage_read(spark, "stages/atomic", s3cfg)
    # orphan sweep still removes the garbage data objects via LIST
    deleted = S3X.remove_stage("stages/atomic", s3cfg)
    assert deleted == len(man["objects"])
    client = s3cfg.client()
    listed = client.list_objects_v2(
        Bucket=s3cfg.bucket, Prefix="stages/atomic/"
    )
    assert listed["KeyCount"] == 0


def test_verify_stage_catches_corruption_and_loss(spark, s3cfg):
    df = _frame(spark, n=5_000, parts=4)
    man = S3X.stage_write(df, "stages/vfy", s3cfg)
    assert S3X.verify_stage(spark, "stages/vfy", s3cfg)
    victim = man["objects"][0]["key"]
    client = s3cfg.client()
    # corrupt: overwrite one object with junk bytes
    client.put_object(Bucket=s3cfg.bucket, Key=victim, Body=b"corrupted")
    assert not S3X.verify_stage(spark, "stages/vfy", s3cfg)
    # loss: delete the object entirely
    client.delete_object(Bucket=s3cfg.bucket, Key=victim)
    assert not S3X.verify_stage(spark, "stages/vfy", s3cfg)
    # missing manifest reports unverifiable, not crash
    S3X.remove_stage("stages/vfy", s3cfg)
    assert not S3X.verify_stage(spark, "stages/vfy", s3cfg)


def test_multipart_upload_over_threshold(spark, s3cfg):
    """A partition above the multipart threshold streams through S3
    multipart upload (TransferConfig path) and round-trips byte-exact —
    the large-object path a 100 TB shuffle spill exercises constantly."""
    # ~12 MiB of incompressible payload in ONE partition
    df = (
        spark.range(60_000)
        .coalesce(1)
        .select(
            F.col("id").alias("k"),
            F.concat(
                F.sha2(F.col("id").cast("string"), 512),
                F.sha2((F.col("id") + 1).cast("string"), 512),
            ).alias("payload"),
        )
    )
    man = S3X.stage_write(df, "stages/big", s3cfg)
    assert man["total_bytes"] >= s3cfg.multipart_threshold, man["total_bytes"]
    back = S3X.stage_read(spark, "stages/big", s3cfg)
    assert back.count() == 60_000
    assert df.exceptAll(back).count() == 0
    S3X.remove_stage("stages/big", s3cfg)


def test_adaptive_fetcher_climbs_and_beats_serial():
    """A10 parity, measured: with a 20 ms per-GET latency floor the
    hill-climber raises its thread count above 1 and fetches the key
    set materially faster than a serial loop; the latency histogram it
    consumed is exported."""
    keys = [f"k{i}" for i in range(48)]

    def slow_fetch(key):
        time.sleep(0.02)
        return b"x" * 100

    t0 = time.monotonic()
    for k in keys:
        slow_fetch(k)
    serial = time.monotonic() - t0

    fetcher = S3X.AdaptiveFetcher(slow_fetch)
    t0 = time.monotonic()
    got = list(fetcher.fetch_all(keys))
    adaptive = time.monotonic() - t0

    assert len(got) == len(keys)
    assert max(fetcher.thread_trace) > 1, fetcher.thread_trace
    assert adaptive < serial * 0.7, (adaptive, serial, fetcher.thread_trace)
    hist = fetcher.latency_histogram()
    assert sum(hist.values()) == len(keys)


def test_stage_read_adaptive_many_objects_per_task(spark, s3cfg):
    """End-to-end through Spark reader tasks: 32 objects per reader task,
    so each task's fetcher runs several probe windows (and changes its
    thread count between them) — the content must come back exactly.
    The fetcher's speed-up over a serial loop is
    test_adaptive_fetcher_climbs_and_beats_serial."""
    df = _frame(spark, n=8_000, parts=64)
    S3X.stage_write(df, "stages/ab", s3cfg)
    back = S3X.stage_read(spark, "stages/ab", s3cfg, num_tasks=2)
    assert back.count() == 8_000
    assert back.exceptAll(df).count() == 0
    S3X.remove_stage("stages/ab", s3cfg)


def test_missing_bucket_raises_instead_of_no_manifest(spark, s3cfg):
    """Only a missing manifest KEY means "no stage". A wrong bucket must
    surface as the store's error, not as FileNotFoundError("no committed
    manifest"), and remove_stage must not silently skip the manifest."""
    import dataclasses

    from botocore.exceptions import ClientError

    assert S3X.read_manifest("stages/never-written", s3cfg) is None
    wrong = dataclasses.replace(s3cfg, bucket="graft-no-such-bucket")
    with pytest.raises(ClientError) as err:
        S3X.stage_read(spark, "stages/any", wrong)
    assert err.value.response["Error"]["Code"] == "NoSuchBucket"
    with pytest.raises(ClientError):
        S3X.remove_stage("stages/any", wrong)


def test_bulk_delete_pages_thousand_key_batches(s3cfg):
    """Cleanup's DeleteObjects batching: >1000 keys split into multiple
    bulk requests, all removed, count reported exactly."""
    client = s3cfg.client()
    for i in range(1_050):
        client.put_object(
            Bucket=s3cfg.bucket, Key=f"stages/bulk/p00/o{i:05d}", Body=b"z"
        )
    deleted = S3X.remove_stage("stages/bulk", s3cfg)
    assert deleted == 1_050
    listed = client.list_objects_v2(Bucket=s3cfg.bucket, Prefix="stages/bulk/")
    assert listed["KeyCount"] == 0


def test_stage_write_runs_one_task_per_core(spark, s3cfg):
    """A frame with twice as many partitions as cores is written by at
    most one task per core (8 partitions on local[4]: <= 4 tasks), and
    still as one object per input partition on its own prefix shard."""
    cores = spark.sparkContext.defaultParallelism
    parts = 2 * cores
    df = spark.range(0, 8_000, 1, numPartitions=parts).select(
        F.col("id").alias("k"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
    )
    sc = spark.sparkContext
    sc.setJobGroup("s3x-write-per-core", "s3x-write-per-core")
    try:
        man = S3X.stage_write(df, "stages/percore", s3cfg)
    finally:
        sc._jsc.clearJobGroup()
    tracker = sc.statusTracker()
    tasks = [
        tracker.getStageInfo(sid).numTasks
        for jid in tracker.getJobIdsForGroup("s3x-write-per-core")
        for sid in tracker.getJobInfo(jid).stageIds
    ]
    assert tasks and max(tasks) <= cores, (tasks, cores)
    assert len(man["objects"]) == parts and man["total_rows"] == 8_000
    pids = sorted(int(o["key"].rsplit("part-", 1)[1][:5]) for o in man["objects"])
    assert pids == list(range(parts))
    prefixes = {o["key"].split("/")[2] for o in man["objects"]}
    assert len(prefixes) == min(parts, s3cfg.prefix_shards)
    S3X.remove_stage("stages/percore", s3cfg)


def test_write_objects_match_source_partitions_across_batch_seams(spark, s3cfg):
    """With 7-row Arrow batches and uneven partitions (one empty), the
    batches a write task receives straddle input partitions. Every object
    must still hold exactly its source partition's rows, in sort_within
    order, without the partition-id tag column; the empty partition
    writes no object."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    sizes = [0, 3, 29, 7, 41, 1, 16, 22]
    keep = F.element_at(
        F.array(*map(F.lit, sizes)), (F.col("id") / 100).cast("int") + 1
    )
    df = (
        spark.range(0, 800, 1, numPartitions=8)
        .where(F.col("id") % 100 < keep)
        .select(
            F.col("id").alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        )
    )
    want = {}
    for r in df.select(F.spark_partition_id().alias("pid"), "*").collect():
        want.setdefault(r["pid"], []).append((r["k"], r["payload"]))
    assert sorted(len(v) for v in want.values()) == sorted(n for n in sizes if n)
    want = {pid: sorted(rows, key=lambda kp: kp[1]) for pid, rows in want.items()}

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prior = spark.conf.get(conf)
    spark.conf.set(conf, "7")
    try:
        man = S3X.stage_write(df, "stages/seam", s3cfg, sort_within=["payload"])
    finally:
        spark.conf.set(conf, prior)

    client = s3cfg.client()
    got = {}
    for o in man["objects"]:
        body = client.get_object(Bucket=s3cfg.bucket, Key=o["key"])["Body"].read()
        table = pq.read_table(pa.BufferReader(body))
        assert table.column_names == ["k", "payload"]
        assert o["rows"] == table.num_rows
        pid = int(o["key"].rsplit("part-", 1)[1][:5])
        got[pid] = list(zip(table.column("k").to_pylist(),
                            table.column("payload").to_pylist()))
    assert got == want
    S3X.remove_stage("stages/seam", s3cfg)


def test_key_slices_are_ingested_without_python_tasks(spark):
    """The reader/verifier key-slice frame comes from an Arrow table the
    JVM ingests itself: no PythonRDD anywhere in its lineage, and the
    slices still deal every key out exactly once. Up to
    defaultParallelism slices, the scan already puts each row in its own
    partition, so the plan has no Exchange; a wider slice count is spread
    over exactly that many partitions by a repartition."""
    keys = [f"k{i:02d}" for i in range(16)]
    dp = spark.sparkContext.defaultParallelism
    for n in sorted({1, min(4, dp), dp, dp + 1}):
        kdf = S3X._key_slices(spark, keys, n)
        lineage = kdf._jdf.queryExecution().toRdd().toDebugString()
        assert "PythonRDD" not in lineage, lineage
        plan = kdf._jdf.queryExecution().executedPlan().toString()
        if n <= dp:
            assert "Exchange" not in plan, plan
            assert kdf.rdd.glom().map(len).collect() == [1] * n
        else:
            assert "Exchange" in plan, plan
            assert kdf.rdd.getNumPartitions() == n
        slices = sorted(r["keys"] for r in kdf.collect())
        assert slices == sorted(keys[i::n] for i in range(n))


def test_remove_raises_on_delete_objects_errors(spark, s3cfg, monkeypatch):
    """DeleteObjects answers 200 even when it could not delete some keys
    and lists them under ``Errors``. remove_stage and remove_all must
    raise instead of counting those keys as deleted."""
    real_client = S3X.S3Config.client

    class RefusesFirstKey:
        def __init__(self, inner):
            self._inner = inner

        def __getattr__(self, name):
            return getattr(self._inner, name)

        def delete_objects(self, Bucket, Delete):
            first, *rest = Delete["Objects"]
            if rest:
                self._inner.delete_objects(
                    Bucket=Bucket, Delete={"Objects": rest, "Quiet": True}
                )
            return {"Errors": [{"Key": first["Key"], "Code": "AccessDenied",
                                "Message": "Access Denied"}]}

    client = s3cfg.client()
    mgr = S3X.S3ExchangeManager(spark, s3cfg, app_id="delerr")
    for i in range(3):
        client.put_object(Bucket=s3cfg.bucket, Key=f"stages/delerr/p00/o{i}", Body=b"z")
        client.put_object(
            Bucket=s3cfg.bucket, Key=f"{mgr.stage_key('s')}/p00/o{i}", Body=b"z"
        )

    monkeypatch.setattr(S3X.S3Config, "client", lambda cfg: RefusesFirstKey(real_client(cfg)))
    with pytest.raises(RuntimeError, match="AccessDenied"):
        S3X.remove_stage("stages/delerr", s3cfg)
    with pytest.raises(RuntimeError, match="AccessDenied"):
        mgr.remove_all()
    monkeypatch.undo()

    # the refused keys are really still there, and a working client clears them
    assert S3X.remove_stage("stages/delerr", s3cfg) == 1
    assert mgr.remove_all() == 1


# ---------------------------------------------------------------------------
# Backend parametrization: the SAME protocol body against the filesystem
# exchange and the S3 exchange — the reference's "file:// and object-store
# roots run the same pipeline" claim, executed on both stores.
# ---------------------------------------------------------------------------


@pytest.fixture()
def fs_mgr(spark, tmp_path):
    from spark_s3_shuffle_spark.operators.exchange import ExchangeManager

    return ExchangeManager(spark, f"file://{tmp_path}/scratch", prefixes=4)


@pytest.fixture()
def s3_mgr(spark, s3cfg):
    from spark_s3_shuffle_spark.operators.s3exchange import S3ExchangeManager

    return S3ExchangeManager(spark, s3cfg, app_id="paramapp")


@pytest.mark.parametrize("backend", ["fs", "s3"])
def test_exchange_protocol_on_both_stores(spark, fs_mgr, s3_mgr, backend):
    """Write -> read-back-equal -> verify-ok -> remove -> gone, same body
    on the Hadoop-FS store and the S3-API store."""
    from spark_s3_shuffle_spark.operators.exchange import (
        verify_stage_checksum,
        write_stage_checksum,
    )

    df = spark.range(6_000).select(
        F.col("id").alias("k"),
        (F.col("id") % 11).alias("grp"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
    )
    if backend == "fs":
        fs_mgr.stage_write(df, "param", keys=["grp"], num_partitions=4)
        back = fs_mgr.stage_read("param")
        write_stage_checksum(fs_mgr, "param")
        verified = verify_stage_checksum(fs_mgr, "param")
    else:
        s3_mgr.stage_write(df, "param")
        back = s3_mgr.stage_read("param")
        verified = s3_mgr.verify("param")

    assert back.count() == 6_000
    assert df.exceptAll(back).count() == 0 and back.exceptAll(df).count() == 0
    assert verified

    if backend == "fs":
        assert fs_mgr.remove_stage("param")
        with pytest.raises(Exception):
            fs_mgr.stage_read("param").count()
    else:
        assert s3_mgr.remove_stage("param") > 0
        with pytest.raises(FileNotFoundError):
            s3_mgr.stage_read("param")


def test_empty_stage_roundtrip(spark, s3cfg):
    """A zero-row frame commits a manifest with zero data objects and
    reads back empty WITH its schema intact — the boundary every
    incremental pipeline hits on a quiet day."""
    df = spark.range(0).select(
        F.col("id").alias("k"), F.lit("x").alias("payload")
    )
    man = S3X.stage_write(df, "stages/empty", s3cfg)
    assert man["total_rows"] == 0 and man["objects"] == []
    back = S3X.stage_read(spark, "stages/empty", s3cfg)
    assert back.schema == df.schema
    assert back.count() == 0
    assert S3X.verify_stage(spark, "stages/empty", s3cfg)
    S3X.remove_stage("stages/empty", s3cfg)


# ---------------------------------------------------------------------------
# Round-7 failure injection: the commit discipline under crashes + races
# (VERDICT r6 #4 — mirrors S3ShuffleMapOutputWriter.scala:91-118 and
# S3ShuffleManager.scala:156-186)
# ---------------------------------------------------------------------------


def test_racing_writers_yield_one_consistent_stage(spark, s3cfg):
    """Two writers racing one stage name: per-attempt key prefixes keep
    their object sets disjoint, and the manifest PUT that lands LAST
    wins with a complete, self-consistent object list — never a torn mix.
    Simulated worst-case interleaving: A uploads data, B publishes fully,
    then A's manifest PUT lands last."""
    df_a = _frame(spark, n=5_000, parts=4).withColumn("writer", F.lit("A"))
    df_b = _frame(spark, n=3_000, parts=4).withColumn("writer", F.lit("B"))

    man_a = S3X.stage_write(df_a, "stages/race", s3cfg)  # A commits first...
    man_b = S3X.stage_write(df_b, "stages/race", s3cfg)  # ...B lands second
    # attempt tokens keep the data objects disjoint
    keys_a = {o["key"] for o in man_a["objects"]}
    keys_b = {o["key"] for o in man_b["objects"]}
    assert not (keys_a & keys_b)

    # stage now reads as EXACTLY B (the last manifest)
    back = S3X.stage_read(spark, "stages/race", s3cfg)
    assert back.count() == 3_000
    assert back.select("writer").distinct().collect()[0][0] == "B"
    assert S3X.verify_stage(spark, "stages/race", s3cfg)

    # now A's manifest PUT lands last (delayed writer): stage flips to
    # EXACTLY A — still consistent, because A's objects were never
    # overwritten by B
    s3cfg.client().put_object(
        Bucket=s3cfg.bucket,
        Key="stages/race/_manifest.json",
        Body=__import__("json").dumps(man_a, sort_keys=True).encode(),
    )
    back = S3X.stage_read(spark, "stages/race", s3cfg)
    assert back.count() == 5_000
    assert back.select("writer").distinct().collect()[0][0] == "A"
    assert S3X.verify_stage(spark, "stages/race", s3cfg)

    # teardown sweeps BOTH attempts' objects (loser's orphans included)
    deleted = S3X.remove_stage("stages/race", s3cfg)
    assert deleted >= len(keys_a) + len(keys_b)
    listed = s3cfg.client().list_objects_v2(
        Bucket=s3cfg.bucket, Prefix="stages/race/"
    )
    assert listed.get("KeyCount", 0) == 0


def test_crash_mid_multipart_is_invisible_and_sweepable(spark, s3cfg):
    """A writer that dies between CreateMultipartUpload and Complete
    leaves NO visible object (readers and verify are unaffected) — only
    an in-progress upload that sweep_incomplete_uploads aborts."""
    df = _frame(spark, n=2_000, parts=2)
    S3X.stage_write(df, "stages/mpcrash", s3cfg)

    client = s3cfg.client()
    up = client.create_multipart_upload(
        Bucket=s3cfg.bucket, Key="stages/mpcrash/p00/aDEAD/part-99999.parquet"
    )
    client.upload_part(
        Bucket=s3cfg.bucket,
        Key="stages/mpcrash/p00/aDEAD/part-99999.parquet",
        UploadId=up["UploadId"],
        PartNumber=1,
        Body=b"x" * (5 * 1024 * 1024),
    )  # ...and the writer dies here: no Complete

    # reader + integrity: unaffected (no object was ever completed)
    back = S3X.stage_read(spark, "stages/mpcrash", s3cfg)
    assert back.count() == 2_000
    assert S3X.verify_stage(spark, "stages/mpcrash", s3cfg)
    listed = client.list_objects_v2(
        Bucket=s3cfg.bucket, Prefix="stages/mpcrash/p00/aDEAD/"
    )
    assert listed.get("KeyCount", 0) == 0

    # janitor aborts exactly the orphaned upload
    assert S3X.sweep_incomplete_uploads("stages/mpcrash", s3cfg) == 1
    assert not client.list_multipart_uploads(
        Bucket=s3cfg.bucket, Prefix="stages/mpcrash/"
    ).get("Uploads")
    S3X.remove_stage("stages/mpcrash", s3cfg)


def test_republish_does_not_tear_pinned_reader_keys(spark, s3cfg):
    """Version isolation for re-published stages: a reader that pinned
    the OLD manifest keeps reading the OLD attempt's objects even after
    a new write commits, because attempts never share keys. (The
    filesystem twin is vacuum_versions' keep_last>=2 contract.)"""
    df1 = _frame(spark, n=4_000, parts=4)
    man1 = S3X.stage_write(df1, "stages/repub", s3cfg)
    pinned = S3X.stage_read(spark, "stages/repub", s3cfg)  # plans against man1

    df2 = _frame(spark, n=1_000, parts=4)
    S3X.stage_write(df2, "stages/repub", s3cfg)  # re-publish

    # the pinned reader still resolves man1's keys — all still present
    assert pinned.count() == 4_000
    client = s3cfg.client()
    for o in man1["objects"]:
        client.head_object(Bucket=s3cfg.bucket, Key=o["key"])

    # a fresh reader follows the new manifest
    assert S3X.stage_read(spark, "stages/repub", s3cfg).count() == 1_000
    S3X.remove_stage("stages/repub", s3cfg)


_REPLAY_SCRIPT = r"""
import json
import os
import sys

sys.path.insert(0, sys.argv[3])

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from spark_s3_shuffle_spark.operators import s3exchange as S3X

endpoint, bucket, repo = sys.argv[1], sys.argv[2], sys.argv[3]
cfg = S3X.S3Config(endpoint_url=endpoint, bucket=bucket)


def die_once_write(pid, attempt):
    # marker proves the fault fired (survives the task death); then die at
    # the worst point: bytes uploaded, manifest row not yet emitted
    cfg.client().put_object(
        Bucket=cfg.bucket, Key=f"markers/write-p{pid}-a{attempt}", Body=b""
    )
    if pid == 2 and attempt == 0:
        raise RuntimeError("injected executor death after upload, before commit")


def die_once_read(pid, attempt):
    cfg.client().put_object(
        Bucket=cfg.bucket, Key=f"markers/read-p{pid}-a{attempt}", Body=b""
    )
    if pid == 1 and attempt == 0:
        raise RuntimeError("injected reader death mid-stream")


spark = (
    SparkSession.builder.appName("replay-proof")
    .master("local[4, 2]")  # 4 threads, task maxFailures=2 -> retries happen
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "8")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

df = spark.range(5000).repartition(6).select(
    F.col("id").alias("k"),
    (F.col("id") % 89).alias("grp"),
    F.sha2(F.col("id").cast("string"), 256).alias("payload"),
)
man_faulty = S3X.stage_write(df, "stages/faulty", cfg, fault_injection=die_once_write)
man_clean = S3X.stage_write(df, "stages/clean", cfg)

back_faulty = sorted(
    map(tuple, S3X.stage_read(spark, "stages/faulty", cfg, num_tasks=4,
                              fault_injection=die_once_read).collect())
)
back_clean = sorted(map(tuple, S3X.stage_read(spark, "stages/clean", cfg).collect()))
orig = sorted(map(tuple, df.collect()))

client = cfg.client()
markers = [
    o["Key"]
    for p in client.get_paginator("list_objects_v2").paginate(
        Bucket=cfg.bucket, Prefix="markers/"
    )
    for o in p.get("Contents", [])
]
stage_keys = [
    o["Key"]
    for p in client.get_paginator("list_objects_v2").paginate(
        Bucket=cfg.bucket, Prefix="stages/faulty/"
    )
    for o in p.get("Contents", [])
]

print("RESULT " + json.dumps({
    "objects_faulty": len(man_faulty["objects"]),
    "total_rows_faulty": man_faulty["total_rows"],
    "faulty_equals_orig": back_faulty == orig,
    "faulty_equals_clean_readback": back_faulty == back_clean,
    "verify_faulty": S3X.verify_stage(spark, "stages/faulty", cfg),
    "markers": sorted(markers),
    "n_stage_keys": len(stage_keys),
}))
"""


def test_task_death_mid_write_replays_idempotently(s3cfg, tmp_path):
    """The reference's reason to exist: shuffle data survives executor
    loss (`S3ShuffleWriter.scala:10-18` fallback discipline). Kill a task
    at the WORST write point (object uploaded, manifest row not emitted)
    and a reader task mid-stream, under a scheduler that retries
    (local[4,2] — its own JVM, hence the subprocess): the retry must
    re-upload the same key idempotently (last-writer-wins full-object
    PUT), the manifest must record exactly one complete object set, no
    orphan objects may leak into the stage prefix, the read-back must be
    byte-identical to a never-failed write, and verify_stage's pinned
    SHA-256s must hold."""
    import json as _json
    import os
    import subprocess
    import sys

    s3cfg.client().create_bucket(Bucket="graft-replay")
    script = tmp_path / "replay_proof.py"
    script.write_text(_REPLAY_SCRIPT)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, str(script), s3cfg.endpoint_url, "graft-replay", repo],
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("RESULT ")][-1]
    res = _json.loads(line[len("RESULT "):])
    # the injected faults actually fired AND retried: attempt-0 and
    # attempt-1 markers exist for the doomed write partition / read slice
    assert "markers/write-p2-a0" in res["markers"], res["markers"]
    assert "markers/write-p2-a1" in res["markers"], res["markers"]
    assert "markers/read-p1-a0" in res["markers"], res["markers"]
    assert "markers/read-p1-a1" in res["markers"], res["markers"]
    # retry idempotence: one object per partition, zero orphans
    # (manifest + 6 parts = 7 keys), full row count
    assert res["objects_faulty"] == 6
    assert res["total_rows_faulty"] == 5000
    assert res["n_stage_keys"] == 7
    # unchanged query hash: canonical read-back == original == clean stage
    assert res["faulty_equals_orig"] and res["faulty_equals_clean_readback"]
    assert res["verify_faulty"] is True
