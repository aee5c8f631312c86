"""Materialized-exchange tests (SURVEY §4.3): write/read barrier semantics,
prefix-sharded layout, stats, cleanup — the engine-feature analogue of the
reference's S3 shuffle lifecycle (S3ShuffleDispatcher.scala:104-118,142-143)."""

import os
import subprocess
import sys
import tempfile

import pytest
from pyspark.sql import functions as F

from spark_s3_shuffle_spark.operators.exchange import ExchangeManager

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture()
def mgr(spark):
    with tempfile.TemporaryDirectory(prefix="exchange-scratch-") as tmp:
        yield ExchangeManager(spark, f"file://{tmp}", prefixes=4)


def test_write_read_roundtrip(spark, mgr):
    df = spark.range(1000).withColumn("k", F.col("id") % 13)
    stats = mgr.stage_write(df, "stage1", keys=["k"], num_partitions=6)
    assert stats.bytes_written > 0
    assert stats.num_files >= 1
    back = mgr.stage_read("stage1")
    assert back.count() == 1000
    assert back.agg(F.sum("id")).first()[0] == 999 * 1000 // 2
    # barrier property: the read is co-partitioned on k with 6 files max
    assert back.select("k").distinct().count() == 13


def test_prefix_sharding_layout(spark, mgr):
    df = spark.range(10)
    mgr.stage_write(df, "stageA")
    path = mgr.stage_path("stageA")
    # layout: {root}/p{shard}/{appId}/{stage}
    parts = path.split(os.sep)
    assert parts[-1] == "stageA"
    assert parts[-2] == mgr.app_id
    assert parts[-3].startswith("p") and int(parts[-3][1:]) < 4


def test_sorted_within_partitions(spark, mgr):
    df = spark.range(500).withColumn("k", F.col("id") % 5)
    mgr.stage_write(df, "sorted", keys=["k"], num_partitions=3, sort_within=["id"])
    back = mgr.stage_read("sorted")
    assert back.count() == 500


def test_cleanup(spark, mgr):
    df = spark.range(100)
    mgr.stage_write(df, "gone", num_partitions=2)
    assert mgr.remove_stage("gone")
    with pytest.raises(Exception):
        mgr.stage_read("gone").count()
    mgr.stage_write(df, "a", num_partitions=1)
    mgr.stage_write(df, "b", num_partitions=1)
    assert mgr.remove_all() >= 1
    assert mgr.stats == {}


def test_stage_path_deterministic_across_processes(spark, mgr):
    """The shard prefix must not depend on the driver process: a restarted
    (or re-sized) cluster re-reads a materialized stage by recomputing its
    path (reference's stable {root}/{mapId % prefixes}/{appId}/{shuffleId}
    layout, S3ShuffleDispatcher.scala:142-143). Python's builtin hash() is
    salted per process, so this test runs the path computation in fresh
    interpreters with different PYTHONHASHSEEDs and asserts agreement."""
    script = (
        "import sys; sys.path.insert(0, sys.argv[1])\n"
        "from spark_s3_shuffle_spark.operators.exchange import ExchangeManager\n"
        "m = ExchangeManager(spark=None, root=sys.argv[2], prefixes=4, app_id=sys.argv[3])\n"
        "print(m.stage_path(sys.argv[4]))\n"
    )
    expected = mgr.stage_path("restart-stage")
    for seed in ("0", "12345"):
        env = dict(os.environ, PYTHONHASHSEED=seed)
        got = subprocess.run(
            [sys.executable, "-c", script, REPO_ROOT, mgr.root, mgr.app_id, "restart-stage"],
            env=env, capture_output=True, text=True, check=True,
        ).stdout.strip()
        assert got == expected, f"shard path differs under PYTHONHASHSEED={seed}"


def test_cross_process_write_then_read(spark):
    """Full elasticity round trip: a *separate driver process* materializes a
    stage; this session (knowing only root/app_id/stage name) reads it back.
    This is the plugin's core claim — the producing executors/driver need
    not be alive for the consumer to fetch the exchange."""
    tmp = tempfile.mkdtemp(prefix="exchange-xproc-")
    script = os.path.join(tmp, "writer.py")
    with open(script, "w") as f:
        f.write(
            "import sys\n"
            f"sys.path.insert(0, {REPO_ROOT!r})\n"
            "from pyspark.sql import SparkSession, functions as F\n"
            "from spark_s3_shuffle_spark.operators.exchange import ExchangeManager\n"
            "spark = (SparkSession.builder.master('local[2]').appName('xproc-writer')\n"
            "         .config('spark.ui.enabled', 'false')\n"
            "         .config('spark.sql.shuffle.partitions', '4').getOrCreate())\n"
            f"mgr = ExchangeManager(spark, 'file://{tmp}/scratch', prefixes=4, app_id='sharedapp')\n"
            "df = spark.range(100).withColumn('k', F.col('id') % 7)\n"
            "mgr.stage_write(df, 'xproc', keys=['k'], num_partitions=2)\n"
            "spark.stop()\n"
        )
    env = dict(os.environ, PYTHONHASHSEED="271828")
    # fresh JVM + fresh interpreter; must not inherit this session's gateway
    env.pop("PYSPARK_GATEWAY_PORT", None)
    env.pop("PYSPARK_GATEWAY_SECRET", None)
    res = subprocess.run([sys.executable, script], env=env, capture_output=True, text=True, timeout=300)
    assert res.returncode == 0, res.stderr[-2000:]
    reader = ExchangeManager(spark, f"file://{tmp}/scratch", prefixes=4, app_id="sharedapp")
    back = reader.stage_read("xproc")
    assert back.count() == 100
    assert back.agg(F.sum("id")).first()[0] == 99 * 100 // 2
    st = reader.stats["xproc"]
    assert st.num_reads == 1 and st.bytes_read > 0 and st.read_secs > 0


def test_bucketed_stages_join_without_shuffle(spark, mgr):
    """The co-location contract: two stages bucketed on the same key join
    with ZERO exchange in the plan — the materialized analogue of the
    plugin's pre-partitioned map output (reducers read their partition
    directly). A plain parquet re-read of the same files cannot do this."""
    from spark_s3_shuffle_spark.plans import inspect as I

    a = spark.range(2000).withColumn("k", F.col("id") % 50).withColumn("va", F.col("id") * 2)
    b = spark.range(1000).withColumn("k", F.col("id") % 50).withColumn("vb", F.col("id") * 3)
    mgr.stage_write_bucketed(a.select("k", "va"), "bucket_a", keys=["k"], num_buckets=4)
    mgr.stage_write_bucketed(b.select("k", "vb"), "bucket_b", keys=["k"], num_buckets=4)
    ra, rb = mgr.stage_read_bucketed("bucket_a"), mgr.stage_read_bucketed("bucket_b")
    joined = ra.join(rb, "k")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force the join to rely on bucketing
    try:
        assert I.count_exchanges(joined) == 0, I.formatted_plan(joined)[:1500]
        assert joined.count() == 2000 * 1000 // 50  # 40 ids per key on a, 20 on b, 50 keys
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_metering(spark, mgr):
    df = spark.range(10_000).withColumn("payload", F.sha2(F.col("id").cast("string"), 256))
    st = mgr.stage_write(df, "metered", num_partitions=4)
    assert st.write_secs > 0
    assert st.mib_per_sec() > 0
    assert mgr.stats["metered"] is st


def test_metered_read_populates_task_metrics(spark, mgr):
    """A15 read side: a metered read window must record task-level input
    bytes/records and executor time from the status store."""
    df = spark.range(50_000).withColumn("k", F.col("id") % 7).withColumn(
        "payload", F.sha2(F.col("id").cast("string"), 256)
    )
    mgr.stage_write(df, "metered", keys=["k"], num_partitions=4)
    with mgr.metered_read("metered") as back:
        total = back.agg(F.sum("id")).first()[0]
    assert total == 49_999 * 50_000 // 2
    st = mgr.stats["metered"]
    assert st.metered_stages >= 1
    assert st.task_input_records == 50_000
    assert st.task_input_bytes > 0
    assert st.task_read_millis >= 0
    # the coarse _du-based byte meter and the task-level meter agree on
    # magnitude (same files read once)
    assert st.task_input_bytes <= st.bytes_read * 2


def test_metered_read_counts_only_its_own_jobs(spark, mgr):
    """A job another thread runs inside the metering window is not the
    read's: the window records exactly the stage's 50,000 input rows, not
    the 10,000 rows the other thread reads from a second stage."""
    import threading

    df = spark.range(50_000).withColumn("k", F.col("id") % 7)
    mgr.stage_write(df, "mine", keys=["k"], num_partitions=4)
    mgr.stage_write(spark.range(10_000), "other", num_partitions=2)
    other = []
    with mgr.metered_read("mine") as back:
        assert back.count() == 50_000
        t = threading.Thread(target=lambda: other.append(mgr.stage_read("other").count()))
        t.start()
        t.join(timeout=120)
        assert not t.is_alive()
    assert other == [10_000]
    assert mgr.stats["mine"].task_input_records == 50_000


def test_removed_bucketed_stage_no_longer_resolves(spark, mgr):
    """remove_stage and remove_all drop a bucketed stage's catalog table
    with its files, so reading the stage back raises instead of
    resolving a table over missing (or silently empty) files."""
    df = spark.range(200).withColumn("k", F.col("id") % 5)
    mgr.stage_write_bucketed(df, "bk_one", keys=["k"], num_buckets=2)
    assert spark.catalog.tableExists("exchange_bk_one")
    assert mgr.remove_stage("bk_one")
    assert not spark.catalog.tableExists("exchange_bk_one")
    with pytest.raises(Exception):
        mgr.stage_read_bucketed("bk_one").count()

    mgr.stage_write_bucketed(df, "bk-two", keys=["k"], num_buckets=2)
    mgr.stage_write(df, "plain", num_partitions=1)
    assert mgr.remove_all() >= 1
    assert not spark.catalog.tableExists("exchange_bk_two")
    with pytest.raises(Exception):
        mgr.stage_read_bucketed("bk-two").count()


def test_refused_delete_raises(spark, mgr, monkeypatch):
    """Hadoop's FileSystem.delete reports a refusal by returning False;
    remove_stage and remove_all must raise rather than report the stage
    removed (or absent)."""
    from spark_s3_shuffle_spark.operators import exchange

    class RefusingFS:
        def exists(self, path):
            return True

        def delete(self, path, recursive):
            return False

    monkeypatch.setattr(exchange, "_fs", lambda spark, path: (RefusingFS(), path, None))
    with pytest.raises(RuntimeError, match="refused"):
        mgr.remove_stage("any")
    with pytest.raises(RuntimeError, match="refused"):
        mgr.remove_all()


def test_content_checksum_write_and_verify(spark, mgr):
    """A4/A5 parity at the engine level: the content checksum validates a
    materialized stage at rest; losing a part file (or any row) fails
    verification, and the digest is independent of read parallelism."""
    import glob

    from spark_s3_shuffle_spark.operators.exchange import (
        verify_stage_checksum,
        write_stage_checksum,
    )

    df = spark.range(2000).withColumn("k", F.col("id") % 7)
    mgr.stage_write(df, "ck", keys=["k"], num_partitions=5)
    doc = write_stage_checksum(mgr, "ck")
    assert doc["rows"] == 2000
    assert verify_stage_checksum(mgr, "ck")

    # tamper: drop one part file -> count and digest both shift
    path = mgr.stage_path("ck").replace("file:", "")
    victim = sorted(glob.glob(f"{path}/part-*.parquet"))[0]
    os.remove(victim)
    assert not verify_stage_checksum(mgr, "ck")

    # missing sidecar reports unverifiable, not crash
    mgr.stage_write(df, "ck2", keys=["k"])
    assert not verify_stage_checksum(mgr, "ck2")

    # total corruption — EVERY parquet file gone, only the sidecar left —
    # must also report False (the caller decides refetch/rebuild), not
    # crash with an unable-to-infer-schema AnalysisException
    for part in glob.glob(f"{path}/part-*.parquet"):
        os.remove(part)
    assert not verify_stage_checksum(mgr, "ck")


def test_content_checksum_invariant_to_read_parallelism(spark, mgr):
    """The content digest is an order-independent exact-integer sum, so
    re-reading the same stage under a different scan parallelism (and after
    a key repartition) must verify identically."""
    from spark_s3_shuffle_spark.operators.exchange import (
        verify_stage_checksum,
        write_stage_checksum,
    )

    df = spark.range(3000).withColumn("k", F.col("id") % 11)
    mgr.stage_write(df, "ckp", keys=["k"], num_partitions=4)
    doc = write_stage_checksum(mgr, "ckp")
    # Spark caps a scan split at min(maxPartitionBytes, max(openCostInBytes,
    # (bytes + files * openCostInBytes) / minPartitionNum)); minPartitionNum
    # defaults to the core count, which alone splits the 4 files 3-5 ways.
    # With minPartitionNum=1 a 128 MiB cap packs them into one partition,
    # and a 1 KiB cap cuts each file into several.
    settings = {
        "one": {
            "spark.sql.files.maxPartitionBytes": str(128 << 20),
            "spark.sql.files.openCostInBytes": "0",
            "spark.sql.files.minPartitionNum": "1",
        },
        "many": {
            "spark.sql.files.maxPartitionBytes": "1024",
            "spark.sql.files.openCostInBytes": str(4 << 20),
            "spark.sql.files.minPartitionNum": "1",
        },
    }
    keys = settings["one"].keys()
    old = {k: spark.conf.get(k, None) for k in keys}
    widths = {}
    try:
        for name, confs in settings.items():
            for k, v in confs.items():
                spark.conf.set(k, v)
            widths[name] = mgr.stage_read("ckp").rdd.getNumPartitions()
            assert verify_stage_checksum(mgr, "ckp"), (name, widths[name])
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert widths["one"] == 1 and widths["many"] >= 4, widths
    # a REWRITE with different partitioning carries the same content:
    # recomputed digest equals the sidecar written before the rewrite
    re_read = mgr.stage_read("ckp").repartition(9, "k")
    mgr.stage_write(re_read, "ckp2", keys=["k"], num_partitions=9)
    doc2 = write_stage_checksum(mgr, "ckp2")
    assert (doc["rows"], doc["digest"]) == (doc2["rows"], doc2["digest"])


def test_checksum_catches_loss_between_write_and_pin(spark, mgr):
    """The pinned digest is the one the write observed, not one re-derived
    from the files at rest: a part file lost after the write but before
    write_stage_checksum must fail verification, not be baked into the
    pin."""
    import glob

    from spark_s3_shuffle_spark.operators.exchange import (
        verify_stage_checksum,
        write_stage_checksum,
    )

    df = spark.range(2000).withColumn("k", F.col("id") % 7)
    mgr.stage_write(df, "pin", keys=["k"], num_partitions=5)
    path = mgr.stage_path("pin").replace("file:", "")
    os.remove(sorted(glob.glob(f"{path}/part-*.parquet"))[0])
    doc = write_stage_checksum(mgr, "pin")
    assert doc["rows"] == 2000
    assert not verify_stage_checksum(mgr, "pin")


_DIGEST_CASES = {
    "long": "(CAST(9223372036854775807 AS BIGINT)), (CAST(-1 AS BIGINT)), (CAST(NULL AS BIGINT))",
    "int": "(2147483647), (-7), (CAST(NULL AS INT))",
    "double": "(CAST(-0.0 AS DOUBLE)), (CAST(0.0 AS DOUBLE)), (CAST('NaN' AS DOUBLE)), "
              "(CAST(NULL AS DOUBLE)), (1.5D)",
    "string": "(''), (CAST(NULL AS STRING)), ('naïve 日本語 ✓'), ('x')",
    "decimal(38,10)": "(CAST('1234567890123456789012345678.0123456789' AS DECIMAL(38,10))), "
                      "(CAST(-0.5 AS DECIMAL(38,10))), (CAST(NULL AS DECIMAL(38,10)))",
    "date": "(DATE'1970-01-01'), (DATE'2024-02-29'), (CAST(NULL AS DATE))",
    "timestamp": "(TIMESTAMP'2024-02-29 12:34:56.789012'), (TIMESTAMP'1900-01-01 00:00:00'), "
                 "(CAST(NULL AS TIMESTAMP))",
    "binary": "(X''), (X'00FF10'), (CAST(NULL AS BINARY))",
    "array<string>": "(array('a', NULL, '')), (CAST(array() AS ARRAY<STRING>)), "
                     "(CAST(NULL AS ARRAY<STRING>))",
    "struct": "(named_struct('a', 1, 'b', 'x')), "
              "(named_struct('a', CAST(NULL AS INT), 'b', CAST(NULL AS STRING))), "
              "(CAST(NULL AS STRUCT<a: INT, b: STRING>))",
}


@pytest.mark.parametrize("kind", sorted(_DIGEST_CASES))
def test_write_time_digest_equals_at_rest_digest(spark, mgr, kind):
    """The digest observed while writing equals the digest recomputed from
    the parquet files at rest, for every column type the digest hashes,
    edge values included (-0.0, NaN, nulls, empty and non-ASCII strings)."""
    from spark_s3_shuffle_spark.operators.exchange import _content_checksum

    df = spark.sql(f"SELECT * FROM VALUES {_DIGEST_CASES[kind]} AS t(c)")
    st = mgr.stage_write(df, "types", num_partitions=2)
    assert st.digest is not None
    at_rest = _content_checksum(spark.read.parquet(mgr.stage_path("types")))
    assert (st.rows, st.digest) == at_rest


def test_map_typed_stage_writes_without_digest(spark, mgr):
    """xxhash64 rejects map columns: such a frame still writes and reads
    back, with no digest recorded, and pinning it raises."""
    from pyspark.errors import AnalysisException

    from spark_s3_shuffle_spark.operators.exchange import write_stage_checksum

    df = spark.range(5).select(F.create_map(F.col("id"), F.lit("x")).alias("m"))
    st = mgr.stage_write(df, "maps", num_partitions=2)
    assert st.digest is None and st.rows is None
    back = mgr.stage_read("maps")
    assert sorted(r["m"] for r in back.selectExpr("map_keys(m)[0] AS m").collect()) == list(range(5))
    with pytest.raises(AnalysisException):
        write_stage_checksum(mgr, "maps")


def test_pinned_reads_run_no_inference_job(spark, mgr):
    """A recorded stage is pinned without any job and read and verified
    with its pinned schema, so no parquet schema-inference job runs; a
    manager that did not write the stage still reads (inferring) and
    verifies (with the sidecar's schema); and a stage whose part files are
    all gone raises on read instead of reading as empty."""
    import glob
    import uuid

    from spark_s3_shuffle_spark.operators.exchange import (
        verify_stage_checksum,
        write_stage_checksum,
    )
    from spark_s3_shuffle_spark.plans.inspect import group_stages, job_group

    def window(run):
        tag = f"pinned-{uuid.uuid4().hex}"
        with job_group(spark, tag):
            result = run()
        jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(tag)
        return result, len(jobs), [str(s.name()) for s in group_stages(spark, tag)[0]]

    df = spark.range(3000).withColumn("k", F.col("id") % 11)
    mgr.stage_write(df, "pinned", keys=["k"], num_partitions=4)
    doc, jobs, _ = window(lambda: write_stage_checksum(mgr, "pinned"))
    assert doc["rows"] == 3000 and jobs == 0

    n, jobs, names = window(lambda: mgr.stage_read("pinned").count())
    assert n == 3000 and jobs >= 1
    assert not any(name.startswith("parquet") for name in names), names
    ok, jobs, names = window(lambda: verify_stage_checksum(mgr, "pinned"))
    assert ok and jobs >= 1
    assert not any(name.startswith("parquet") for name in names), names

    fresh = ExchangeManager(spark, mgr.root, prefixes=mgr.prefixes, app_id=mgr.app_id)
    assert fresh.stage_read("pinned").count() == 3000
    assert verify_stage_checksum(fresh, "pinned")

    path = mgr.stage_path("pinned").replace("file:", "")
    for part in glob.glob(f"{path}/part-*.parquet"):
        os.remove(part)
    for m in (mgr, fresh):
        with pytest.raises(FileNotFoundError):
            m.stage_read("pinned")


def test_stage_read_infers_schema_after_another_manager_rewrites(spark, mgr):
    """The shard path is shared across managers: once another manager
    rewrites the stage with an extra column, the first manager's recorded
    schema no longer describes the files, so its read infers the real
    schema instead of dropping the new column."""
    df = spark.range(500).withColumn("k", F.col("id") % 3)
    mgr.stage_write(df, "shared", num_partitions=2)
    other = ExchangeManager(spark, mgr.root, prefixes=mgr.prefixes, app_id=mgr.app_id)
    other.stage_write(df.withColumn("extra", F.col("id") * 2), "shared", num_partitions=2)
    back = mgr.stage_read("shared")
    assert sorted(back.columns) == ["extra", "id", "k"]
    assert back.where(F.col("extra") != F.col("id") * 2).count() == 0
    assert back.where(F.col("extra").isNull()).count() == 0


def test_tune_read_partition_bytes_changes_scan_parallelism(spark, mgr):
    """A10 parity, A/B-measured: the knob consumes REAL metered-read task
    metrics and resizes the scan split; under a deliberately tiny split
    the same stage reads as many tasks, after tuning it reads as few —
    the conf change demonstrably changes read parallelism."""
    df = spark.range(200_000).withColumn("k", F.col("id") % 16).withColumn(
        "pad", F.sha2(F.col("id").cast("string"), 256)
    )
    mgr.stage_write(df, "tune", keys=["k"], num_partitions=16)

    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    try:
        # no observations yet -> the knob refuses to guess
        import pytest as _pytest

        with _pytest.raises(ValueError):
            mgr.tune_read_partition_bytes("tune")

        # A: tiny splits -> wide scan
        spark.conf.set(key, str(64 * 1024))
        with mgr.metered_read("tune") as d:
            d.agg(F.count(F.lit(1))).collect()
        wide = mgr.stage_read("tune").rdd.getNumPartitions()

        st = mgr.stats["tune"]
        assert st.task_input_bytes > 0 and st.task_read_millis > 0

        # B: tune from the observed throughput -> larger split -> narrow scan
        decision = mgr.tune_read_partition_bytes(
            "tune", target_task_millis=10_000
        )
        assert decision["new_max_partition_bytes"] >= 1 << 20
        assert int(spark.conf.get(key)) == decision["new_max_partition_bytes"]
        narrow = mgr.stage_read("tune").rdd.getNumPartitions()
        assert narrow < wide, (narrow, wide, decision)
    finally:
        spark.conf.set(key, old)
