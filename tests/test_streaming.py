"""Streaming smoke tests (SURVEY §5.2 t1): file source over events-schema
parquet, watermark + tumbling counts, stateful dedup, checkpointed parquet
sink — then batch-read the sink and check counts (FIXTURES §5)."""

import tempfile

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from spark_s3_shuffle_spark.sources.catalog import load_table
from spark_s3_shuffle_spark.streaming import ops as S


@pytest.fixture(scope="module")
def events_drop_dir(spark, sf_dir):
    """Copy the events fixture into a drop dir as the stream input."""
    tmp = tempfile.mkdtemp(prefix="events-drops-")
    ev = load_table(spark, sf_dir, "events").drop("event_ts")
    ev.repartition(4).write.mode("overwrite").parquet(f"{tmp}/in")
    return tmp


def test_tumbling_stream_matches_batch(spark, sf_dir, events_drop_dir):
    out = f"{events_drop_dir}/out1"
    ckpt = f"{events_drop_dir}/ckpt1"
    stream = S.read_events_stream(spark, f"{events_drop_dir}/in")
    agg = S.tumbling_counts(stream.withWatermark("event_ts", "10 minutes"), "10 minutes")
    S.run_stream_to_completion(S.parquet_sink(agg, out, ckpt))

    got = spark.read.parquet(out).select(F.col("w.start").alias("ws"), "c")
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("event_ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("c"))
        .select(F.col("w.start").alias("ws"), "c")
    )
    # append mode only emits windows the final watermark has passed, so the
    # tail window(s) are withheld: every emitted window must match the batch
    # count exactly, and only a watermark-horizon's worth may be missing.
    emitted = {r["ws"]: r["c"] for r in got.collect()}
    full = {r["ws"]: r["c"] for r in batch.collect()}
    assert emitted, "stream emitted nothing"
    for ws, c in emitted.items():
        assert full[ws] == c, (ws, c, full.get(ws))
    missing = set(full) - set(emitted)
    assert len(missing) <= 3, f"too many withheld windows: {len(missing)}"
    assert all(ws > max(emitted) for ws in missing), "non-tail window withheld"


def test_stream_dedup_within_watermark(spark, events_drop_dir):
    out = f"{events_drop_dir}/out2"
    ckpt = f"{events_drop_dir}/ckpt2"
    stream = S.read_events_stream(spark, f"{events_drop_dir}/in")
    deduped = S.dedup_stream(stream.withWatermark("event_ts", "1 hour"), ["user_id", "event_id"])
    S.run_stream_to_completion(S.parquet_sink(deduped, out, ckpt))
    got = spark.read.parquet(out)
    expected = spark.read.parquet(f"{events_drop_dir}/in").dropDuplicates(["user_id", "event_id"]).count()
    assert got.count() == expected


def test_stateful_running_totals(spark, sf_dir, events_drop_dir):
    """applyInPandasWithState custom operator: the final per-user state must
    equal the batch groupBy totals (update-mode emits per micro-batch, so
    take the max events per key from the memory sink)."""
    stream = S.read_events_stream(spark, f"{events_drop_dir}/in")
    totals = S.stateful_running_totals(stream, "user_id", "value")
    q = (
        totals.writeStream.format("memory")
        .queryName("running_totals")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    if q.isActive:
        q.stop()
    got = (
        spark.table("running_totals")
        .groupBy("user_id")
        .agg(F.max("events").alias("events"))
    )
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("events"))
    )
    g = {r["user_id"]: r["events"] for r in got.collect()}
    b = {r["user_id"]: r["events"] for r in batch.collect()}
    assert g == b


def test_foreach_batch_into_materialized_exchange(spark, sf_dir, events_drop_dir):
    """Streaming → exchange integration: each micro-batch lands as a
    hash-partitioned materialized stage via foreachBatch + ExchangeManager,
    and the union of staged batches equals the input — the streaming-write
    analogue of the reference's per-map-task S3 objects (one immutable
    object tree per unit of work, readable by any later consumer)."""
    import tempfile

    from pyspark.sql import functions as F2

    from spark_s3_shuffle_spark.operators.exchange import ExchangeManager

    tmp = tempfile.mkdtemp(prefix="stream-exchange-")
    mgr = ExchangeManager(spark, f"file://{tmp}/scratch", prefixes=4)
    seen = []

    def sink(batch_df, batch_id):
        stage = f"events_batch_{batch_id}"
        mgr.stage_write(batch_df, stage, keys=["user_id"], num_partitions=2)
        seen.append(stage)

    stream = S.read_events_stream(spark, f"{events_drop_dir}/in", max_files_per_trigger=2)
    q = stream.writeStream.foreachBatch(sink).trigger(availableNow=True).option(
        "checkpointLocation", f"{tmp}/ckpt"
    ).start()
    q.awaitTermination(120)
    if q.isActive:
        q.stop()

    assert seen, "no micro-batches materialized"
    total = 0
    for stage in seen:
        total += mgr.stage_read(stage).count()
    expected = spark.read.parquet(f"{events_drop_dir}/in").count()
    assert total == expected
    assert sum(st.bytes_written for st in mgr.stats.values()) > 0
    mgr.remove_all()


def test_sliding_stream_matches_batch(spark, sf_dir, events_drop_dir):
    """B38 in streaming mode, verified against the batch twin: every emitted
    (window, count) must equal the batch sliding-window count; only
    tail windows the final watermark hasn't passed may be withheld."""
    base = S.read_events_stream(spark, f"{events_drop_dir}/in").withWatermark("event_ts", "30 minutes")
    agg = S.sliding_counts(base, "10 minutes", "5 minutes")
    out = f"{events_drop_dir}/out_slide"
    ckpt = f"{events_drop_dir}/ckpt_slide"
    S.run_stream_to_completion(S.parquet_sink(agg, out, ckpt))

    emitted = {
        r["ws"]: r["c"]
        for r in spark.read.parquet(out).select(F.col("w.start").alias("ws"), "c").collect()
    }
    full = {
        r["ws"]: r["c"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy(F.window("event_ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("c"))
        .select(F.col("w.start").alias("ws"), "c")
        .collect()
    }
    assert emitted, "stream emitted nothing"
    for ws, c in emitted.items():
        assert full[ws] == c, (ws, c, full.get(ws))
    missing = set(full) - set(emitted)
    assert all(ws > max(emitted) for ws in missing), "non-tail window withheld"
    assert len(missing) <= 8, f"too many withheld windows: {len(missing)}"


def test_session_stream_matches_batch(spark, sf_dir, events_drop_dir):
    """B39 in streaming mode: emitted (user, session-start) counts must
    equal the batch session_window twin; withheld sessions are bounded."""
    base = S.read_events_stream(spark, f"{events_drop_dir}/in").withWatermark("event_ts", "30 minutes")
    agg = S.session_counts(base, "5 minutes")
    out = f"{events_drop_dir}/out_sess"
    ckpt = f"{events_drop_dir}/ckpt_sess"
    S.run_stream_to_completion(S.parquet_sink(agg, out, ckpt))

    emitted = {
        (r["user_id"], r["ws"]): r["c"]
        for r in spark.read.parquet(out)
        .select("user_id", F.col("w.start").alias("ws"), "c")
        .collect()
    }
    full = {
        (r["user_id"], r["ws"]): r["c"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy(F.session_window("event_ts", "5 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .select("user_id", F.col("w.start").alias("ws"), "c")
        .collect()
    }
    assert emitted, "stream emitted nothing"
    for k, c in emitted.items():
        assert full[k] == c, (k, c, full.get(k))
    missing = set(full) - set(emitted)
    # only sessions near the global tail (inside the watermark horizon) may
    # be withheld by append mode
    assert len(missing) <= max(5, len(full) // 20), f"{len(missing)}/{len(full)} withheld"


def test_rate_source_smoke(spark):
    """B37 t1: the rate source (deterministic rows-per-batch variant) feeds
    the same windowed-count pipeline; a couple of micro-batches must land in
    the memory sink."""
    import time

    stream = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 100)
        .option("startTimestamp", 0)
        .option("advanceMillisPerBatch", 60_000)
        .load()
    )  # schema: (timestamp timestamp, value long)
    agg = (
        stream.withWatermark("timestamp", "1 minute")
        .groupBy(F.window("timestamp", "1 minute").alias("w"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("rate_counts")
        .outputMode("update")
        .start()
    )
    try:
        # NOTE: never processAllAvailable() on a rate source — it always has
        # more data, so that call would block forever. Poll the sink instead.
        deadline = time.time() + 90
        while time.time() < deadline:
            if spark.table("rate_counts").count() >= 2:
                break
            time.sleep(0.5)
        rows = spark.table("rate_counts").collect()
    finally:
        q.stop()
    assert len(rows) >= 2, rows
    assert all(r["c"] % 100 == 0 for r in rows), rows


def test_session_formulations_agree_batch_and_stream(spark, sf_dir, events_drop_dir):
    """The session-window triangle at the q64 gap (30 min):

    1. batch ``F.session_window`` == q64's gaps-and-islands formulation
       (lag → marker → running sum), EXACTLY, per user — two independent
       derivations of the same sessions (q64 is oracle-checked against
       DuckDB, so this transitively oracle-checks the session_window
       operator's grouping);
    2. streaming ``session_counts`` at the same gap: every EMITTED session
       equals its batch session_window twin, with only watermark-tail
       sessions withheld.

    Boundary note: a gap of exactly 1800s splits in session_window
    (merge requires diff < gap) but merges in q64 (new session iff
    diff > 1800); the fixture has no exact-1800 gaps, so the formulations
    are equal on it (and on any continuous-timestamp corpus, a.s.).
    """
    from spark_s3_shuffle_spark.queries.registry import QUERIES

    ev = load_table(spark, sf_dir, "events")
    sw_sessions = ev.groupBy(
        F.session_window("event_ts", "30 minutes").alias("w"), "user_id"
    ).agg(F.count(F.lit(1)).alias("c"))
    per_user_sw = sorted(
        map(
            tuple,
            sw_sessions.groupBy("user_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_sessions"),
                F.sum("c").cast("long").alias("n_events"),
            )
            .collect(),
        )
    )
    per_user_q64 = sorted(
        map(
            tuple,
            QUERIES["q64_sessionization"].builder(spark, sf_dir)
            .select("user_id", "n_sessions", "n_events")
            .collect(),
        )
    )
    assert per_user_sw == per_user_q64

    # streaming mode at the same gap: emitted ⊆ batch, values exact
    base = S.read_events_stream(spark, f"{events_drop_dir}/in").withWatermark("event_ts", "30 minutes")
    agg = S.session_counts(base, "30 minutes")
    out = f"{events_drop_dir}/out_sess30"
    ckpt = f"{events_drop_dir}/ckpt_sess30"
    S.run_stream_to_completion(S.parquet_sink(agg, out, ckpt))
    emitted = {
        (r["user_id"], r["ws"]): r["c"]
        for r in spark.read.parquet(out)
        .select("user_id", F.col("w.start").alias("ws"), "c")
        .collect()
    }
    full = {
        (r["user_id"], r["ws"]): r["c"]
        for r in sw_sessions.select("user_id", F.col("w.start").alias("ws"), "c").collect()
    }
    assert emitted, "stream emitted nothing"
    for k, c in emitted.items():
        assert full[k] == c, (k, c, full.get(k))
    missing = set(full) - set(emitted)
    assert len(missing) <= max(5, len(full) // 10), f"{len(missing)}/{len(full)} withheld"


def test_late_rows_older_than_watermark_are_dropped(spark):
    """B40: a row arriving in a later micro-batch with event time older than
    the advanced watermark must NOT update its (already-final) window, while
    an on-time row in the same batch must land."""
    import os
    import time

    from datetime import datetime, timezone

    tmp = tempfile.mkdtemp(prefix="late-data-")
    indir = f"{tmp}/in"
    base = 1_700_000_400  # 10-minute-window aligned (epoch % 600 == 0)

    def ts(sec):
        return datetime.fromtimestamp(sec, tz=timezone.utc).replace(tzinfo=None)  # naive UTC = TIMESTAMP_NTZ

    def drop_file(rows):
        spark.createDataFrame(rows, S.EVENTS_DDL).coalesce(1).write.mode("append").parquet(indir)

    # batch 0: one event per minute for an hour -> watermark becomes
    # max(event_ts) - 5 min = minute 54 once committed
    drop_file([(i, ts(base + 60 * i), 1, "e", 1.0, "{}") for i in range(60)])
    time.sleep(1.2)  # distinct mtime so the file source orders the drops
    # batch 1: on-time filler — the watermark computed from batch 0 is
    # COMMITTED after this batch, so batch 2's filter actually uses it
    # (the watermark used to drop rows in batch N is the one finalized at
    # the end of batch N-1)
    drop_file([(500, ts(base + 55 * 60), 1, "e", 1.0, "{}")])
    time.sleep(1.2)
    # batch 2: one LATE row (minute 0, window end 10 < watermark 54) and one
    # on-time row (minute 58, window end 60 > watermark)
    drop_file([
        (1000, ts(base + 30), 1, "e", 1.0, "{}"),
        (1001, ts(base + 3500), 1, "e", 1.0, "{}"),
    ])
    assert len([f for f in os.listdir(indir) if f.startswith("part-")]) == 3

    stream = S.read_events_stream(spark, indir, max_files_per_trigger=1)
    agg = S.tumbling_counts(stream.withWatermark("event_ts", "5 minutes"), "10 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("late_counts")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    if q.isActive:
        q.stop()
    dropped = sum(
        p["stateOperators"][0].get("numRowsDroppedByWatermark", 0) for p in q.recentProgress
    )

    got = (
        spark.table("late_counts")
        .groupBy(F.col("w.start").alias("ws"))
        .agg(F.max("c").alias("c"))
        .collect()
    )
    by_start = {int(r["ws"].timestamp()) - base: r["c"] for r in got}
    assert by_start[0] == 10, f"late row was NOT dropped: {by_start}"
    assert by_start[3000] == 12, f"on-time rows missing: {by_start}"
    assert dropped == 1, f"expected exactly the late row dropped, got {dropped}"


def test_stream_stream_interval_join_matches_batch(spark, sf_dir, events_drop_dir):
    """Watermarked stream-stream join (view → click within 10 min per user)
    must reproduce the batch interval-join rows; only matches the final
    watermark withheld may be missing."""
    src = f"{events_drop_dir}/in"
    views = S.read_events_stream(spark, src).filter(F.col("event_type") == "view")
    clicks = S.read_events_stream(spark, src).filter(F.col("event_type") == "click")
    joined = S.stream_stream_interval_join(views, clicks).select(
        F.col("l.user_id").alias("user_id"),
        F.col("l.event_id").alias("view_id"),
        F.col("r.event_id").alias("click_id"),
    )
    out = f"{events_drop_dir}/out_ssj"
    ckpt = f"{events_drop_dir}/ckpt_ssj"
    S.run_stream_to_completion(S.parquet_sink(joined, out, ckpt), timeout_secs=180)

    got = {tuple(r) for r in spark.read.parquet(out).collect()}

    ev = load_table(spark, sf_dir, "events")
    bviews = ev.filter(F.col("event_type") == "view").alias("l")
    bclicks = ev.filter(F.col("event_type") == "click").alias("r")
    expected = {
        tuple(r)
        for r in bviews.join(
            bclicks,
            (F.col("l.user_id") == F.col("r.user_id"))
            & (F.col("r.event_ts") >= F.col("l.event_ts"))
            & (F.col("r.event_ts") <= F.col("l.event_ts") + F.expr("INTERVAL 10 minutes")),
        )
        .select(
            F.col("l.user_id").alias("user_id"),
            F.col("l.event_id").alias("view_id"),
            F.col("r.event_id").alias("click_id"),
        )
        .collect()
    }
    assert got, "stream-stream join emitted nothing"
    assert got <= expected, f"{len(got - expected)} spurious rows"
    missing = expected - got
    assert len(missing) <= max(5, len(expected) // 20), f"{len(missing)}/{len(expected)} missing"


def test_streaming_corpus_ingest_matches_batch_stages(spark, sf_dir):
    """Streaming front half of the q131 export pipeline: documents arrive
    as a file stream, pass the same quality gate (stateless Column
    exprs run unchanged under Structured Streaming), and dedup via
    streaming dropDuplicates on the text digest. The survivor DIGEST SET
    must equal the batch quality+exact-dedup stages' set (ids may differ:
    streaming keeps first-ARRIVED, batch keeps min-id — same equivalence
    classes either way)."""
    import tempfile

    from spark_s3_shuffle_spark.operators import dedup as D
    from spark_s3_shuffle_spark.operators.text import tokens

    tmp = tempfile.mkdtemp(prefix="docs-drops-")
    docs = load_table(spark, sf_dir, "documents")
    docs.repartition(4).write.mode("overwrite").parquet(f"{tmp}/in")

    tk = tokens(F.col("text"))
    ntk = F.size(tk)
    dupfrac = F.when(ntk > 0, 1 - F.size(F.array_distinct(tk)) / ntk).otherwise(
        F.lit(0.0)
    )
    gate = (ntk >= 10) & (dupfrac <= 0.3)

    stream = spark.readStream.schema(docs.schema).parquet(f"{tmp}/in")
    deduped = (
        stream.filter(gate)
        .withColumn("_digest", F.sha2(F.col("text"), 256))
        .dropDuplicates(["_digest"])
    )
    S.run_stream_to_completion(S.parquet_sink(deduped, f"{tmp}/out", f"{tmp}/ckpt"))

    got = spark.read.parquet(f"{tmp}/out")
    batch_q = docs.filter(gate)
    surv = batch_q.join(
        D.exact_dedup(batch_q, ["text"], "doc_id"), "doc_id", "left_semi"
    )
    assert got.count() == surv.count()
    got_digests = {r[0] for r in got.select("_digest").collect()}
    batch_digests = {r[0] for r in surv.select(F.sha2("text", 256)).collect()}
    assert got_digests == batch_digests


def test_timer_sessionize_tws_matches_batch_session_window(spark, sf_dir):
    """B60 deepened: event-time TIMERS. The transformWithState sessionizer
    (one ValueState per open session + a timer at end+gap) must emit
    exactly the batch session_window sessions, except a per-user tail
    suffix the final watermark never closed. Input files are written
    time-range-ordered so the watermark advances across micro-batches and
    timers actually fire."""
    pytest.importorskip("pyspark.sql.streaming.stateful_processor")
    pytest.importorskip("google.protobuf.descriptor")
    import tempfile

    from spark_s3_shuffle_spark.streaming import ops as S
    from spark_s3_shuffle_spark.streaming import stateful as ST

    gap_us = 5 * 60 * 1_000_000
    tmp = tempfile.mkdtemp(prefix="tws-sess-")
    ev = load_table(spark, sf_dir, "events").drop("event_ts")
    # stage the four time-range files into the drop dir with ASCENDING
    # mtimes: the file source processes oldest-mtime first, so batches
    # arrive in event-time order and the watermark never leaps ahead of a
    # yet-unread earlier file (which would late-drop it wholesale)
    import glob
    import os
    import shutil
    import time as _time

    ev.repartitionByRange(4, F.col("ts")).write.mode("overwrite").parquet(
        f"{tmp}/stage"
    )
    os.makedirs(f"{tmp}/in")
    now = _time.time()
    for i, f in enumerate(sorted(glob.glob(f"{tmp}/stage/part-*.parquet"))):
        dst = f"{tmp}/in/{os.path.basename(f)}"
        shutil.copy(f, dst)
        os.utime(dst, (now + i * 10, now + i * 10))
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = S.read_events_stream(spark, f"{tmp}/in", max_files_per_trigger=1).withWatermark(
            "event_ts", "1 minute"
        )
        sess = ST.sessionize_tws(stream, gap_us)
        q = (
            sess.writeStream.format("memory")
            .queryName("tws_sessions")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(240)
        if q.isActive:
            q.stop()
        emitted = {
            (r["user_id"], r["start_us"]): (r["end_us"], r["n_events"])
            for r in spark.table("tws_sessions").collect()
        }
        batch = {
            (r["user_id"], r["start_us"]): (r["end_us"], r["n_events"])
            for r in load_table(spark, sf_dir, "events")
            .groupBy(
                F.session_window("event_ts", "5 minutes").alias("w"), "user_id"
            )
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                F.unix_micros("w.start").alias("start_us"),
                # session_window end = last event + gap; the processor's
                # end_us is the last event itself
                (F.unix_micros("w.end") - gap_us).alias("end_us"),
                "n_events",
            )
            .collect()
        }
        assert emitted, "no sessions emitted"
        for k, v in emitted.items():
            assert batch[k] == v, (k, v, batch.get(k))
        # withheld sessions must be a per-user TAIL suffix (never an
        # interior session): anything missing starts at/after every
        # emitted session of the same user
        by_user_emitted = {}
        for (u, s) in emitted:
            by_user_emitted.setdefault(u, []).append(s)
        for (u, s) in set(batch) - set(emitted):
            assert all(s >= e for e in by_user_emitted.get(u, [])), (u, s)
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_streaming_export_shards_matches_batch_assignment(spark, sf_dir):
    """Streaming back half of the export pipeline: documents streamed
    through the foreachBatch shard sink land in exactly the shard the
    batch writer would choose (content-addressed assignment is
    arrival-order-free), with per-shard directory layout intact across
    multi-batch appends."""
    import glob
    import tempfile

    from spark_s3_shuffle_spark.operators import pipeline as PL

    tmp = tempfile.mkdtemp(prefix="stream-export-")
    docs = load_table(spark, sf_dir, "documents")
    docs.repartition(3).write.mode("overwrite").parquet(f"{tmp}/in")

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tmp}/in")
    )
    S.run_stream_to_completion(
        S.export_shards_sink(stream, f"{tmp}/out", f"{tmp}/ckpt", "doc_id", 4)
    )

    dirs = sorted(glob.glob(f"{tmp}/out/shard=*"))
    assert [d.rsplit("=", 1)[1] for d in dirs] == ["0", "1", "2", "3"]
    back = spark.read.parquet(f"{tmp}/out").select("doc_id", "shard")
    expect = PL.shard_assign(docs, "doc_id", 4).select("doc_id", "shard")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, expect.collect()))


def test_streaming_matview_maintenance_matches_batch(spark, sf_dir):
    """Streaming materialized-view maintenance: folding micro-batches into
    the persisted summary via the algebraic refresh must reproduce the
    batch-built summary EXACTLY (decimal components), and the version
    trail must be monotone (one immutable v<id> per micro-batch)."""
    import tempfile

    li = load_table(spark, sf_dir, "lineitem")
    tmp = tempfile.mkdtemp(prefix="matview-stream-")
    li.repartition(5).write.mode("overwrite").parquet(f"{tmp}/in")

    stream = (
        spark.readStream.format("parquet")
        .schema(li.schema)
        .option("maxFilesPerTrigger", 1)
        .load(f"{tmp}/in")
    )
    S.run_stream_to_completion(
        S.matview_maintenance_sink(stream, f"{tmp}/summary", f"{tmp}/ckpt"),
        timeout_secs=180,
    )

    got = S.latest_summary(spark, f"{tmp}/summary")
    assert got is not None, "no summary version committed"
    from spark_s3_shuffle_spark.operators.matview import (
        build_lineitem_summary,
        refresh_summary,
    )

    expected = refresh_summary(build_lineitem_summary(li.limit(0)), li)
    key = lambda r: (str(r[0]), str(r[1]), str(r[2]))
    assert sorted(map(tuple, got.collect()), key=key) == sorted(
        map(tuple, expected.collect()), key=key
    )
    # multiple micro-batches actually happened (maxFilesPerTrigger=1 over
    # 5 files), each leaving an immutable version
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.Path(f"{tmp}/summary").getFileSystem(
        spark.sparkContext._jsc.sc().hadoopConfiguration()
    )
    versions = [
        st.getPath().getName()
        for st in fs.listStatus(jvm.org.apache.hadoop.fs.Path(f"{tmp}/summary"))
        if st.getPath().getName().startswith("v")
    ]
    assert len(versions) >= 2, versions


def test_funnel_tws_matches_batch_stage_windows(spark, sf_dir):
    """Streaming funnel on transformWithState: watermark-bounded event
    buffering makes the fold exact under out-of-order arrival, and the
    final timer flush must reproduce the batch q144 stage windows
    (first view -> first click after it -> first purchase after that)
    per user, exactly."""
    pytest.importorskip("pyspark.sql.streaming.stateful_processor")
    pytest.importorskip("google.protobuf.descriptor")
    import glob
    import os
    import shutil
    import tempfile
    import time as _time

    from spark_s3_shuffle_spark.streaming import ops as S
    from spark_s3_shuffle_spark.streaming import stateful as ST

    tmp = tempfile.mkdtemp(prefix="tws-funnel-")
    ev = load_table(spark, sf_dir, "events").drop("event_ts")
    ev = ev.filter(F.col("event_type").isin("view", "click", "purchase"))
    ev.repartitionByRange(4, F.col("ts")).write.mode("overwrite").parquet(
        f"{tmp}/stage"
    )
    os.makedirs(f"{tmp}/in")
    now = _time.time()
    for i, f in enumerate(sorted(glob.glob(f"{tmp}/stage/part-*.parquet"))):
        dst = f"{tmp}/in/{os.path.basename(f)}"
        shutil.copy(f, dst)
        os.utime(dst, (now + i * 10, now + i * 10))
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    stream = S.read_events_stream(spark, f"{tmp}/in", max_files_per_trigger=1).withWatermark(
        "event_ts", "1 minute"
    )
    fun = ST.funnel_tws(stream)
    q = (
        fun.writeStream.format("memory")
        .queryName("tws_funnel")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    if q.isActive:
        q.stop()
    got = {
        r["user_id"]: (r["v_us"], r["c_us"], r["p_us"])
        for r in spark.table("tws_funnel").collect()
    }

    w = Window.partitionBy("user_id")
    us = (F.col("ts").cast("timestamp").cast("double") * 1_000_000).cast("long")
    staged = (
        ev.select("user_id", "event_type", us.alias("us"))
        .withColumn("v", F.min(F.when(F.col("event_type") == "view", F.col("us"))).over(w))
        .withColumn(
            "c",
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("us") > F.col("v")),
                    F.col("us"),
                )
            ).over(w),
        )
        .withColumn(
            "p",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("us") > F.col("c")),
                    F.col("us"),
                )
            ).over(w),
        )
    )
    want = {
        r["user_id"]: (r["v"], r["c"], r["p"])
        for r in staged.filter(F.col("v").isNotNull())
        .select("user_id", "v", "c", "p")
        .distinct()
        .collect()
    }
    assert got, "funnel emitted nothing"
    # every EMITTED funnel must match the batch stage windows exactly;
    # users may only be withheld when their final timer could not fire —
    # i.e. their last event sits inside the final watermark tail
    # (timer at last_event+1ms fires only once watermark = max_ts - delay
    # passes it)
    for u, v in got.items():
        assert want[u] == v, (u, v, want[u])
    missing = set(want) - set(got)
    if missing:
        max_us = ev.agg(
            F.max((F.col("ts").cast("timestamp").cast("double") * 1_000_000).cast("long"))
        ).first()[0]
        last_by_user = {
            r["user_id"]: r["m"]
            for r in ev.groupBy("user_id")
            .agg(F.max((F.col("ts").cast("timestamp").cast("double") * 1_000_000).cast("long")).alias("m"))
            .collect()
        }
        for u in missing:
            assert last_by_user[u] >= max_us - 61_000_000, (u, last_by_user[u], max_us)


def test_stream_stream_outer_interval_join_matches_batch(spark, sf_dir, events_drop_dir):
    """LEFT OUTER watermarked interval join: matched rows must equal the
    batch join's matches, and null-matched (dropped-off) views must be a
    subset of the batch left-anti set — outer emission only happens once
    the watermark proves no match can arrive, so tail views may be
    withheld but never wrongly null-matched."""
    src = f"{events_drop_dir}/in"
    views = S.read_events_stream(spark, src).filter(F.col("event_type") == "view")
    clicks = S.read_events_stream(spark, src).filter(F.col("event_type") == "click")
    joined = S.stream_stream_interval_join_outer(views, clicks).select(
        F.col("l.event_id").alias("view_id"),
        F.col("r.event_id").alias("click_id"),
    )
    out = f"{events_drop_dir}/out_ssjo"
    ckpt = f"{events_drop_dir}/ckpt_ssjo"
    S.run_stream_to_completion(S.parquet_sink(joined, out, ckpt), timeout_secs=180)
    got = [(r["view_id"], r["click_id"]) for r in spark.read.parquet(out).collect()]
    got_matched = {p for p in got if p[1] is not None}
    got_unmatched = {p[0] for p in got if p[1] is None}

    ev = load_table(spark, sf_dir, "events")
    bviews = ev.filter(F.col("event_type") == "view").alias("l")
    bclicks = ev.filter(F.col("event_type") == "click").alias("r")
    cond = (
        (F.col("l.user_id") == F.col("r.user_id"))
        & (F.col("r.event_ts") >= F.col("l.event_ts"))
        & (F.col("r.event_ts") <= F.col("l.event_ts") + F.expr("INTERVAL 10 minutes"))
    )
    batch = bviews.join(bclicks, cond, "left_outer").select(
        F.col("l.event_id").alias("view_id"),
        F.col("r.event_id").alias("click_id"),
    )
    want_matched = {
        (r["view_id"], r["click_id"])
        for r in batch.filter(F.col("click_id").isNotNull()).collect()
    }
    want_unmatched = {
        r["view_id"] for r in batch.filter(F.col("click_id").isNull()).collect()
    }
    assert got_matched, "no matches emitted"
    assert got_matched <= want_matched
    assert got_unmatched, "no null-matched drop-offs emitted"
    # never wrongly null-matched: every streamed drop-off is a true one
    assert got_unmatched <= want_unmatched, got_unmatched - want_unmatched


def test_streamed_export_compacts_to_batch_layout(spark, sf_dir, events_drop_dir):
    """End-to-end export chain: stream events through export_shards_sink
    (one file per shard per micro-batch), then compact — the result must
    be byte-identical (content AND in-file order) to a one-shot batch
    export of the same rows, and the integrity manifest must verify."""
    import tempfile

    from spark_s3_shuffle_spark.operators import maintenance as MT
    from spark_s3_shuffle_spark.operators.pipeline import write_training_shards

    tmp = tempfile.mkdtemp(prefix="stream-export-compact-")
    stream = S.read_events_stream(spark, f"{events_drop_dir}/in", max_files_per_trigger=2)
    S.run_stream_to_completion(
        S.export_shards_sink(
            stream.select("event_id", "user_id", "event_type"),
            f"{tmp}/t",
            f"{tmp}/ckpt",
            id_col="event_id",
            n_shards=4,
        ),
        timeout_secs=180,
    )
    before = MT.list_shard_files(spark, f"{tmp}/t")
    assert before and any(n >= 2 for n in before.values()), before
    after = MT.compact_shards(spark, f"{tmp}/t", "event_id")
    assert all(n == 1 for n in after.values()), after

    batch = tempfile.mkdtemp(prefix="batch-export-") + "/t"
    rows = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    write_training_shards(rows, batch, "event_id", 4)
    for shard in sorted(after):
        got = [
            tuple(r)
            for r in spark.read.parquet(f"{tmp}/t/{shard}")
            .select("event_id", "user_id", "event_type")
            .collect()
        ]
        want = [
            tuple(r)
            for r in spark.read.parquet(f"{batch}/{shard}")
            .select("event_id", "user_id", "event_type")
            .collect()
        ]
        assert got == want, shard
    MT.export_integrity_manifest(spark, f"{tmp}/t")
    assert MT.verify_export_integrity(spark, f"{tmp}/t")


def test_matview_version_trail_vacuums_safely(spark, sf_dir):
    """Retention over a real streamed version trail: vacuum keeps the
    newest N versions and the latest-resolution read still equals the
    batch summary afterwards."""
    import tempfile

    from spark_s3_shuffle_spark.operators import maintenance as MT
    from spark_s3_shuffle_spark.operators.matview import (
        build_lineitem_summary,
        refresh_summary,
    )

    li = load_table(spark, sf_dir, "lineitem")
    tmp = tempfile.mkdtemp(prefix="matview-vacuum-")
    li.repartition(6).write.mode("overwrite").parquet(f"{tmp}/in")
    stream = (
        spark.readStream.format("parquet")
        .schema(li.schema)
        .option("maxFilesPerTrigger", 1)
        .load(f"{tmp}/in")
    )
    S.run_stream_to_completion(
        S.matview_maintenance_sink(stream, f"{tmp}/summary", f"{tmp}/ckpt"),
        timeout_secs=180,
    )
    deleted = MT.vacuum_versions(spark, f"{tmp}/summary", keep_last=2)
    assert len(deleted) >= 3, deleted
    got = S.latest_summary(spark, f"{tmp}/summary")
    expected = refresh_summary(build_lineitem_summary(li.limit(0)), li)
    key = lambda r: (str(r[0]), str(r[1]), str(r[2]))
    assert sorted(map(tuple, got.collect()), key=key) == sorted(
        map(tuple, expected.collect()), key=key
    )


def test_late_data_replay_matches_batch_oracle_with_same_cutoff(spark):
    """B40 late-data oracle (VERDICT r7 directive 8): a FIXED out-of-order
    event sequence replays through the watermarked streaming path in
    deterministic drop order (maxFilesPerTrigger=1, mtime-ordered files),
    and the final sink table equals a batch/DuckDB oracle that applies
    the SAME watermark cutoffs analytically.

    Watermark lag, measured and designed around: Spark applies the
    late-input filter with the PREVIOUS micro-batch's watermark (the
    watermark is a lower-bound guarantee — within-horizon data MUST be
    kept, beyond-horizon data MAY survive one extra batch), so the
    planted too-late rows arrive TWO drops after the data that advanced
    the watermark past their window, where both lag models drop them.

    The sequence (10-minute windows, 10-minute watermark delay):

    - drop 1: minutes {0,1,5,12,13,25} -> watermark 00:15 after its batch
    - drop 2: in-horizon late {17} ([10,20) still open -> KEPT) plus
      on-time {31,33} -> watermark 00:23
    - drop 3: too-late {3,9} (window [0,10) closed long before ->
      DROPPED — the sink table proves it row-exactly; the state
      operator's numRowsDroppedByWatermark shows 1 because map-side
      partial aggregation folds both into one row first) plus a flush
      event at minute 500 that pushes the final watermark to 08:10 so
      every window of interest emits in append mode (its own window
      stays open and is withheld).

    Expected final table: [0,10)->3, [10,20)->3, [20,30)->1, [30,40)->2 —
    checked three ways: streaming sink, a batch computation applying the
    cutoffs, and DuckDB over the same drop parquet files.
    """
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pd.Timestamp("2024-01-01 00:00:00")
    drops = {
        "d1": [0, 1, 5, 12, 13, 25],
        "d2": [17, 31, 33],
        "d3": [3, 9, 500],
    }
    tmp = tempfile.mkdtemp(prefix="late-replay-")
    indir = f"{tmp}/in"
    os.makedirs(indir)
    schema = pa.schema([
        ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()), ("event_type", pa.string()),
        ("value", pa.float64()), ("props", pa.string()),
    ])
    eid = 0
    for i, (name, minutes) in enumerate(sorted(drops.items())):
        rows = []
        for m in minutes:
            rows.append(
                {"event_id": eid, "ts": base + pd.Timedelta(minutes=m),
                 "user_id": eid % 7, "event_type": "e", "value": 1.0,
                 "props": "{}"}
            )
            eid += 1
        pdf = pd.DataFrame(rows)
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        path = f"{indir}/{name}.parquet"
        pq.write_table(pa.Table.from_pandas(pdf, schema=schema), path)
        os.utime(path, (1_700_000_000 + i * 100, 1_700_000_000 + i * 100))

    out, ckpt = f"{tmp}/out", f"{tmp}/ckpt"
    stream = S.read_events_stream(spark, indir, max_files_per_trigger=1)
    agg = S.tumbling_counts(stream.withWatermark("event_ts", "10 minutes"), "10 minutes")
    q = S.parquet_sink(agg, out, ckpt).start()
    q.awaitTermination(120)
    if q.isActive:
        q.stop()
    dropped = sum(
        so.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for so in p["stateOperators"]
    )
    # the two planted rows share window [0,10) and partial-aggregate
    # map-side into ONE row before the stateful operator counts its drop
    # (measured: counter=1); the sink equality below is the row-exact
    # evidence that BOTH were excluded
    assert dropped >= 1, dropped

    got = {
        (r["w"]["start"].minute + 60 * r["w"]["start"].hour): r["c"]
        for r in spark.read.parquet(out).collect()
    }
    assert got == {0: 3, 10: 3, 20: 1, 30: 2}, got

    # batch oracle with the same cutoffs: rows in drop 3 are filtered
    # against the watermark visible when it processes (max of the prior
    # drops minus the delay); the final watermark bounds emission
    wm2 = max(drops["d1"] + drops["d2"]) - 10
    wm_final = max(drops["d3"]) - 10
    survivors = (
        drops["d1"] + drops["d2"]
        + [m for m in drops["d3"] if (m // 10) * 10 + 10 > wm2]
    )
    from collections import Counter

    expected = {
        w: c
        for w, c in Counter((m // 10) * 10 for m in survivors).items()
        if w + 10 <= wm_final
    }
    assert got == expected

    # DuckDB oracle over the same drop files, same cutoff arithmetic
    import duckdb

    con = duckdb.connect()
    q = f"""
    WITH d12 AS (SELECT ts FROM '{indir}/d1.parquet'
                 UNION ALL SELECT ts FROM '{indir}/d2.parquet'),
         d3 AS (SELECT ts FROM '{indir}/d3.parquet'),
         wm2 AS (SELECT MAX(ts) - INTERVAL 10 MINUTE AS w FROM d12),
         wmf AS (SELECT MAX(ts) - INTERVAL 10 MINUTE AS w FROM d3),
         surv AS (
           SELECT ts FROM d12
           UNION ALL
           SELECT ts FROM d3
           WHERE time_bucket(INTERVAL 10 MINUTE, ts) + INTERVAL 10 MINUTE
                 > (SELECT w FROM wm2))
    SELECT time_bucket(INTERVAL 10 MINUTE, ts) AS wstart, COUNT(*) AS c
    FROM surv
    WHERE time_bucket(INTERVAL 10 MINUTE, ts) + INTERVAL 10 MINUTE
          <= (SELECT w FROM wmf)
    GROUP BY 1
    """
    duck = {
        r[0].minute + 60 * r[0].hour: int(r[1])
        for r in con.execute(q).fetchall()
    }
    assert duck == expected, duck
