"""Training-pipeline tier II tests: repetition signals, PII redaction,
deterministic hash sampling, TF-IDF, inverted index, semantic dedup.
Registry oracles (q75-q81) check end-to-end values against DuckDB; these
pin the operator-level edge cases the fixtures can't reach (short docs,
retry-stability, cell-boundary recall)."""

import os
import sys

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spark_s3_shuffle_spark.operators import dedup as D
from spark_s3_shuffle_spark.operators import pipeline as PL
from spark_s3_shuffle_spark.sources.catalog import load_table


def test_repetition_signals_known_values(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b a b a b"),        # "a b" x3 of 5 bigrams
            Row(doc_id=2, text="x y z w"),            # all distinct
            Row(doc_id=3, text="solo"),               # 1 token, 0 bigrams
            Row(doc_id=4, text="t t t t"),            # fully repeated
        ]
    )
    rows = {r["doc_id"]: r for r in PL.repetition_signals(df).collect()}
    assert rows[1]["top_bigram_frac"] == pytest.approx(0.6)  # 3/5
    assert rows[1]["dup_word_frac"] == pytest.approx(1 - 2 / 6, abs=1e-4)
    assert rows[2]["dup_word_frac"] == 0.0 and rows[2]["rep_ok"]
    assert rows[3]["top_bigram_frac"] == 0.0  # no bigrams, no div-by-zero
    assert rows[4]["top_bigram_frac"] == 1.0 and not rows[4]["rep_ok"]


def test_pii_redact_counts_and_text(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="mail me at bob.smith@corp.io or alice@web.net ok"),
            Row(doc_id=2, text="digits 555-1234 and 123-4567 stay"),
            Row(doc_id=3, text="nothing to hide"),
        ]
    )
    rows = {r["doc_id"]: r for r in PL.pii_redact(df).collect()}
    assert rows[1]["n_emails"] == 2 and "<EMAIL>" in rows[1]["clean_text"]
    assert "@" not in rows[1]["clean_text"]
    assert rows[2]["n_phones"] == 2 and rows[2]["clean_text"].count("<PHONE>") == 2
    assert rows[3]["n_emails"] == 0 and rows[3]["clean_text"] == "nothing to hide"


def test_hash_sample_deterministic_and_partition_invariant(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    kept1 = sorted(r["k"] for r in PL.hash_sample(df, "k", 10).collect())
    kept2 = sorted(r["k"] for r in PL.hash_sample(df.repartition(13), "k", 10).collect())
    assert kept1 == kept2  # selection depends on content, not partitioning
    assert 100 < len(kept1) < 320  # ~10% of 2000
    # different salt => different (still deterministic) subset
    kept3 = sorted(r["k"] for r in PL.hash_sample(df, "k", 10, salt="other").collect())
    assert kept3 != kept1
    with pytest.raises(ValueError):
        PL.hash_sample(df, "k", 101)


def test_tfidf_rare_term_outranks_common(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="common common rare common"),
            Row(doc_id=2, text="common common common"),
            Row(doc_id=3, text="common other other"),
        ]
    )
    top = {r["doc_id"]: r["term"] for r in PL.tfidf_top_terms(df, k=1).collect()}
    assert top[1] == "rare" and top[3] == "other"  # df=1 beats tf=3 of df=3 term


def test_inverted_index_cap_keeps_df_exact(spark):
    rows = [Row(doc_id=i, text="stop word" if i < 15 else "stop") for i in range(20)]
    out = {
        r["term"]: r
        for r in PL.inverted_index(
            spark.createDataFrame(rows), max_postings=5, min_df=1
        ).collect()
    }
    assert out["stop"]["df"] == 20  # df from the FULL pair set
    assert out["stop"]["postings_csv"] == "0,1,2,3,4"  # capped, ascending
    assert out["word"]["df"] == 15


def test_semantic_dedup_finds_boundary_twins(spark):
    # clustered corpus + twins; probes=2 must recover every planted pair
    # even when a twin straddles a k-means cell boundary.
    import numpy as np

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(4, 16))
    vecs = [
        Row(vec_id=i, embedding=[float(x) for x in centers[i % 4] + 0.05 * rng.normal(size=16)])
        for i in range(200)
    ]
    df = spark.createDataFrame(vecs)
    twins = df.filter(F.col("vec_id") < 6).select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform("embedding", lambda x, i: x + 0.0001 * (i % 3)).alias("embedding"),
    )
    corpus = df.unionByName(twins)
    pairs = D.semantic_dedup_pairs(
        corpus, "vec_id", "embedding", threshold=0.999, num_cells=4, probes=2
    ).collect()
    found = {(r["a"], r["b"]) for r in pairs}
    assert {(i, i + 1000) for i in range(6)} <= found
    # no duplicate (a, b) rows despite overlapping probe cells
    assert len(found) == len(pairs)


def test_auto_cell_sizing_scales_with_corpus():
    """Round-7 sf10 finding: fixed cell counts go quadratic (SemDeDup) or
    linear-per-probe (IVF) as N grows. The auto sizers must grow with N and
    floor at the historical small-corpus defaults."""
    from spark_s3_shuffle_spark.operators.similarity import (
        auto_dedup_cells,
        auto_ivf_cells,
    )

    # floors preserve the oracle-scale behavior (sf0.01/sf0.1 unchanged)
    assert auto_dedup_cells(500) == 16 and auto_dedup_cells(2000) == 16
    assert auto_ivf_cells(50) == 8
    # growth: fixed average membership (SemDeDup) and ~sqrt(N) (IVF)
    assert auto_dedup_cells(200_000) == 200_000 // 256
    assert auto_ivf_cells(200_000) == 447
    assert auto_dedup_cells(2_000_000) == 2_000_000 // 256


def test_semantic_dedup_auto_cells_keeps_planted_twins(spark):
    """num_cells=None (auto) on a corpus big enough to leave the floor:
    planted twins must still co-cluster and be found — granularity growth
    must not cost recall on near-identical pairs."""
    vecs = [
        Row(
            vec_id=i,
            embedding=[
                ((i * 2654435761 + d * 40503 + i * d * 97) % 2003) / 1001.5 - 1.0
                for d in range(8)
            ],
        )
        for i in range(6000)
    ]
    df = spark.createDataFrame(vecs)
    twins = df.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 100_000).alias("vec_id"),
        F.transform("embedding", lambda x, i: x + 0.0001 * (i % 3)).alias("embedding"),
    )
    corpus = df.unionByName(twins)
    pairs = D.semantic_dedup_pairs(
        corpus, "vec_id", "embedding", threshold=0.9999, num_cells=None, probes=2
    ).collect()
    found = {(r["a"], r["b"]) for r in pairs}
    assert {(i, i + 100_000) for i in range(5)} <= found


def test_minhash_star_edges_collapse_megabucket(spark):
    """Buckets over dense_bucket_limit emit star edges to the bucket min
    PLUS chain edges between signature-sorted neighbors (round 8 —
    <= 2(B-1) per bucket, still never B^2/2): 200 identical docs saturate
    one bucket per band, candidates are exactly the 199 star pairs (0, i)
    union the 199 consecutive chain pairs (i, i+1) (identical signatures
    sort by id) after the cross-band distinct, and dedup keeps doc 0."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame([Row(doc_id=i, text=base) for i in range(200)])
    cand = D.minhash_lsh_candidates(df, "doc_id", "text")
    rows = cand.collect()
    stars = {(0, i) for i in range(1, 200)}
    chains = {(i, i + 1) for i in range(199)}
    assert {(r["a"], r["b"]) for r in rows} == stars | chains
    assert len(rows) == len(stars | chains)  # O(B) edges, not O(B^2)
    surv = D.minhash_dedup(df, "doc_id", "text")
    assert [r["doc_id"] for r in surv.collect()] == [0]


def test_semantic_dedup_cell_cap_drops_megacell(spark):
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[1.0, 0.0, 0.0, 0.0]) for i in range(50)]
    )
    out = D.semantic_dedup_pairs(
        df, "vec_id", "embedding", threshold=0.99, num_cells=2, max_cell_size=10
    )
    assert out.count() == 0  # every cell over the cap is dropped, no O(n^2)


# -- tier III: duplicated spans / per-group sample / quality ensemble ------

def test_duplicated_spans_finds_planted_overlap(spark):
    shared = " ".join(f"w{i}" for i in range(8))          # one 8-token span
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=shared + " unique tail one two three"),
            Row(doc_id=2, text="other head four five " + shared),
            Row(doc_id=3, text="completely different words " + " ".join(f"x{i}" for i in range(10))),
        ]
    )
    out = {r["doc_id"]: r for r in PL.duplicated_spans(docs, "doc_id", "text").collect()}
    assert set(out) == {1, 2}                              # doc 3 has no dup span
    for r in out.values():
        assert r["n_dup_spans"] >= 1
        assert 0 < r["dup_frac"] <= 1


def test_duplicated_spans_portable_key_agrees_with_xxhash(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=i, text="alpha beta gamma delta epsilon zeta eta theta iota") for i in (1, 2)]
        + [Row(doc_id=3, text="nothing shared here at all in this tiny doc")]
    )
    fast = PL.duplicated_spans(docs, "doc_id", "text").collect()
    portable = PL.duplicated_spans(
        docs, "doc_id", "text", key_fn=PL.span_key_portable
    ).collect()
    assert sorted(map(tuple, fast)) == sorted(map(tuple, portable))


def test_per_group_sample_deterministic_and_capped(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    a = PL.per_group_sample(d, "lang", "doc_id", k=3, salt="s").select("lang", "doc_id")
    b = PL.per_group_sample(d, "lang", "doc_id", k=3, salt="s").select("lang", "doc_id")
    ra, rb = set(map(tuple, a.collect())), set(map(tuple, b.collect()))
    assert ra == rb                                        # retry-stable
    per_group = a.groupBy("lang").count().collect()
    assert all(r["count"] <= 3 for r in per_group)
    # different salt -> (almost surely) different sample
    c = set(
        map(tuple, PL.per_group_sample(d, "lang", "doc_id", k=3, salt="t")
            .select("lang", "doc_id").collect())
    )
    assert c != ra


def test_per_group_sample_plans_window_group_limit(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    plan = PL.per_group_sample(d, "lang", "doc_id", k=3)._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_quality_ensemble_score_bounds(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    scored = PL.quality_ensemble(d).select("q_score").distinct().collect()
    vals = {r["q_score"] for r in scored}
    assert vals <= {0.0, 0.2, 0.4, 0.6, 0.8, 1.0}


def test_shard_assign_deterministic_partition_and_balance(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    out = PL.shard_assign(df, "doc_id", n_shards=8)
    counts = {r["shard"]: r["n"] for r in out.groupBy("shard").agg(F.count("*").alias("n")).collect()}
    # every shard id in range, all rows assigned exactly once (a partition)
    assert set(counts) <= set(range(8))
    assert sum(counts.values()) == 2000
    # binomial balance: each shard within 4 sigma of n/8
    import math
    mu, sigma = 2000 / 8, math.sqrt(2000 * (1 / 8) * (7 / 8))
    assert all(abs(c - mu) < 4 * sigma for c in counts.values())
    # content-addressed: identical under repartitioning and reruns
    again = PL.shard_assign(df.repartition(13), "doc_id", n_shards=8)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))
    with pytest.raises(ValueError):
        PL.shard_assign(df, "doc_id", n_shards=0)


def test_mixture_sample_quotas_and_determinism(spark):
    rows = [Row(doc_id=i, source=f"s{i % 4}") for i in range(4000)]
    df = spark.createDataFrame(rows)
    weights = {"s0": 0.5, "s1": 0.25, "s2": 0.25}  # s3 weight 0 -> dropped
    out = PL.mixture_sample(df, "source", weights, "doc_id", total=1000)
    got = {r["source"]: r["n"] for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert "s3" not in got
    # binomial tolerance: quota w*total with sigma sqrt(n*p*(1-p)) <= 16
    assert abs(got["s0"] - 500) < 80
    assert abs(got["s1"] - 250) < 70
    assert abs(got["s2"] - 250) < 70
    # schema untouched (helper columns dropped)
    assert set(out.columns) == {"doc_id", "source"}
    # rate capped at 1.0: a tiny source is kept whole, never oversampled
    out2 = PL.mixture_sample(df.filter("source = 's0'"), "source", {"s0": 1.0}, "doc_id", total=10**6)
    assert out2.count() == 1000
    # deterministic across reruns / partitioning
    again = PL.mixture_sample(df.repartition(7), "source", weights, "doc_id", total=1000)
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(r["doc_id"] for r in again.collect())
    with pytest.raises(ValueError):
        PL.mixture_sample(df, "source", weights, "doc_id")  # neither budget
    with pytest.raises(ValueError):
        PL.mixture_sample(df, "source", weights, "doc_id", total=10, total_frac=0.1)
    with pytest.raises(ValueError):
        PL.mixture_sample(df, "source", {"s0": -1.0}, "doc_id", total=10)


def test_mixture_sample_total_frac_tracks_corpus_size(spark):
    rows = [Row(doc_id=i, source=f"s{i % 2}") for i in range(1000)]
    df = spark.createDataFrame(rows)
    out = PL.mixture_sample(df, "source", {"s0": 1.0}, "doc_id", total_frac=0.2)
    # quota = 1.0 * 0.2 * 1000 = 200 from s0's 500 rows (rate 0.4)
    n = out.count()
    assert abs(n - 200) < 60
    assert {r["source"] for r in out.select("source").distinct().collect()} == {"s0"}


def test_write_training_shards_layout_and_order(spark, tmp_path):
    df = spark.range(0, 500).withColumnRenamed("id", "doc_id").withColumn(
        "payload", F.concat(F.lit("doc-"), F.col("doc_id"))
    )
    out = str(tmp_path / "shards")
    PL.write_training_shards(df, out, "doc_id", n_shards=4)
    # directory layout: one shard=N dir per shard, each with exactly one file
    import glob
    dirs = sorted(glob.glob(f"{out}/shard=*"))
    assert [d.rsplit("=", 1)[1] for d in dirs] == ["0", "1", "2", "3"]
    for d in dirs:
        assert len(glob.glob(f"{d}/*.parquet")) == 1
    # read-back: all rows present, shard column matches shard_assign
    back = spark.read.parquet(out)
    assigned = PL.shard_assign(df, "doc_id", 4)
    assert sorted(map(tuple, back.select("doc_id", "payload", "shard").collect())) == \
        sorted(map(tuple, assigned.select("doc_id", "payload", "shard").collect()))
    # in-file order is the content-hash order (byte-stable export):
    # re-reading a single shard file preserves parquet row order
    import pyarrow.parquet as pq
    for d in dirs:
        f = glob.glob(f"{d}/*.parquet")[0]
        ids = pq.read_table(f, columns=["doc_id"]).column("doc_id").to_pylist()
        import hashlib
        expect = sorted(ids, key=lambda i: (hashlib.md5(f"shard{i}".encode()).hexdigest(), i))
        assert ids == expect


def test_shard_assign_avoids_global_sort_bottleneck(spark):
    """The export-tier scale claim, measured: a 'global shuffle' export via
    row_number() over a hash ordering funnels the WHOLE corpus through one
    task (the unpartitioned window's single-partition exchange), while
    shard_assign + repartition(shard) spreads the same rows across all
    shard tasks. Asserted from task-level shuffleRead metrics, same
    machinery as the skew straggler test."""
    import uuid

    from pyspark.sql import Window
    from tests.test_operators import _task_shuffle_reads

    sc = spark.sparkContext
    n = 400_000
    tag = uuid.uuid4().hex[:8]
    confs = {"spark.sql.adaptive.coalescePartitions.enabled": "false"}
    old = {k: spark.conf.get(k, None) for k in confs}
    df = spark.range(n).withColumnRenamed("id", "doc_id").persist()
    order = F.md5(F.concat(F.lit("shard"), F.col("doc_id").cast("string")))
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df.count()
        sc.setJobGroup(f"global-{tag}", "row_number global order export")
        df.withColumn("rn", F.row_number().over(Window.orderBy(order))).filter(
            "rn % 1000 = 0"
        ).count()
        sc.setJobGroup(f"sharded-{tag}", "hash-mod shard export")
        # plain count after the exchange: every row crosses the shuffle
        # (a filter here would be pushed BELOW the exchange by Catalyst
        # and make the comparison vacuous)
        PL.shard_assign(df, "doc_id", 16).repartition(16, F.col("shard")).count()
        sc.setJobGroup(f"done-{tag}", "")
        global_max = max(_task_shuffle_reads(spark, f"global-{tag}"))
        sharded_max = max(_task_shuffle_reads(spark, f"sharded-{tag}"))
        # the global-order window drags every row through ONE task
        assert global_max >= n, global_max
        # hash-mod sharding spreads the corpus: worst task holds a small
        # multiple of n/16 (repartition hashes the 16 shard KEYS into 16
        # partitions, so balls-in-bins collisions can double a task's
        # share — still ~1/4 of the global-window straggler at worst)
        assert sharded_max * 4 <= global_max, (global_max, sharded_max)
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        sc.setJobGroup("", "")
        df.unpersist()


def test_compact_shards_converges_to_batch_layout(spark):
    """Maintenance tier: appended shard history (multiple part files per
    shard) compacts to ONE canonical file per shard whose content AND
    in-file order equal a one-shot batch export — so streamed appends plus
    compaction == batch write, and re-compaction is a no-op."""
    import tempfile

    from spark_s3_shuffle_spark.operators import maintenance as MT
    from spark_s3_shuffle_spark.operators.pipeline import shard_assign, write_training_shards

    df = spark.range(0, 5000).select(
        F.col("id").alias("doc_id"), (F.col("id") * 7 % 97).alias("payload")
    )
    appended = tempfile.mkdtemp(prefix="compact-") + "/t"
    order = F.md5(F.concat(F.lit("shard"), F.col("doc_id").cast("string")))
    for part in (F.col("doc_id") % 2 == 0, F.col("doc_id") % 2 == 1):
        sharded = shard_assign(df.filter(part), "doc_id", 4)
        (
            sharded.repartition(4, F.col("shard"))
            .sortWithinPartitions(F.col("shard"), order, F.col("doc_id"))
            .write.mode("append")
            .partitionBy("shard")
            .parquet(appended)
        )
    before = MT.list_shard_files(spark, appended)
    assert before and all(n >= 2 for n in before.values()), before

    after = MT.compact_shards(spark, appended, "doc_id")
    assert set(after) == set(before) and all(n == 1 for n in after.values()), after

    batch = tempfile.mkdtemp(prefix="compact-batch-") + "/t"
    write_training_shards(df, batch, "doc_id", 4)
    for shard in sorted(after):
        got = spark.read.parquet(f"{appended}/{shard}").select("doc_id", "payload").collect()
        want = spark.read.parquet(f"{batch}/{shard}").select("doc_id", "payload").collect()
        assert [tuple(r) for r in got] == [tuple(r) for r in want], shard

    again = MT.compact_shards(spark, appended, "doc_id")
    assert all(n == 1 for n in again.values())
    for shard in sorted(after):
        got = spark.read.parquet(f"{appended}/{shard}").select("doc_id", "payload").collect()
        want = spark.read.parquet(f"{batch}/{shard}").select("doc_id", "payload").collect()
        assert [tuple(r) for r in got] == [tuple(r) for r in want], shard


def test_vacuum_versions_retention(spark):
    """Version retention keeps the newest N summary versions and the
    latest-resolution contract intact."""
    import tempfile

    from spark_s3_shuffle_spark.operators import maintenance as MT
    from spark_s3_shuffle_spark.streaming.ops import latest_summary

    root = tempfile.mkdtemp(prefix="vacuum-") + "/summary"
    for i in range(5):
        spark.range(i, i + 3).write.mode("overwrite").parquet(f"{root}/v{i:010d}")
    deleted = MT.vacuum_versions(spark, root, keep_last=2)
    assert deleted == [f"v{i:010d}" for i in range(3)], deleted
    latest = latest_summary(spark, root)
    assert sorted(r["id"] for r in latest.collect()) == [4, 5, 6]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        MT.vacuum_versions(spark, root, keep_last=0)
    # keep_last=1 is rejected too: the newest version may be an
    # uncommitted crashed-micro-batch write, and replay needs one older
    # committed version to rebuild from.
    with _pytest.raises(ValueError):
        MT.vacuum_versions(spark, root, keep_last=1)


def test_compact_shards_crash_recovery(spark):
    """Every crash state of the compaction swap keeps the table whole:
    (a) crash after the shard was renamed aside but before the compacted
    copy renamed in — recovery restores the aside copy; (b) crash after
    rename-in but before the aside copy was deleted — recovery drops the
    stale copy; (c) leftover .compact tree alone — recovery discards it.
    In all three, a rerun of compact_shards converges to the canonical
    one-file-per-shard layout with zero row loss."""
    import tempfile

    from spark_s3_shuffle_spark.operators import maintenance as MT
    from spark_s3_shuffle_spark.operators.pipeline import shard_assign

    df = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"), (F.col("id") * 3 % 53).alias("payload")
    )
    root = tempfile.mkdtemp(prefix="crash-compact-") + "/t"
    sharded = shard_assign(df, "doc_id", 4)
    sharded.write.mode("overwrite").partitionBy("shard").parquet(root)
    total = spark.read.parquet(root).count()

    fs, hroot, jvm = MT._fs(spark, root)
    P = jvm.org.apache.hadoop.fs.Path

    # (a) mid-swap: shard=0 renamed aside, compacted copy still in .compact
    fs.mkdirs(P(f"{root}/.compact"))
    fs.rename(P(f"{root}/shard=0"), P(f"{root}/.old-shard=0"))
    assert spark.read.parquet(root).count() < total  # table visibly torn
    actions = MT.recover_compaction(spark, root)
    assert actions == {"shard=0": "restored"}, actions
    assert spark.read.parquet(root).count() == total
    assert not fs.exists(P(f"{root}/.compact"))

    # (b) post-rename-in: visible shard present AND a stale .old- copy
    fs.mkdirs(P(f"{root}/.old-shard=1"))
    actions = MT.recover_compaction(spark, root)
    assert actions == {"shard=1": "dropped_old"}, actions
    assert not fs.exists(P(f"{root}/.old-shard=1"))
    assert spark.read.parquet(root).count() == total

    # (c) a leftover .compact tree alone is discarded, and compact_shards
    # itself runs recovery at entry before rescanning the table
    fs.mkdirs(P(f"{root}/.compact"))
    fs.rename(P(f"{root}/shard=2"), P(f"{root}/.old-shard=2"))
    after = MT.compact_shards(spark, root, "doc_id")
    assert all(n == 1 for n in after.values()), after
    assert spark.read.parquet(root).count() == total


def test_export_integrity_manifest_roundtrip_and_tamper(spark):
    """Export integrity: per-shard checksums verify a full export AND a
    single downloaded shard; losing a file inside one shard fails exactly
    that shard's verification."""
    import glob
    import os as _os
    import tempfile

    from spark_s3_shuffle_spark.operators import maintenance as MT
    from spark_s3_shuffle_spark.operators.pipeline import write_training_shards

    df = spark.range(0, 4000).select(
        F.col("id").alias("doc_id"), (F.col("id") * 13 % 101).alias("payload")
    )
    root = tempfile.mkdtemp(prefix="integrity-") + "/t"
    write_training_shards(df, root, "doc_id", 4)
    manifest = MT.export_integrity_manifest(spark, root)
    assert len(manifest) == 4 and sum(v["rows"] for v in manifest.values()) == 4000
    assert MT.verify_export_integrity(spark, root)
    some_shard = sorted(manifest)[0]
    assert MT.verify_export_integrity(spark, root, shard=some_shard)

    victim_dir = f"{root}/shard={some_shard}"
    victim = sorted(glob.glob(f"{victim_dir}/part-*.parquet"))[0]
    _os.remove(victim)
    assert not MT.verify_export_integrity(spark, root, shard=some_shard)
    assert not MT.verify_export_integrity(spark, root)
    # other shards still verify individually
    other = sorted(manifest)[1]
    assert MT.verify_export_integrity(spark, root, shard=other)

    # total loss: EVERY shard directory gone, only the manifest left —
    # verification reports False rather than crashing on an
    # unable-to-infer-schema read (mirrors verify_stage_checksum)
    import shutil

    for d in glob.glob(f"{root}/shard=*"):
        shutil.rmtree(d)
    assert not MT.verify_export_integrity(spark, root)


def test_pack_sequences_global_matches_window_form(spark):
    """The distributed global packing must reproduce the single-window
    pack_by_token_budget assignment (first_chunk == batch_id) exactly,
    plus span invariants: offsets are the exclusive prefix sum and chunk
    spans cover each doc's tokens."""
    from spark_s3_shuffle_spark.operators import pipeline as PL

    df = spark.range(5_000).select(
        F.col("id").alias("doc_id"),
        (F.pmod(F.xxhash64("id"), F.lit(700)) + 1).alias("toks"),
    )
    ctx = 1024
    packed = PL.pack_sequences_global(df, "toks", ctx, ["doc_id"])
    legacy = PL.pack_by_token_budget(df, "toks", ctx, ["doc_id"], out="batch_id")
    joined = packed.join(legacy, ["doc_id", "toks"])
    assert joined.filter("first_chunk != batch_id").count() == 0
    rows = packed.orderBy("doc_id").collect()
    off = 0
    for r in rows:
        assert r["start_offset"] == off
        assert r["first_chunk"] == off // ctx
        assert r["last_chunk"] == (off + r["toks"] - 1) // ctx
        off += r["toks"]


def test_temperature_mixture_allocation_exact(spark):
    """Allocations are deterministic, nonnegative, and sum EXACTLY to the
    requested budget (largest-remainder invariant); the guarded integer
    sqrt is exact at perfect-square boundaries far above 2^52 where the
    raw double floor can misround."""
    from spark_s3_shuffle_spark.operators import pipeline as PL
    from spark_s3_shuffle_spark.operators.pipeline import _exact_isqrt

    df = spark.createDataFrame(
        [(f"s{i % 7}",) for i in range(3_000)], "source string"
    )
    total = 1234
    alloc = PL.temperature_mixture_allocation(df, "source", total).collect()
    assert sum(r["alloc"] for r in alloc) == total
    assert all(r["alloc"] >= 0 for r in alloc)
    # rerun identical
    again = PL.temperature_mixture_allocation(df, "source", total).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, alloc))

    # exact isqrt at boundaries: k^2-1, k^2, k^2+1 for k near 2^31
    k = 2**31 - 5
    cases = spark.createDataFrame(
        [(k * k - 1,), (k * k,), (k * k + 1,), (0,), (1,), (2,), (3,), (4,)],
        "v long",
    )
    got = {
        r["v"]: r["s"]
        for r in cases.select("v", _exact_isqrt(F.col("v")).alias("s")).collect()
    }
    import math

    for v, s in got.items():
        assert s == math.isqrt(v), (v, s)


def test_versioned_compaction_does_not_tear_pinned_reader(spark):
    """VERDICT r7 directive 5: a reader that resolved its version (and
    file list) BEFORE compaction must read a consistent pre-compaction
    snapshot to completion, while post-compaction readers see the new
    canonical layout. The versioned table publishes with a single
    _COMMITTED marker (highest-committed-wins pointer), so compaction
    never touches the pinned version's files."""
    import tempfile

    from spark_s3_shuffle_spark.operators import maintenance as MT
    from spark_s3_shuffle_spark.operators.pipeline import shard_assign

    df = spark.range(0, 4000).select(
        F.col("id").alias("doc_id"), (F.col("id") * 11 % 89).alias("payload")
    )
    root = tempfile.mkdtemp(prefix="vcompact-") + "/t"
    order = F.md5(F.concat(F.lit("shard"), F.col("doc_id").cast("string")))

    # v0: an append history — multiple files per shard
    sharded = shard_assign(df, "doc_id", 4)
    fs, _, jvm = MT._fs(spark, root)
    for part in (F.col("doc_id") % 2 == 0, F.col("doc_id") % 2 == 1):
        (
            shard_assign(df.filter(part), "doc_id", 4)
            .repartition(4, F.col("shard"))
            .sortWithinPartitions(F.col("shard"), order, F.col("doc_id"))
            .write.mode("append")
            .partitionBy("shard")
            .parquet(f"{root}/v0")
        )
    fs.create(jvm.org.apache.hadoop.fs.Path(f"{root}/v0/_COMMITTED"), True).close()
    assert MT.current_version(spark, root) == "v0"
    assert any(n >= 2 for n in MT.list_shard_files(spark, f"{root}/v0").values())

    # reader pins v0: resolves the version AND materializes its file list
    pinned_path = f"{root}/{MT.current_version(spark, root)}"
    pinned = spark.read.parquet(pinned_path)
    pinned_files = [r[0] for r in pinned.select(F.input_file_name()).distinct().collect()]
    want = sorted(tuple(r) for r in pinned.select("doc_id", "payload").collect())

    # compaction races in: publishes v1, leaves v0 untouched
    new_v, counts = MT.compact_shards_versioned(spark, root, "doc_id")
    assert new_v == "v1" and all(n == 1 for n in counts.values()), counts
    assert MT.current_version(spark, root) == "v1"

    # the pinned reader's exact file list is still fully readable and
    # yields the consistent pre-compaction multiset
    for f in pinned_files:
        assert fs.exists(jvm.org.apache.hadoop.fs.Path(f)), f
    got = sorted(tuple(r) for r in pinned.select("doc_id", "payload").collect())
    assert got == want

    # a post-compaction reader resolves v1 and sees identical content in
    # the canonical single-file-per-shard layout
    fresh = spark.read.parquet(f"{root}/{MT.current_version(spark, root)}")
    assert sorted(tuple(r) for r in fresh.select("doc_id", "payload").collect()) == want

    # retention: keep_last=2 keeps the pinned version alive; a third
    # publish then lets vacuum reclaim v0 once readers are done
    assert MT.vacuum_versions(spark, root, keep_last=2) == []
    v2, _ = MT.compact_shards_versioned(spark, root, "doc_id")
    assert MT.vacuum_versions(spark, root, keep_last=2) == ["v0"]
    assert MT.current_version(spark, root) == "v2"


def test_versioned_commit_marker_is_the_publish(spark):
    """A version directory without _COMMITTED is invisible (crash
    mid-write), and a later committed version wins the pointer."""
    import tempfile

    from spark_s3_shuffle_spark.operators import maintenance as MT
    from spark_s3_shuffle_spark.operators.pipeline import shard_assign

    df = spark.range(0, 100).select(
        F.col("id").alias("doc_id"), F.col("id").alias("payload")
    )
    root = tempfile.mkdtemp(prefix="vmarker-") + "/t"
    v0 = MT.write_version(spark, shard_assign(df, "doc_id", 2), root)
    assert v0 == "v0" and MT.current_version(spark, root) == "v0"

    # crash mid-write: v1 data lands, marker never does
    shard_assign(df, "doc_id", 2).write.mode("overwrite").partitionBy(
        "shard"
    ).parquet(f"{root}/v1")
    assert MT.current_version(spark, root) == "v0"
    assert MT.committed_versions(spark, root) == ["v0"]

    # the next publish skips past the torn directory and wins
    v2 = MT.write_version(spark, shard_assign(df, "doc_id", 2), root)
    assert v2 == "v1" or v2 == "v2"  # next number after the last COMMITTED
    assert MT.current_version(spark, root) == v2


def test_write_version_claims_are_exclusive_and_swept(spark):
    """Racing-publisher safety (ADVICE r8): version numbers are claimed by
    an atomic exclusive create, orphan claims from crashed publishers are
    skipped (never reused), committed claims are retained so a stale racer
    cannot rename into an existing version, and vacuum sweeps claims with
    their versions."""
    import tempfile

    from spark_s3_shuffle_spark.operators import maintenance as MT
    from spark_s3_shuffle_spark.operators.maintenance import _fs
    from spark_s3_shuffle_spark.operators.pipeline import shard_assign

    df = spark.range(0, 60).select(
        F.col("id").alias("doc_id"), F.col("id").alias("payload")
    )
    root = tempfile.mkdtemp(prefix="vclaim-") + "/t"
    sharded = shard_assign(df, "doc_id", 2)
    assert MT.write_version(spark, sharded, root) == "v0"

    fs, hroot, jvm = _fs(spark, root)
    P = jvm.org.apache.hadoop.fs.Path
    # a crashed publisher left its claim on v1: the number is skipped
    fs.create(P(f"{root}/.claim-v1"), False).close()
    assert MT.write_version(spark, sharded, root) == "v2"

    # committed claims are retained (re-claiming a used number would let
    # a racer nest its staging dir inside the live version directory)
    assert fs.exists(P(f"{root}/.claim-v0"))
    assert fs.exists(P(f"{root}/.claim-v2"))
    # no staging litter survives a successful publish
    names = [st.getPath().getName() for st in fs.listStatus(hroot)]
    assert not [n for n in names if n.startswith(".stage-")], names

    # publishes are readable and distinct
    assert MT.committed_versions(spark, root) == ["v0", "v2"]
    got = spark.read.parquet(f"{root}/{MT.current_version(spark, root)}")
    assert got.count() == 60

    # vacuum reclaims old versions AND their claim markers
    assert MT.write_version(spark, sharded, root) == "v3"
    doomed = MT.vacuum_versions(spark, root, keep_last=2)
    assert doomed == ["v0"]
    assert not fs.exists(P(f"{root}/.claim-v0"))
    assert fs.exists(P(f"{root}/.claim-v2"))


def test_leakage_safe_split_cluster_atomicity(spark):
    """B78 round-11: every exact-duplicate cluster lands in exactly ONE
    split (the operator's whole point), the doc-id-hash counterfactual
    DOES leak on the same corpus (proving the test can fail), and split
    fractions track the 96/2/2 cuts."""
    # 400 clusters; every 4th text is duplicated across 3 ids with ids
    # spread far apart so naive id-hashing would scatter them.
    rows = []
    nid = 0
    for c in range(400):
        copies = 3 if c % 4 == 0 else 1
        for k in range(copies):
            rows.append((nid + 7919 * k, f"document body number {c}"))
            nid += 1
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = PL.leakage_safe_split(df, ["text"], "doc_id").collect()
    assert len(out) == len(rows)

    by_text_root: dict[int, set] = {}
    for r in out:
        by_text_root.setdefault(r["root"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_text_root.values()), "cluster split across sets"

    # counterfactual: hash each doc id independently (shard_assign over
    # 100 buckets) — on this corpus at least one duplicated cluster MUST
    # straddle the train cut, or the atomicity assertion above is vacuous.
    naive = PL.shard_assign(df, "doc_id", n_shards=100, salt="split").collect()
    naive_split: dict[str, set] = {}
    for r in naive:
        naive_split.setdefault(r["text"], set()).add("train" if r["shard"] < 96 else "eval")
    assert any(len(s) > 1 for s in naive_split.values()), "fixture too easy to show leakage"

    frac = sum(1 for r in out if r["split"] == "train") / len(out)
    assert 0.90 <= frac <= 0.99  # binomial around 0.96
